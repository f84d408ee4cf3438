#!/usr/bin/env python3
"""Layout of a snapshot table's visible batches.

    python3 tools/tablelayout.py <table dir>

Folds the table's commit log (_snapshots.jsonl) the way perfbench/run.py's
visible_files does: the committed batches, less those a commit compacts
away, in log order. For each visible batch prints its parquet files, row
groups, rows and bytes, read from the footers with DuckDB's
parquet_metadata, then the totals.
"""
import glob
import json
import os
import sys

import duckdb


def visible_batches(table_dir):
    batches, replaced = [], set()
    with open(os.path.join(table_dir, "_snapshots.jsonl")) as f:
        for line in f:
            c = json.loads(line)
            if c.get("committed") and c["batch"] not in batches:
                batches.append(c["batch"])
            replaced.update(c.get("compacts", []))
    return [b for b in batches if b not in replaced]


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    table_dir = sys.argv[1]
    con = duckdb.connect()
    print(f"{'batch':>15} {'files':>6} {'row_groups':>10} {'rows':>10} {'bytes':>12}")
    total = [0, 0, 0, 0]
    for b in visible_batches(table_dir):
        files = sorted(glob.glob(os.path.join(table_dir, "data", f"batch={b}", "**", "*.parquet"),
                                 recursive=True))
        groups, rows = con.execute(f"""
            SELECT count(*), coalesce(sum(n), 0) FROM (
              SELECT DISTINCT file_name, row_group_id, row_group_num_rows AS n
              FROM parquet_metadata({files}))""").fetchone() if files else (0, 0)
        row = [len(files), groups, rows, sum(os.path.getsize(p) for p in files)]
        total = [t + v for t, v in zip(total, row)]
        print(f"{b:>15} {row[0]:>6} {row[1]:>10} {row[2]:>10} {row[3]:>12}")
    print(f"{'total':>15} {total[0]:>6} {total[1]:>10} {total[2]:>10} {total[3]:>12}")


if __name__ == "__main__":
    main()
