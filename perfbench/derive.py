#!/usr/bin/env python3
"""Re-derives perfbench/suites.json: the eager/lazy split of every query key,
the frozen key subset the suite_eager workload times, and its goldens.

    python3 perfbench/derive.py [--check]

Runs the harness in `split` mode (traced; a hot warm-up pass and a settle
pass, then two passes counting each key's build-time Spark jobs and two
passes fingerprinting each key's result). A key whose build fired at least
one job is eager, every other key is lazy. The eager keys are ordered by
settled-hot op latency and every STRIDE-th key (the middle of each stratum)
is timed, so the subset spans the set's latency range. The subset is
frozen: a re-derivation keeps the timed keys of the existing file (delete
the file to select afresh). Keys with a DuckDB twin carry a golden fingerprint; the
others are checked for rows only. With --check
the file is left alone and the exit code says whether a fresh derivation
reproduces its split, build-job counts and the timed keys' goldens (subset
membership itself rests on latencies, so it is frozen, not re-checked).
"""
import json
import os
import sys

import run

STRIDE = 9
RULE = ("a key is eager when building it (the SparkEntry.queries call) fired at least one Spark job in a "
        "settled hot pass (tableCache=memory, after a warm-up pass and a settle pass); every other key is lazy")
SUBSET_RULE = ("eager keys sorted by settled-hot op latency (hot_ms, then name); the workload times every "
               "STRIDE-th key, starting at STRIDE // 2")


def split_run():
    """Raw split-mode output: per key build_jobs (two passes), hot_ms, rows, hash."""
    run.build()
    work = os.path.join(run.WORK, "split")
    os.makedirs(work, exist_ok=True)
    out = os.path.join(work, "split.json")
    run.harness("split", {"trace": 1, "data": run.suite_data(), "out": out, "work": work},
                work, os.path.join(work, "harness.log"), timeout=1800)
    return json.load(open(out))


def document(raw, keep=None):
    unstable = sorted(k for k, v in raw.items() if v["build_jobs"][0] != v["build_jobs"][1])
    if unstable:
        run.die(f"build-job counts differ between two passes: {unstable}")
    split = {k: {"build_jobs": v["build_jobs"][0], "hot_ms": v["hot_ms"]} for k, v in sorted(raw.items())}
    doc = {"rule": RULE, "subset_rule": SUBSET_RULE, "stride": STRIDE, "sf": run.SUITE_SF}
    keys = [k for _, k in sorted((v["hot_ms"], k) for k, v in split.items() if v["build_jobs"] > 0)]
    keys = list(keep["suite_eager"]) if keep else keys[STRIDE // 2::STRIDE]
    doc["suite_eager"] = {k: {"build_jobs": split[k]["build_jobs"], "twin": raw[k]["twin"], "rows": raw[k]["rows"],
                              "hash": raw[k]["hash"]} for k in keys}
    doc["split"] = split
    return doc


def main():
    path = os.path.join(run.HERE, "suites.json")
    raw = split_run()
    if "--check" in sys.argv:
        old = json.load(open(path))
        fresh = document(raw)
        diff = sorted(k for k, v in fresh["split"].items() if old["split"][k]["build_jobs"] != v["build_jobs"])
        diff += sorted(k for k, v in old["suite_eager"].items()
                       if (v["twin"], v["rows"], v["hash"]) != (raw[k]["twin"], raw[k]["rows"], raw[k]["hash"]))
        print("suites.json reproduced" if not diff else f"suites.json differs on {diff}")
        sys.exit(1 if diff else 0)
    doc = document(raw, json.load(open(path)) if os.path.exists(path) else None)
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")
    eager = sum(1 for v in doc["split"].values() if v["build_jobs"] > 0)
    print(f"eager {eager} keys, lazy {len(doc['split']) - eager} keys; suite_eager times {len(doc['suite_eager'])}")


if __name__ == "__main__":
    main()
