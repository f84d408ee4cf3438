#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload cycle|suite_eager \
        --seed N --seconds S --trace 0|1 [--artifact FILE]

Builds the engine and the harness from source (perfbench/build.sbt, skipped
when nothing changed), generates the suite tables (perfbench/gen_data.py),
runs one harness process and prints one JSON line as the last line of
stdout: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics, with --trace 1 the per-layer ones; the
traced run also writes its spans to --artifact (default
perfbench/.work/<workload>-trace.json). --seconds defaults to BENCHMARK.json's
run_seconds. A harness that does not finish in time still gets a result
line: every metric 0, counted as one failed op. Everything the run writes stays
under perfbench/.work and perfbench/target.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
SUITE_SF = 0.01
HEAP = "2g"
HARNESS_BUDGET_S = 165  # one run must end within 180 s once built
OPENS = ["java.base/" + p for p in (
    "java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util "
    "java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs "
    "sun.security.action sun.util.calendar").split()]
END_TO_END = [("setup_s", "s"), ("ops_per_s", "1/s"), ("pass_ratio", "ratio"), ("heap_live_mb", "MiB")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the engine's own build.sbt uses."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', open(os.path.join(ROOT, "build.sbt")).read())
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        die("Spark jars not found: set SPARK_HOME")
    return jars


def build():
    """Compile engine + harness with sbt unless the sources are unchanged."""
    srcs = [p for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"))
            for p in glob.glob(os.path.join(d, "**", "*"), recursive=True) if os.path.isfile(p)]
    srcs += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    stamp = tree_hash(srcs)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.isdir(CLASSES):
        return
    log("building engine and harness (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_JARS=spark_jars())
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "-Dsbt.override.build.repos=true", "-Dsbt.offline=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd.append(f"-Dsbt.repository.config={repos}")
    r = subprocess.run(cmd + ["compile"], cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        die("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def suite_data():
    """The suite tables, generated once per generator version."""
    gen = os.path.join(HERE, "gen_data.py")
    out = os.path.join(WORK, "data", f"sf{SUITE_SF}-{tree_hash([gen])[:12]}")
    if not os.path.exists(os.path.join(out, "_done")):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, gen, out, str(SUITE_SF)], check=True)
        open(os.path.join(out, "_done"), "w").close()
    return out


def harness(mode, opts, workdir, log_path, timeout):
    """Run the harness JVM; returns its report (the last stdout line), or
    None when it had to be killed after `timeout` seconds."""
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC"]
    for p in OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={workdir}/tmp", f"-Dspark.local.dir={workdir}/tmp",
            f"-Dspark.sql.warehouse.dir={workdir}/warehouse", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-Dlog4j2.level=warn",
            "-cp", f"{CLASSES}:{spark_jars()}/*", "perfbench.Harness", mode]
    for k, v in opts.items():
        cmd += [f"--{k}", str(v)]
    nproc = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc), SPARK_GRAFT_DATA_ROOT=os.path.join(WORK, "data"))
    env.pop("SPARK_GRAFT_CONF", None)
    with open(log_path, "w") as err:
        try:
            r = subprocess.run(cmd, cwd=workdir, env=env, stdout=subprocess.PIPE, stderr=err,
                               text=True, timeout=timeout)
        except subprocess.TimeoutExpired:
            sys.stderr.write(open(log_path).read()[-4000:])
            log(f"harness killed after {timeout:.0f} s")
            return None
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(open(log_path).read()[-4000:])
        die(f"harness exited {r.returncode}")
    return json.loads(lines[-1])


STATS_SQL = """
SELECT symbol, count(*) AS trade_count,
       floor(CAST(sum(CAST(round(price * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 / count(*) * 100 + 0.5) / 100
         AS avg_price,
       round(min(price), 2) AS min_price, round(max(price), 2) AS max_price,
       CAST(sum(qty) AS BIGINT) AS total_volume,
       count(CASE WHEN side = 'BUY' THEN 1 END) AS buy_count,
       count(CASE WHEN side = 'SELL' THEN 1 END) AS sell_count,
       CAST(min(ts_event) AS VARCHAR) AS first_trade_time,
       CAST(max(ts_event) AS VARCHAR) AS last_trade_time
FROM read_parquet({files}, hive_partitioning = false)
GROUP BY symbol ORDER BY symbol
"""


def visible_files(table_dir):
    """Parquet files of the committed, not compacted-away snapshots."""
    batches, replaced = set(), set()
    with open(os.path.join(table_dir, "_snapshots.jsonl")) as f:
        for line in f:
            c = json.loads(line)
            if c.get("committed"):
                batches.add(c["batch"])
            replaced.update(c.get("compacts", []))
    return sorted(p for b in batches - replaced
                  for p in glob.glob(os.path.join(table_dir, "data", f"batch={b}", "**", "*.parquet"),
                                     recursive=True))


def duckdb_check(report):
    """The final analytics table (latest row per symbol) must equal DuckDB's
    run of the same query over the committed trades parquet files."""
    import duckdb
    info = report["info"]
    con = duckdb.connect()
    want = con.execute(STATS_SQL.format(files=visible_files(info["final_trades"]))).fetchall()
    cols = ("symbol, trade_count, avg_price, min_price, max_price, total_volume, buy_count, "
            "sell_count, first_trade_time, last_trade_time")
    got = con.execute(f"""
        SELECT {cols} FROM (
          SELECT *, row_number() OVER (PARTITION BY symbol ORDER BY trade_count DESC) AS rk
          FROM read_parquet({visible_files(info["final_table"])}, hive_partitioning = false))
        WHERE rk = 1 ORDER BY symbol""").fetchall()

    def same(a, b):
        return len(a) == len(b) and all(
            (abs(x - y) < 1e-9) if isinstance(x, float) else x == y for x, y in zip(a, b))
    ok = len(want) == 8 and len(got) == 8 and all(same(a, b) for a, b in zip(got, want))
    if not ok:
        log(f"DuckDB cross-check failed:\n spark  {got}\n duckdb {want}")
    return ok


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["cycle", "suite_eager"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--artifact")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"engine sources not found under {ROOT}/src/main/scala; run from a full checkout")
    if shutil.which("java") is None:
        die("java is missing")
    spark_jars()
    build()
    workdir = os.path.join(WORK, f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    opts = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace, "work": workdir}
    if a.trace:
        opts["artifact"] = os.path.abspath(a.artifact or os.path.join(WORK, f"{a.workload}-trace.json"))
    if a.workload == "cycle":
        mode = "cycle"
    else:
        mode = "suite"
        opts.update(data=suite_data(), keys=os.path.join(HERE, "suites.json"), set=a.workload)
    rep = harness(mode, opts, workdir, os.path.join(workdir, "harness.log"), HARNESS_BUDGET_S)
    if rep is not None and a.trace:
        # paths relative to the checkout, so artifacts of two checkouts diff cleanly
        with open(opts["artifact"]) as f:
            doc = f.read().replace(ROOT + os.sep, "")
        with open(opts["artifact"], "w") as f:
            f.write(doc)
    if rep is None:
        names = [m["name"] for m in bench["per_layer" if a.trace else "end_to_end"]]
        units = {m["name"]: m["unit"] for m in bench["per_layer"] + bench["end_to_end"]}
        shutil.rmtree(workdir, ignore_errors=True)
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1,
                          "metrics": {k: {"value": 0.0, "unit": units[k]} for k in names}}))
        return
    oks = rep["ok"]
    attempted, passed = len(oks), sum(oks)
    correct = passed == attempted
    if a.workload == "cycle":
        try:
            correct = duckdb_check(rep) and correct
        except Exception as e:  # missing tables after failed ops: fail the check, print the metrics
            log(f"DuckDB cross-check failed: {e}")
            correct = False
    lat = rep["ops"]
    if a.trace:
        metrics = rep["layers"]
    else:
        values = {"setup_s": rep["setup_s"], "ops_per_s": passed / rep["window_s"],
                  "pass_ratio": passed / attempted, "heap_live_mb": rep["heap_live_mb"]}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
    run = {k: rep[k] for k in ("nproc", "task_threads", "client_threads", "conf", "info", "window_s")}
    run.update(workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace, samples=attempted,
               setup_s=rep["setup_s"], op_ms=[round(x, 3) for x in lat], op_keys=rep["keys"])
    print(json.dumps({"run": run}))
    shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": attempted - passed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
