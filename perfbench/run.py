"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload relational_short --seed 1 --seconds 20 --trace 0

Builds the engine and the runner from source (`perfbench/build.py`), runs
the runner in one JVM over the project's sf0.01 test tables, checks every query's output digest against
`perfbench/digests.json`, and prints as its last stdout line one JSON object
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones of a run with Spark
listeners attached. Every metric is also printed to stderr by name and
unit, and the full result (run config, failures, per-query counts and conf
changes, tracing overhead) is written under `.bench_build/results/`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402

ROOT = build.ROOT
BUILD = build.BUILD
# The runner JVM gets this long once the build and tables are ready, which keeps
# every run after the first, whose build is a no-op, under 180 s.
DRIVER_DEADLINE_S = 165
HEAP = "4g"
# The project's read-only test tables (TESTDATA.md), the tree graft.Bench
# and graft.Verify read. Both workloads use the same scale factor.
SCALE_FACTOR = 0.01
DATA_DIR = f"/root/testdata/sf{SCALE_FACTOR}"
# The flags build.sbt gives every forked JVM (Spark 4 on JDK 17).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def git_head():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def cpu_steal_s():
    """Seconds of CPU stolen from this machine by its hypervisor, or None."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def run_runner(classes, queries, seed, seconds, trace, raw_path, log_path, deadline):
    """Runs the runner JVM over `queries`; returns its span dump."""
    tmp = os.path.join(BUILD, "tmp", f"{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    extra = os.environ.get("SPARK_GRAFT_EXTRA_JVM", "").split()
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={tmp}/warehouse"]
           + extra
           + ["-cp", f"{classes}:{build.CLASSPATH}", "perfbench.Runner",
              "--data", DATA_DIR, "--queries", ",".join(queries),
              "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--out", raw_path])
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=tmp,
                                 start_new_session=True)
            try:
                rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, 9)
                p.wait()
                raise SystemExit(f"runner exceeded its deadline; log: {log_path}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise SystemExit(f"runner exited {rc}; log {log_path}:\n{tail}")
    with open(raw_path) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    workloads = load_json("workloads.json")
    if a.workload not in workloads:
        sys.exit(f"unknown workload {a.workload!r}; known: {sorted(workloads)}")
    try:
        classes = build.build()
    except build.BuildError as e:
        sys.exit(f"build: {e}")
    if not os.path.isdir(DATA_DIR):
        sys.exit(f"no test tables at {DATA_DIR}")

    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    load_before, steal_before = os.getloadavg()[0], cpu_steal_s()
    raw = run_runner(classes, workloads[a.workload], a.seed, a.seconds, a.trace,
                     stem + ".spans.json", stem + ".log",
                     time.monotonic() + DRIVER_DEADLINE_S)
    load_after, steal_after = os.getloadavg()[0], cpu_steal_s()

    run = metrics.Run(raw)
    failed = metrics.failures(run, load_json("digests.json").get(a.workload, {}))
    e2e, facts = metrics.end_to_end(run, failed)
    report = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "end_to_end": e2e, "facts": facts,
              "failed_queries": failed}
    if a.trace:
        layer = metrics.per_layer(run, failed, raw["config"]["cpus"])
        layer["failed_ratio"] = facts["failed_ratio"]
        report["per_layer"] = layer
        report["query_counts"] = metrics.query_counts(run, failed)
        report["conf_changes"] = {"setup": raw["setup_conf_changes"],
                                  **metrics.conf_changes(run)}
        untraced = f"{stem[:-len('trace1')]}trace0.json"
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]
            report["trace_overhead"] = {k: e2e[k] - base[k] for k in e2e}
        shown, units = layer, metrics.PER_LAYER
    else:
        shown, units = e2e, metrics.END_TO_END
    report["config"] = dict(raw["config"],
                            extra_jvm=os.environ.get("SPARK_GRAFT_EXTRA_JVM"),
                            git_head=git_head(), data_dir=DATA_DIR,
                            scale_factor=SCALE_FACTOR,
                            load_avg_1m={"before": load_before, "after": load_after},
                            cpu_steal_s=(steal_after - steal_before
                                         if steal_before is not None else None))
    with open(stem + ".json", "w") as f:
        json.dump(report, f, indent=1)

    for k in units:
        print(f"{k:34s} {shown[k]:>16.6g} {units[k]}", file=sys.stderr)
    for k, v in report.get("trace_overhead", {}).items():
        print(f"tracing overhead on {k:15s} {v:>+16.6g}", file=sys.stderr)
    for qid, why in failed.items():
        print(f"FAILED {qid}: {why}", file=sys.stderr)
    print(json.dumps({
        "correct": not failed,
        "attempted": facts["attempted"],
        "failed": facts["failed"],
        "metrics": {k: {"value": shown[k], "unit": units[k]} for k in units},
    }))


if __name__ == "__main__":
    main()
