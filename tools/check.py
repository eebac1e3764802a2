#!/usr/bin/env python3
"""Local replica of the driver's DuckDB correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [query ...]

Reads <verifyOutDir>/oracle_sql.json, runs each oracle SQL in DuckDB over the
parquet tables in <sfDir>, reads the Spark result parquet the graft.Verify run
wrote, sorts columns by name on both sides, and compares row count, column
names, and values exactly. Dev tool only — the JVM library has no Python
dependency; the real gate is driver-owned.
"""
import hashlib
import json
import math
import os, sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def compare(name, spark_df, duck_df):
    problems = []
    scols = sorted(spark_df.columns)
    dcols = sorted(duck_df.columns)
    if scols != dcols:
        return [f"schema mismatch: spark={scols} duck={dcols}"]
    if len(spark_df) != len(duck_df):
        return [f"row count: spark={len(spark_df)} duck={len(duck_df)}"]
    s = spark_df[scols]
    d = duck_df[dcols]
    for ci, c in enumerate(scols):
        sv = s[c].tolist()
        dv = d[c].tolist()
        for ri, (a, b) in enumerate(zip(sv, dv)):
            a, b = norm_cell(a), norm_cell(b)
            if a is None and b is None:
                continue
            if (a is None) != (b is None):
                problems.append(f"row {ri} col {c}: spark={a!r} duck={b!r}")
            elif isinstance(a, float) or isinstance(b, float):
                try:
                    fa, fb = float(a), float(b)
                except (TypeError, ValueError):
                    problems.append(f"row {ri} col {c}: spark={a!r} duck={b!r}")
                    continue
                if fa != fb and not (math.isnan(fa) and math.isnan(fb)):
                    problems.append(
                        f"row {ri} col {c}: spark={fa!r} duck={fb!r} "
                        f"(diff={fa - fb:.3e})")
            elif str(a) != str(b):
                problems.append(f"row {ri} col {c}: spark={a!r} duck={b!r}")
            if len(problems) >= 5:
                return problems
    return problems


BASELINE_CEILING_SEC = 120.0   # 2x the declared 60 s total (BASELINE.md)
CANARY_HEALTHY_MAX = 1.15      # above this the box is drifting
DRIFT_CREDIT_MAX = 2.0         # max drift ratio a normalized pass may claim


def check_bench_capture(bench_path, oracle_json_path):
    """Fail unless the bench envelope is self-contained AND self-adjudicating.

    Usage: python3 tools/check.py --bench <BENCH_FULL_rNN.json> <verifyOut>/oracle_sql.json

    Coverage (VERDICT r15 item 3): the capture must carry EVERY registry
    query plus both raw samples and load averages — the driver's 2000-char
    stdout tail cannot hold the full per-query map.

    Drift adjudication (VERDICT r18 item 1, hardened per VERDICT r19 item 3
    + ADVICE r19; re-pinned r22 per VERDICT r20 item 1): the capture must
    carry TWO independent in-run drift estimators — the 16-row pinned
    canary AND the median ratio over every code-present row vs the
    committed pin envelope ("allrows", BENCH_PIN_r22.json; both estimators
    are compounded by the pin capture's own 1.074 ratio vs the r17
    drift-free box, so the 1.15/2.0 thresholds keep their r17 calibration).
    The gate uses the MORE CONSERVATIVE (smaller) of the two: a normalized
    pass must survive the estimator granting the least drift credit.
    Additionally the credit is CAPPED at 2.0x: the estimators run on the
    same harness/JVM/config stack as the benchmark itself, so an unbounded
    normalization would let a repo-wide infrastructure regression be waved
    through as machine drift. Gate: raw total under the 120 s ceiling, OR
    (drift proven, conservative ratio in (1.15, 2.0]) normalized total
    under the ceiling. A capture that fails both is a real breach.
    """
    with open(bench_path) as f:
        bench = json.load(f)
    with open(oracle_json_path) as f:
        registry = set(json.load(f))
    failed = bench.get("failed") or []
    if failed:
        print(f"FAIL bench capture {bench_path}: {len(failed)} rows failed "
              f"every sample ({', '.join(failed)}) — a capture with failed "
              f"rows measures less than the registry")
        sys.exit(1)
    got = set(bench.get("queries", {}))
    missing = sorted(registry - got)
    if missing or "load_avg_1m" not in bench or "samples" not in bench:
        print(f"FAIL bench capture {bench_path}: missing queries={missing} "
              f"load={'load_avg_1m' in bench} samples={'samples' in bench}")
        sys.exit(1)
    canary = bench.get("canary") or {}
    ratio = canary.get("ratio")
    if ratio is None or canary.get("n", 0) < 8:
        print(f"FAIL bench capture {bench_path}: no usable drift canary "
              f"(canary={canary}) — an official capture must adjudicate "
              f"its own machine state")
        sys.exit(1)
    allrows = canary.get("allrows") or {}
    all_ratio = allrows.get("ratio")
    if all_ratio is None or allrows.get("n", 0) < 32:
        print(f"FAIL bench capture {bench_path}: no all-rows drift estimator "
              f"(allrows={allrows}) — the capture must carry BOTH the 16-row "
              f"canary and the all-rows median vs the committed pin envelope")
        sys.exit(1)
    cons = min(ratio, all_ratio)
    stamped = canary.get("ratio_conservative")
    if stamped is not None and abs(stamped - cons) > 0.005:
        print(f"FAIL bench capture {bench_path}: stamped ratio_conservative "
              f"{stamped} != min(canary {ratio}, allrows {all_ratio})")
        sys.exit(1)
    # Canary source tripwire (VERDICT r20 item 1, mechanized r22): the drift
    # estimators are only meaningful while the canary rows' implementations
    # match the committed pin envelope. tools/canary_pins.json records the
    # sha256 of every source file hosting a canary row at the last re-pin;
    # a capture taken after an un-acknowledged edit to one of them is
    # rejected. A missing pins file fails too: the tripwire must never be
    # skipped without a word.
    pins_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "canary_pins.json")
    if not os.path.exists(pins_path):
        print(f"FAIL bench capture {bench_path}: {pins_path} is missing — "
              f"the canary source tripwire cannot run")
        sys.exit(1)
    with open(pins_path) as f:
        pins = json.load(f)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    changed = []
    for rel, want in sorted(pins.get("files", {}).items()):
        p = os.path.join(repo_root, rel)
        if not os.path.exists(p):
            changed.append(f"{rel} (missing)")
            continue
        with open(p, "rb") as f:
            have = hashlib.sha256(f.read()).hexdigest()
        if have != want:
            changed.append(rel)
    if changed:
        print(f"FAIL bench capture {bench_path}: canary-row source "
              f"changed without a re-pin ack — {', '.join(changed)} "
              f"no longer match tools/canary_pins.json; either revert, "
              f"or re-pin and update the hash in the same commit")
        sys.exit(1)
    # Core-count gate: the pin envelope is a capture on `pin_master`; a run
    # on another master reads its core-count gap as machine drift (a
    # local[4] capture vs the local[32] pin read 2.1-2.8), so its ratios
    # are not comparable. A capture from before the `run` stamp cannot be
    # checked and is said so.
    pin_master = pins.get("pin_master")
    if not pin_master:
        print(f"FAIL bench capture {bench_path}: {pins_path} has no "
              f"pin_master — the core-count check cannot run")
        sys.exit(1)
    run_master = (bench.get("run") or {}).get("master")
    if run_master is None:
        master_note = (f"; no run.master stamped (capture predates the run "
                       f"block), core-count check vs pin {pin_master} skipped")
    elif run_master != pin_master:
        print(f"FAIL bench capture {bench_path}: run.master {run_master} "
              f"differs from the pin's {pin_master} — drift ratios across a "
              f"core-count gap are not machine drift")
        sys.exit(1)
    else:
        master_note = f"; master {run_master} matches the pin"
    total = bench["value"]
    norm = total / max(cons, 1.0)
    agree = max(ratio, all_ratio) / max(min(ratio, all_ratio), 1e-9)
    est = (f"canary {ratio:.3f} / allrows[n={allrows['n']}] {all_ratio:.3f} "
           f"(agreement x{agree:.2f}, conservative {cons:.3f})")
    if total < BASELINE_CEILING_SEC and cons <= CANARY_HEALTHY_MAX:
        verdict = (f"raw PASS: total {total:.1f}s < {BASELINE_CEILING_SEC:.0f}s "
                   f"on a healthy box ({est})")
    elif total < BASELINE_CEILING_SEC:
        verdict = (f"raw PASS with drift flag: total {total:.1f}s < "
                   f"{BASELINE_CEILING_SEC:.0f}s despite {est}")
    elif (CANARY_HEALTHY_MAX < cons <= DRIFT_CREDIT_MAX
          and norm < BASELINE_CEILING_SEC):
        verdict = (f"drift-normalized PASS: raw {total:.1f}s on a box both "
                   f"estimators call drifted ({est}) -> normalized "
                   f"{norm:.1f}s < {BASELINE_CEILING_SEC:.0f}s")
    else:
        why = ("drift credit capped at "
               f"{DRIFT_CREDIT_MAX} (claimed {cons:.3f})"
               if cons > DRIFT_CREDIT_MAX else
               f"{est} does not explain it (normalized {norm:.1f}s)")
        print(f"FAIL bench capture {bench_path}: total {total:.1f}s >= "
              f"{BASELINE_CEILING_SEC:.0f}s and {why}")
        sys.exit(1)
    print(f"PASS bench capture: {len(got)} queries cover all "
          f"{len(registry)} registry ids, samples + load averages present; "
          f"{verdict}{master_note}")
    sys.exit(0)


def main():
    if sys.argv[1] == "--bench":
        check_bench_capture(sys.argv[2], sys.argv[3])
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        # Driver testdata is a single file per table; ScaleGen dirs hold
        # part files — glob the dir form so scale-probe dirs work too.
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    n_pass = n_fail = 0
    for name, sql in sorted(oracles.items()):
        if only and name not in only:
            continue
        try:
            duck = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        try:
            spark = con.execute(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
        except Exception as e:
            print(f"FAIL {name}: spark result missing: {e}")
            n_fail += 1
            continue
        problems = compare(name, spark, duck)
        if problems:
            print(f"FAIL {name} ({len(spark)} spark rows, {len(duck)} duck rows)")
            for p in problems:
                print(f"   {p}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(duck)} rows)")
            n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
