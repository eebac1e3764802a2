#!/usr/bin/env python3
"""Build BENCH_SCALE.json from two graft.Bench JSON lines at different scales.

Usage: python3 tools/bench_scale.py <small.json> <big.json> <factor> > BENCH_SCALE.json

For each query: slope = t_big / t_small. With a KxF data-size factor F, a
perfectly linear query has slope <= F (usually far below, because fixed
per-query overhead — session, planning, small shuffles — dominates at these
toy sizes). Queries flagged super-linear are those with slope > F and
t_big large enough to matter (> 1s), i.e. not fixed-overhead noise.
Dev tool only; the JVM library has no Python dependency.
"""
import json
import sys


def main():
    small_path, big_path, factor = sys.argv[1], sys.argv[2], float(sys.argv[3])
    small = json.load(open(small_path))
    big = json.load(open(big_path))
    # Queries the registry DECLARES output-linear (Q.outputLinear, emitted
    # by graft.Bench as "output_linear"): their result volume scales with
    # the input by design, so a slope tracking the data factor is the
    # EXPECTED price of the presentation-sorted output, not a regression.
    # They are reported separately instead of flagged (VERDICT r14 item 8).
    declared_linear = set(small.get("output_linear", [])) | \
        set(big.get("output_linear", []))
    qs = {}
    flagged = []
    expected_linear = []
    for name, t_small in sorted(small["queries"].items()):
        # A query absent from the big capture (added/removed between runs)
        # is skipped; a PRESENT-but-null timing is a FAILURE at that scale
        # (a null timing marks a failed run) and must be reported, not dropped —
        # `.get(name) is None` cannot tell the two apart.
        if name not in big["queries"]:
            continue
        t_big = big["queries"][name]
        if not isinstance(t_small, (int, float)) or not isinstance(t_big, (int, float)):
            qs[name] = {"t_small": t_small, "t_big": t_big, "slope": None,
                        "failed": True}
            flagged.append(name + " (failed)")
            continue
        slope = round(t_big / t_small, 2) if t_small > 0 else None
        qs[name] = {"t_small": round(t_small, 3), "t_big": round(t_big, 3),
                    "slope": slope}
        if slope is not None and slope > factor and t_big > 1.0:
            if name in declared_linear:
                expected_linear.append(name)
                qs[name]["output_linear"] = True
            else:
                flagged.append(name)
    # Totals over the SHARED query set only, so a query present on one side
    # only (added/removed between captures) cannot skew the slope.
    ts = sum(v["t_small"] for v in qs.values() if not v.get("failed"))
    tb = sum(v["t_big"] for v in qs.values() if not v.get("failed"))
    out = {
        "metric": "bench_scale",
        "sf_small": small["sf"],
        "sf_big": big["sf"],
        "data_factor": factor,
        "total_small": round(ts, 2),
        "total_big": round(tb, 2),
        "total_slope": round(tb / ts, 2) if ts > 0 else None,
        "flagged_superlinear": flagged,
        "expected_output_linear": expected_linear,
        "queries": qs,
    }
    json.dump(out, sys.stdout, indent=1)
    print()


if __name__ == "__main__":
    main()
