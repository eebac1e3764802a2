"""Reports queries whose job, stage or task counts differ between two runs.

    python3 perfbench/check_counts.py A.json [B.json]

A and B are traced result files (`.bench_build/results/*-trace1.json`).
With one file, B is the committed table `perfbench/counts.json`. Each
holds, per query, every [jobs, stages, tasks] shape the query ran in the
steady warm passes. The counts do not drift with machine speed. A query
differs if it is missing from one side or A ran a shape that B does not
list, so a query known to flap between two shapes passes while any new
shape is reported. Exits 1 if any query differs.
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def counts_of(path):
    with open(path) as f:
        r = json.load(f)
    if "query_counts" not in r:
        sys.exit(f"{path} is not a traced result")
    return r["workload"], r["query_counts"]


def diff(a, b):
    """[(query, a_shapes, b_shapes)] for every query missing from one side or
    with a shape in `a` that `b` does not list."""
    return [(q, a.get(q), b.get(q)) for q in sorted(set(a) | set(b))
            if q not in a or q not in b or any(c not in b[q] for c in a[q])]


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    wl, a = counts_of(sys.argv[1])
    if len(sys.argv) == 3:
        wl_b, b = counts_of(sys.argv[2])
        if wl_b != wl:
            sys.exit(f"different workloads: {wl} vs {wl_b}")
        label = sys.argv[2]
    else:
        with open(os.path.join(HERE, "counts.json")) as f:
            b = json.load(f).get(wl, {})
        label = "perfbench/counts.json"
    bad = diff(a, b)
    for q, x, y in bad:
        print(f"{wl} {q}: [jobs, stages, tasks] {x} vs {y} in {label}")
    print(f"{wl}: {len(bad)} of {len(set(a) | set(b))} queries differ")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
