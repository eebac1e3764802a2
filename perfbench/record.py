"""Re-records the committed tables from traced runs' result files.

    python3 perfbench/record.py <workload> <seed> [<seed> ...]

Copies the output digests of `<workload>-seed<seed>-trace1` into
`perfbench/digests.json`, and the per-query job, stage and task shapes of
all the named runs into `perfbench/counts.json`. Several runs list a shape
that flaps from run to run. The runs must agree on every digest. Run it
only after a change that is meant to alter query outputs or job shapes,
and review the diff.
"""
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402

RESULTS = os.path.join(os.path.dirname(HERE), ".bench_build", "results")


def update(name, workload, value):
    path = os.path.join(HERE, name)
    with open(path) as f:
        table = json.load(f)
    table[workload] = value
    text = json.dumps(table, indent=1, sort_keys=True)
    # One line per query: put each query's list of [jobs, stages, tasks]
    # shapes on one line.
    text = re.sub(r"\[\s*(\[[^\[\]]*\]\s*,?\s*)+\]",
                  lambda m: json.dumps(json.loads(m.group(0))), text)
    with open(path, "w") as f:
        f.write(text + "\n")


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    workload, seeds = sys.argv[1], sys.argv[2:]
    digests, shapes = None, {}
    for seed in seeds:
        with open(os.path.join(RESULTS, f"{workload}-seed{seed}-trace1.spans.json")) as f:
            raw = json.load(f)
        bad = {q: d for q, d in raw["digests"].items() if d.startswith("error:")}
        if bad:
            sys.exit(f"refusing to record failing queries: {bad}")
        if digests is not None and raw["digests"] != digests:
            sys.exit(f"seed {seed} disagrees with seed {seeds[0]} on some digest")
        digests = raw["digests"]
        for q, cs in metrics.query_counts(metrics.Run(raw), {}).items():
            shapes[q] = sorted(set(map(tuple, shapes.get(q, []))) | set(map(tuple, cs)))
    update("digests.json", workload, digests)
    update("counts.json", workload, {q: [list(c) for c in cs] for q, cs in sorted(shapes.items())})


if __name__ == "__main__":
    main()
