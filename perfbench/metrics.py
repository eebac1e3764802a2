"""Turns the runner's span dump into the benchmark's metrics.

The runner (`perfbench/src/perfbench/Runner.scala`) records spans only:
`run` > `setup` > `session` / `native.install` / `tables.load:<t>`,
`run` > `pass:<i>` > `query:<id>` > `build` / `action`, and `run` > `verify`.
A traced run adds `job:<n>` > `stage:<n>`, `catalyst.<phase>` and
`microbatch` spans under the `build` or `action` span they happened in.
Everything here is arithmetic over those spans; nothing re-measures.
"""
import statistics
from collections import defaultdict

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "query_p50_s": "s",
    "peak_heap_mb": "MiB",
}

PER_LAYER = {
    "Tables.load_ms": "ms",
    "Tables.cached_mb": "MiB",
    "functions.Native.install_ms": "ms",
    "Registry.build_ms": "ms",
    "Registry.build_jobs": "count",
    "Registry.build_share": "ratio",
    "queries.Staged.cold_extra_ms": "ms",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.stages_skipped": "count",
    "scheduler.tasks": "count",
    "scheduler.task_failures": "count",
    "scheduler.tasks_per_stage": "ratio",
    "scheduler.task_launch_delay_ms": "ms",
    "executor.busy_frac": "ratio",
    "executor.task_cpu_ms": "ms",
    "executor.task_run_ms": "ms",
    "executor.task_gc_ms": "ms",
    "executor.deser_ms": "ms",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.spill_memory_bytes": "bytes",
    "shuffle.spill_disk_bytes": "bytes",
    "streaming.batches": "count",
    "streaming.microbatch_p50_ms": "ms",
    "streaming.microbatch_p90_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count",
    "sink.output_bytes": "bytes",
    "sink.output_records": "count",
    "jvm.gc_ms": "ms",
    "jvm.jit_ms": "ms",
    "jvm.heap_after_gc_mb": "MiB",
    "failed_ratio": "ratio",
}

# Stage attributes summed per pass, by the per-layer metric they feed.
STAGE_SUMS = {
    "executor.task_cpu_ms": "cpu_ms",
    "executor.task_run_ms": "run_ms",
    "executor.task_gc_ms": "gc_ms",
    "executor.deser_ms": "deser_ms",
    "shuffle.write_bytes": "shuffle_write_bytes",
    "shuffle.read_bytes": "shuffle_read_bytes",
    "shuffle.spill_memory_bytes": "spill_memory_bytes",
    "shuffle.spill_disk_bytes": "spill_disk_bytes",
    "sink.output_bytes": "output_bytes",
    "sink.output_records": "output_records",
    "scheduler.tasks": "tasks",
    "scheduler.task_failures": "task_failures",
}

# Micro-batch `durationMs` entries summed per pass.
BATCH_SUMS = {
    "streaming.add_batch_ms": "addBatch.ms",
    "streaming.query_planning_ms": "queryPlanning.ms",
    "streaming.wal_commit_ms": "walCommit.ms",
    "streaming.commit_offsets_ms": "commitOffsets.ms",
    "streaming.state_commit_ms": "state_commit_ms",
    "streaming.state_rows": "state_rows",
}


def dur_ms(s):
    return s["end_ms"] - s["start_ms"]


def percentile(xs, p):
    """Linear-interpolated percentile, p in [0, 100]."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def highest_supported_percentile(n, tail=10):
    """Highest whole percentile with at least `tail` of n samples above it."""
    return max(0, int(100 * (n - tail) / n)) if n > tail else 0


class Run:
    """Indexes one span dump."""

    def __init__(self, raw):
        self.raw = raw
        self.spans = raw["spans"]
        self.kids = defaultdict(list)
        for s in self.spans:
            self.kids[s["parent"]].append(s)
        top = self.kids[-1][0]["id"] if self.kids[-1] else -1
        under_run = self.kids[top]
        self.setup = next(s for s in under_run if s["name"] == "setup")
        self.passes = sorted((s for s in under_run if s["name"].startswith("pass:")),
                             key=lambda s: int(s["name"].split(":")[1]))
        self.queries = {p["id"]: [q for q in self.kids[p["id"]]
                                  if q["name"].startswith("query:")]
                        for p in self.passes}
        # Warm metrics use `warm_passes` warm passes, however many ran: the
        # first clean ones (little CPU stolen by the hypervisor), then the
        # least stolen, so every run reports about the same stretch of the
        # JIT's warm-up and a steal episode counts only when it lasted.
        warm = self.passes[1:]
        by_noise = sorted(range(len(warm)), key=lambda i: (
            0.0 if warm[i].get("attrs", {}).get("clean", True) else
            warm[i]["attrs"]["steal_s"] / max(dur_ms(warm[i]) / 1000, 1e-9), i))
        self.steady = {warm[i]["id"] for i in by_noise[:raw["config"]["warm_passes"]]}
        # Heap readings come from set-up and the same fixed stretch of passes:
        # Spark's status store grows with every query run, so a run that
        # made more passes would read a little higher.
        self.heap_spans = [self.setup] + self.passes[:1 + raw["config"]["warm_passes"]]

    def descendants(self, span, prefix):
        out, stack = [], list(self.kids[span["id"]])
        while stack:
            s = stack.pop()
            if s["name"].startswith(prefix):
                out.append(s)
            stack.extend(self.kids[s["id"]])
        return out

    def child(self, q, name):
        return next((c for c in self.kids[q["id"]] if c["name"] == name), None)


def failures(run, committed):
    """Query id -> reason, for every id that threw or whose digest differs
    from the committed table (or is missing from it)."""
    failed = {}
    for qs in run.queries.values():
        for q in qs:
            a = q.get("attrs", {})
            if not a.get("ok"):
                failed.setdefault(a["id"], "threw: " + str(a.get("error")))
    for qid, d in run.raw["digests"].items():
        if qid in failed:
            continue
        want = committed.get(qid)
        if want is None:
            failed[qid] = "no committed digest"
        elif d != want:
            failed[qid] = f"digest {d} != committed {want}"
    return failed


def end_to_end(run, failed):
    """End-to-end metrics plus the facts behind them. A failed query is
    counted in `failed` and contributes no timing sample."""
    attempted = sum(len(qs) for qs in run.queries.values())
    n_failed = sum(1 for qs in run.queries.values() for q in qs
                   if q["attrs"]["id"] in failed)
    pass_s = []
    steady_pass_s = []
    warm_samples = []
    for p in run.passes:
        walls = [dur_ms(q) / 1000 for q in run.queries[p["id"]]
                 if q["attrs"]["id"] not in failed]
        pass_s.append(sum(walls))
        if p["id"] in run.steady:
            steady_pass_s.append(sum(walls))
            warm_samples.extend(walls)
    heap = [s["attrs"]["old_gen_mb"] for s in run.heap_spans]
    m = {
        "setup_s": run.setup["attrs"]["setup_s"],
        "cold_pass_s": pass_s[0],
        "warm_pass_s": statistics.median(steady_pass_s),
        "query_p50_s": percentile(warm_samples, 50),
        "peak_heap_mb": max(heap),
    }
    tail = highest_supported_percentile(len(warm_samples))
    facts = {
        "attempted": attempted,
        "failed": n_failed,
        "failed_ratio": n_failed / attempted if attempted else 0.0,
        "warm_passes": len(pass_s) - 1,
        "pass_s": pass_s,
        # CPU seconds other processes used and the hypervisor stole during
        # each pass, when the machine reports them.
        "pass_others_cpu_s": [p.get("attrs", {}).get("others_cpu_s") for p in run.passes],
        "pass_steal_s": [p.get("attrs", {}).get("steal_s") for p in run.passes],
        "steady_passes": [i for i, p in enumerate(run.passes) if p["id"] in run.steady],
        "warm_query_samples": len(warm_samples),
        # The highest percentile with ten samples above it, if any lies
        # above the median.
        "query_tail": ({"percentile": tail, "value_s": percentile(warm_samples, tail)}
                       if tail > 50 else None),
    }
    return m, facts


def per_layer(run, failed, cpus):
    """Per-layer metrics of a traced run: medians over the steady warm passes
    of each layer's per-pass totals, except where a metric names another
    scope."""
    per_pass = defaultdict(list)
    batch_ms = []
    cold_build = defaultdict(float)
    warm_build = defaultdict(list)
    for i, p in enumerate(run.passes):
        steady = p["id"] in run.steady
        t = defaultdict(float)
        wall_ms = 0.0
        for q in run.queries[p["id"]]:
            qid = q["attrs"]["id"]
            if qid in failed:
                continue
            wall_ms += dur_ms(q)
            b = run.child(q, "build")
            b_ms = dur_ms(b) if b else 0.0
            t["build_ms"] += b_ms
            if i == 0:
                cold_build[qid] = b_ms
            elif steady:
                warm_build[qid].append(b_ms)
            if b:
                t["build_jobs"] += len(run.descendants(b, "job:"))
            for phase in ("analysis", "optimization", "planning"):
                t[f"catalyst.{phase}_ms"] += sum(
                    dur_ms(c) for c in run.descendants(q, f"catalyst.{phase}"))
            for job in run.descendants(q, "job:"):
                t["jobs"] += 1
                t["stages_skipped"] += job.get("attrs", {}).get("stages_skipped", 0)
            for st in run.descendants(q, "stage:"):
                a = st.get("attrs", {})
                t["stages"] += 1
                t["launch_delay_ms"] += a.get("launch_delay_ms", 0.0)
                for metric, key in STAGE_SUMS.items():
                    t[metric] += a.get(key, 0.0)
            for mb in run.descendants(q, "microbatch"):
                a = mb.get("attrs", {})
                t["batches"] += 1
                for metric, key in BATCH_SUMS.items():
                    t[metric] += a.get(key, 0.0)
                if steady:
                    batch_ms.append(a.get("triggerExecution.ms", dur_ms(mb)))
        t["wall_ms"] = wall_ms
        if steady:
            for k, v in t.items():
                per_pass[k].append(v)

    def med(k):
        return statistics.median(per_pass[k]) if per_pass[k] else 0.0

    def ratio(num, den):
        return [n / d if d else 0.0 for n, d in zip(per_pass[num], per_pass[den])]

    launch = sum(per_pass["launch_delay_ms"])
    tasks = sum(per_pass["scheduler.tasks"])
    setup = run.setup
    m = {
        "Tables.load_ms": sum(dur_ms(c) for c in run.kids[setup["id"]]
                              if c["name"].startswith("tables.load:")),
        "Tables.cached_mb": setup["attrs"]["cached_mb"],
        "functions.Native.install_ms": dur_ms(run.child(setup, "native.install")),
        "Registry.build_ms": med("build_ms"),
        "Registry.build_jobs": med("build_jobs"),
        "Registry.build_share": statistics.median(ratio("build_ms", "wall_ms") or [0.0]),
        "queries.Staged.cold_extra_ms": sum(
            cold_build[q] - statistics.median(warm_build[q])
            for q in cold_build if warm_build[q]),
        "catalyst.analysis_ms": med("catalyst.analysis_ms"),
        "catalyst.optimization_ms": med("catalyst.optimization_ms"),
        "catalyst.planning_ms": med("catalyst.planning_ms"),
        "scheduler.jobs": med("jobs"),
        "scheduler.stages": med("stages"),
        "scheduler.stages_skipped": med("stages_skipped"),
        "scheduler.tasks_per_stage": statistics.median(
            ratio("scheduler.tasks", "stages") or [0.0]),
        "scheduler.task_launch_delay_ms": launch / tasks if tasks else 0.0,
        "executor.busy_frac": statistics.median(
            [r / cpus for r in ratio("executor.task_run_ms", "wall_ms")] or [0.0]),
        "streaming.batches": med("batches"),
        "streaming.microbatch_p50_ms": percentile(batch_ms, 50),
        "streaming.microbatch_p90_ms": percentile(batch_ms, 90),
        "jvm.gc_ms": run.passes[0]["attrs"]["gc_ms"],
        "jvm.jit_ms": run.passes[0]["attrs"]["jit_ms"],
        "jvm.heap_after_gc_mb": max(s["attrs"]["old_gen_mb"] for s in run.heap_spans),
    }
    for metric in list(STAGE_SUMS) + list(BATCH_SUMS):
        m.setdefault(metric, med(metric))
    return m


def query_counts(run, failed):
    """Per query, every distinct [jobs, stages, tasks] it ran over the steady
    warm passes, sorted. A query whose job count flaps from pass to pass
    lists each shape it ran."""
    seen = defaultdict(set)
    for p in run.passes:
        if p["id"] not in run.steady:
            continue
        for q in run.queries[p["id"]]:
            qid = q["attrs"]["id"]
            if qid in failed:
                continue
            stages = run.descendants(q, "stage:")
            seen[qid].add((len(run.descendants(q, "job:")), len(stages),
                           int(sum(s.get("attrs", {}).get("tasks", 0) for s in stages))))
    return {qid: [list(c) for c in sorted(shapes)] for qid, shapes in sorted(seen.items())}


def conf_changes(run):
    """Per query, the session conf keys it added or changed: key -> [before, after]."""
    out = defaultdict(dict)
    for qs in run.queries.values():
        for q in qs:
            for k, v in q["attrs"].get("conf_changes", {}).items():
                out[q["attrs"]["id"]].setdefault(k, v)
    return dict(sorted(out.items()))
