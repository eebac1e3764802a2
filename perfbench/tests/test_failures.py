"""A query that throws or whose output digest differs from the committed one
is counted as failed and never becomes a timing sample.

    python3 -m unittest discover -s perfbench/tests

The last test runs the real runner with an unknown query id injected; it is
skipped until `python3 perfbench/build.py` has built the classes.
"""
import json
import os
import sys
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import build  # noqa: E402
import check_counts  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def span(sid, parent, name, start, end, **attrs):
    s = {"id": sid, "parent": parent, "name": name, "start_ms": start, "end_ms": end}
    if attrs:
        s["attrs"] = attrs
    return s


def fake_run(outcomes, digests):
    """A span dump of one setup and len(outcomes) passes; outcomes[i] maps a
    query id to (wall_ms, ok) in pass i."""
    spans = [span(0, -1, "run", 0, 1e6),
             span(1, 0, "setup", 0, 10, setup_s=1.5, cached_mb=4.0, old_gen_mb=50.0)]
    t = 100.0
    for i, passes in enumerate(outcomes):
        pid = len(spans)
        spans.append(span(pid, 0, f"pass:{i}", t, t, gc_ms=1, jit_ms=1, old_gen_mb=60.0))
        for qid, (wall, ok) in passes.items():
            attrs = {"id": qid, "ok": ok}
            if not ok:
                attrs["error"] = "java.lang.RuntimeException: boom"
            spans.append(span(len(spans), pid, f"query:{qid}", t, t + wall, **attrs))
            t += wall
        spans[pid]["end_ms"] = t
    return metrics.Run({"spans": spans, "digests": digests,
                        "config": {"warm_passes": len(outcomes) - 1}})


class FailureAccounting(unittest.TestCase):
    def test_thrown_query_is_failed_and_untimed(self):
        r = fake_run([{"good": (100, True), "bad": (5, True)},
                      {"good": (200, True), "bad": (1, False)},
                      {"good": (300, True), "bad": (5, True)},
                      {"good": (400, True), "bad": (5, True)}],
                     {"good": "1:1", "bad": "error: boom"})
        failed = metrics.failures(r, {"good": "1:1", "bad": "1:2"})
        self.assertEqual(set(failed), {"bad"})
        self.assertTrue(failed["bad"].startswith("threw"))
        m, facts = metrics.end_to_end(r, failed)
        self.assertEqual((facts["attempted"], facts["failed"]), (8, 4))
        self.assertAlmostEqual(facts["failed_ratio"], 0.5)
        self.assertEqual(facts["pass_s"], [0.1, 0.2, 0.3, 0.4])
        self.assertEqual(facts["warm_query_samples"], 3)
        self.assertAlmostEqual(m["query_p50_s"], 0.3)

    def test_digest_mismatch_is_failed_and_untimed(self):
        r = fake_run([{"good": (100, True), "wrong": (50, True)}] * 3,
                     {"good": "1:1", "wrong": "7:7"})
        failed = metrics.failures(r, {"good": "1:1", "wrong": "7:8"})
        self.assertEqual(set(failed), {"wrong"})
        self.assertIn("!= committed", failed["wrong"])
        m, facts = metrics.end_to_end(r, failed)
        self.assertEqual(facts["failed"], 3)
        self.assertEqual(m["warm_pass_s"], 0.1)
        self.assertEqual(m["query_p50_s"], 0.1)

    def test_all_good(self):
        r = fake_run([{"good": (100, True)}] * 2, {"good": "1:1"})
        self.assertEqual(metrics.failures(r, {"good": "1:1"}), {})


class QueryCounts(unittest.TestCase):
    def test_shapes_over_steady_passes(self):
        r = fake_run([{"q": (10, True)}] * 5, {"q": "1:1"})
        # One single-stage job per query span, and a second one in pass 3.
        for q in [s for s in r.spans if s["name"] == "query:q"]:
            jobs = 2 if r.spans[q["parent"]]["name"] == "pass:3" else 1
            for _ in range(jobs):
                job = span(len(r.spans), q["id"], "job:0", 0, 0)
                r.spans += [job, span(len(r.spans) + 1, job["id"], "stage:0", 0, 0, tasks=4)]
        r = metrics.Run(dict(r.raw, spans=r.spans))
        shapes = metrics.query_counts(r, {})
        self.assertEqual(shapes, {"q": [[1, 1, 4], [2, 2, 8]]})
        self.assertEqual(check_counts.diff({"q": [[1, 1, 4]]}, shapes), [])
        self.assertEqual(len(check_counts.diff({"q": [[3, 3, 12]]}, shapes)), 1)
        self.assertEqual(len(check_counts.diff({}, shapes)), 1)


class WarmWindow(unittest.TestCase):
    def test_clean_passes_first_then_least_stolen(self):
        r = fake_run([{"q": (100, True)}] * 5, {"q": "1:1"})
        passes = [s for s in r.spans if s["name"].startswith("pass:")]
        # Warm passes 1 and 3 lost half and a fifth of their 0.1 s to steal.
        for i, steal in ((1, 0.05), (3, 0.02)):
            passes[i]["attrs"].update(clean=False, steal_s=steal)
        r = metrics.Run(dict(r.raw, config={"warm_passes": 3}))
        self.assertEqual(metrics.end_to_end(r, {})[1]["steady_passes"], [2, 3, 4])
        r = metrics.Run(dict(r.raw, config={"warm_passes": 2}))
        self.assertEqual(metrics.end_to_end(r, {})[1]["steady_passes"], [2, 4])


@unittest.skipUnless(os.path.exists(os.path.join(build.BUILD, "classes", "STAMP")),
                     "runner not built")
class InjectedFailingQuery(unittest.TestCase):
    def test_unknown_query_id_fails_without_samples(self):
        classes = build.build()
        with open(os.path.join(os.path.dirname(HERE), "digests.json")) as f:
            committed = json.load(f)["relational_short"]
        out = os.path.join(build.BUILD, "results", "injected-failure")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        raw = run.run_runner(classes, ["scan_parquet_full", "no_such_query"], 1, 0, 0,
                             out + ".spans.json", out + ".log", time.monotonic() + 170)
        r = metrics.Run(raw)
        failed = metrics.failures(r, committed)
        self.assertEqual(set(failed), {"no_such_query"})
        m, facts = metrics.end_to_end(r, failed)
        n = len(r.passes)
        self.assertEqual((facts["attempted"], facts["failed"]), (2 * n, n))
        good = [metrics.dur_ms(q) / 1000 for qs in r.queries.values() for q in qs
                if q["attrs"]["id"] == "scan_parquet_full"]
        self.assertEqual(facts["pass_s"], good)


if __name__ == "__main__":
    unittest.main()
