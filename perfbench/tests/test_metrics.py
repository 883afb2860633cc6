"""Per-layer attribution and the correctness verdict, on hand-built
harness records. Run: python3 -m unittest discover -s perfbench/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from benchlib import metrics  # noqa: E402


def job(jid, scope, t0, t1, stages, desc="", site=(), exec_id=""):
    return [{"kind": "job", "job": jid, "t0": t0, "stages": stages, "scope": scope,
             "desc": desc, "site": list(site), "exec": exec_id},
            {"kind": "job_end", "job": jid, "t1": t1, "ok": True}]


CC_ROUND = ["graft.operators.ConnectedComponents$.fingerprint$1(ConnectedComponents.scala:290)",
            "graft.operators.ConnectedComponents$.runCounted(ConnectedComponents.scala:296)",
            "graft.queries.DataPipelineQueries$.$anonfun$queries$40(DataPipelineQueries.scala:1676)"]
FIT = ["graft.ext.Similarity$.$anonfun$kmeansFitSeq$4(Similarity.scala:1450)",
       "graft.ext.Similarity$.kmeansFitSeq(Similarity.scala:1436)",
       "graft.ext.Similarity$.kmeansFit(Similarity.scala:1415)",
       "graft.sources.Tables$.ensureMaterialized(Tables.scala:377)"]


def task(stage, t0, t1, **m):
    return dict({"kind": "task", "stage": stage, "t0": t0, "t1": t1, "failed": False,
                 "run_ms": t1 - t0}, **m)


def marts_pass():
    """One 10 s pipeline pass: three marts on three threads whose tasks
    overlap, plus the untimed output check under the "check" scope."""
    r = [{"kind": "pass", "pass": "p1", "wall_s": 10.0, "t0": 0, "t1": 10000,
          "store_cold": 0, "store_warm": 0},
         {"kind": "op", "pass": "p1", "op": "marts", "ok": True, "wall_s": 10.0,
          "t0": 0, "t1": 10000}]
    r += job(1, "p1|pipeline", 500, 6000, [10], desc="pipeline: user_mart")
    r += job(2, "p1|pipeline", 1000, 8000, [20, 21], desc="pipeline: zone_mart")
    r += job(3, "p1|pipeline", 2000, 9000, [30], desc="pipeline: recommendations")
    r += job(4, "p1|check", 10500, 11000, [40])
    # user: 1000-5000, zone: 3000-7000 (stage 20) and 7500-8000 (stage 21),
    # recommendations: 6000-8500 with a writing task; union = 1000-8500
    r += [task(10, 1000, 5000, out_rows=5, out_bytes=2 * 1048576),
          task(20, 3000, 7000), task(21, 7500, 8000),
          task(30, 6000, 8500, out_rows=7, out_bytes=1048576),
          task(40, 10500, 11000, out_rows=99)]
    r += [{"kind": "qe", "scope": "p1|pipeline", "plan_ms": 300, "files": 4, "ok": True},
          {"kind": "qe", "scope": "p1|check", "plan_ms": 999, "files": 0, "ok": True}]
    return r


class MartsAttribution(unittest.TestCase):
    def setUp(self):
        self.v = {k: v for k, (v, _) in metrics.per_layer(marts_pass(), cpus=4).items()}

    def test_driver_idle_is_wall_minus_union_of_concurrent_tasks(self):
        self.assertAlmostEqual(self.v["spark.driver_idle_s"], 10.0 - 7.5)

    def test_jobs_attributed_by_description(self):
        self.assertEqual(self.v["jobs.user_mart.jobs"], 1)
        self.assertEqual(self.v["jobs.zone_mart.jobs"], 1)
        self.assertAlmostEqual(self.v["jobs.zone_mart.span_s"], 7.0)
        self.assertAlmostEqual(self.v["jobs.zone_mart.task_s"], 4.5)
        self.assertEqual(self.v["jobs.recommendations.rows_out"], 7)
        self.assertAlmostEqual(self.v["jobs.overlap"], (5.5 + 7.0 + 7.0) / 10.0)

    def test_check_scope_is_excluded(self):
        self.assertEqual(self.v["spark.jobs"], 3)
        self.assertEqual(self.v["spark.tasks"], 4)
        self.assertAlmostEqual(self.v["spark.plan_s"], 0.3)
        self.assertEqual(self.v["sources.sink_files"], 4)

    def test_sink_and_slot_use(self):
        self.assertAlmostEqual(self.v["sources.sink_mb"], 3.0)
        self.assertAlmostEqual(self.v["sources.sink_s"], 4.0 + 2.5)
        self.assertAlmostEqual(self.v["spark.slot_use"], 11.0 / (10.0 * 4))

    def test_every_layer_metric_is_reported(self):
        self.assertEqual(set(self.v), {n for n, _ in metrics.layer_names()})
        self.assertLessEqual(len(self.v), 128)


class QueryAttribution(unittest.TestCase):
    def records(self):
        r = [{"kind": "pass", "pass": "p1", "wall_s": 3.0, "t0": 0, "t1": 3500},
             {"kind": "op", "pass": "p1", "op": "q54_dup_clusters", "ok": True,
              "wall_s": 2.0, "build_s": 1.5, "exec_s": 0.5, "t0": 0, "t1": 2000},
             {"kind": "op", "pass": "p1", "op": "q26_knn_ivf", "ok": True,
              "wall_s": 1.0, "build_s": 0.2, "exec_s": 0.8, "t0": 2500, "t1": 3500}]
        # job 2 is an adaptive query stage Spark submitted from its own
        # thread: no graft frames, but its SQL execution's call site is
        # the connected-components round's
        r += job(1, "p1|q54_dup_clusters", 100, 900, [1], site=CC_ROUND, exec_id="5")
        r += job(2, "p1|q54_dup_clusters", 1000, 1900, [2], exec_id="6")
        r += [{"kind": "exec", "exec": "6", "site": CC_ROUND}]
        # the harness's own action: no graft frames anywhere
        r += job(3, "p1|q26_knn_ivf", 2600, 3400, [3], exec_id="7")
        r += [{"kind": "exec", "exec": "7", "site": []}]
        # a task running between the two operations is outside both windows
        r += [task(1, 100, 600), task(2, 1000, 1900), task(3, 2600, 3400)]
        # the warm-up pass's k-means fit, in the store's cold build
        r += job(4, "w1|q84_kmeans_embed", 50, 250, [4], site=FIT[1:])
        r += job(5, "w1|q84_kmeans_embed", 300, 400, [5], exec_id="8")
        r += [{"kind": "exec", "exec": "8", "site": FIT}]
        r += job(6, "w1|q84_kmeans_embed", 350, 700, [6], site=FIT[3:])
        return r

    def test_idle_is_summed_per_operation_window(self):
        v = {k: v for k, (v, _) in metrics.per_layer(self.records(), cpus=4).items()}
        self.assertAlmostEqual(v["spark.driver_idle_s"], (2.0 - 1.4) + (1.0 - 0.8))
        self.assertAlmostEqual(v["queries.build_s"], 1.7)
        self.assertAlmostEqual(v["queries.q54.s"], 2.0)
        self.assertEqual(v["operators.cc.jobs"], 2)
        self.assertAlmostEqual(v["operators.cc.job_s"], 0.8 + 0.9)
        self.assertEqual(v["ext.similarity.jobs"], 0)
        self.assertEqual(v["spark.jobs"], 3)
        self.assertEqual(v["sources.sink_mb"], 0.0)

    def test_fit_is_read_from_the_warm_up_pass(self):
        v = {k: v for k, (v, _) in metrics.per_layer(self.records(), cpus=4).items()}
        # jobs 4 and 5 (50-250, 300-400); job 6 is the store's write
        self.assertAlmostEqual(v["ext.similarity.fit_s"], 0.2 + 0.1)

    def test_innermost_operator_frame_wins(self):
        self.assertEqual(metrics.operator_of(CC_ROUND), "operators.cc")
        self.assertEqual(metrics.operator_of(FIT), "ext.similarity")
        self.assertEqual(metrics.operator_of(
            ["graft.ext.Dedup$.jaccardPairs(Dedup.scala:150)"] + CC_ROUND), "ext.dedup")
        self.assertIsNone(metrics.operator_of(FIT[3:]))
        self.assertIsNone(metrics.operator_of([]))

    def test_median_over_passes(self):
        r = self.records()
        r2 = [dict(x, **{"pass": "p2"}) if x["kind"] in ("pass", "op") else x for x in r
              if x["kind"] in ("pass", "op")]
        for x in r2:
            x["wall_s"] = x["wall_s"] * 3
        v = {k: v for k, (v, _) in metrics.per_layer(r + r2, cpus=4).items()}
        self.assertAlmostEqual(v["queries.q26.s"], (1.0 + 3.0) / 2)


class Correctness(unittest.TestCase):
    def op(self, p, digest, ok=True):
        return {"kind": "op", "pass": p, "op": "q54_dup_clusters", "ok": ok,
                "rows": 3, "digest": digest}

    def test_all_passes_match_the_checked_output(self):
        r = [self.op("w1", "7"), self.op("p1", "7"), self.op("p2", "7")]
        self.assertEqual(metrics.correctness(r, {"q54_dup_clusters": None})[:2], (3, 0))

    def test_drift_error_and_oracle_mismatch_count_as_failures(self):
        r = [self.op("w1", "7"), self.op("p1", "8"), self.op("p2", None, ok=False)]
        self.assertEqual(metrics.correctness(r, {"q54_dup_clusters": None})[:2], (3, 2))
        r = [self.op("w1", "7"), self.op("p1", "7")]
        self.assertEqual(metrics.correctness(r, {"q54_dup_clusters": "values differ"})[:2], (2, 2))
        self.assertEqual(metrics.correctness(r, {})[:2], (2, 2))

    def test_marts_check_each_mart(self):
        marts = {"user_mart": {"rows": 1, "digest": "1"},
                 "zone_mart": {"rows": 2, "digest": "2"},
                 "q75_pipeline_sink": {"rows": 3, "digest": "3"}}
        drift = dict(marts, zone_mart={"rows": 2, "digest": "9"})
        r = [{"kind": "op", "pass": "w1", "op": "marts", "ok": True, "marts": marts},
             {"kind": "op", "pass": "p1", "op": "marts", "ok": True, "marts": drift}]
        ok = {"user_mart": None, "zone_mart": None, "q75_pipeline_sink": None}
        attempted, failed, reasons = metrics.correctness(r, ok)
        self.assertEqual((attempted, failed), (6, 1))
        self.assertIn("zone_mart p1", reasons[0])


if __name__ == "__main__":
    unittest.main()
