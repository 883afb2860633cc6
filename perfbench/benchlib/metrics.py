"""Turns a run's raw records (one JSON object per line, written by the
harness) into the correctness verdict, the end-to-end metrics and, for a
traced run, the per-layer metrics. Only timed passes ("p1", "p2", ...)
count towards metrics; warm-up passes ("w1", ...) only towards correctness.
"""
from collections import defaultdict

from . import stats
from .workloads import WORKLOADS, short

MB = 1048576.0
MARTS = ("user_mart", "zone_mart", "recommendations")
MART_CHECKS = ("user_mart", "zone_mart", "q75_pipeline_sink")
# task-skew only over stages whose slowest task is long enough to matter
SKEW_MIN_MS = 100


def _timed(pass_id):
    return pass_id.startswith("p")


def one(records, kind, **match):
    for r in records:
        if r["kind"] == kind and all(r.get(k) == v for k, v in match.items()):
            return r
    raise KeyError(f"no '{kind}' record {match or ''}")


def correctness(records, oracle):
    """(attempted, failed, reasons). oracle maps each checked output to None
    when it is oracle-exact, else a reason. An execution fails when it
    raised, when its digest differs from the first warm-up pass's, or when
    that pass's output is not oracle-exact."""
    attempted = failed = 0
    reasons = []
    ref = {}
    for r in records:
        if r["kind"] != "op":
            continue
        checks = r.get("marts") or {r["op"]: {"rows": r.get("rows"), "digest": r.get("digest")}}
        names = MART_CHECKS if r["op"] == "marts" else (r["op"],)
        for name in names:
            attempted += 1
            got = checks.get(name)
            if not r["ok"] or got is None:
                failed += 1
                reasons.append(f"{name} {r['pass']}: {r.get('error', 'no output')}")
                continue
            want = ref.setdefault(name, got if r["pass"] == "w1" else None)
            if want is None:
                failed += 1
                reasons.append(f"{name} {r['pass']}: no checked warm-up output")
            elif got != want:
                failed += 1
                reasons.append(f"{name} {r['pass']}: output differs from the checked one")
            elif oracle.get(name, "not checked") is not None:
                failed += 1
                reasons.append(f"{name} {r['pass']}: oracle: {oracle.get(name, 'not checked')}")
    return attempted, failed, reasons


def end_to_end(records, rows_in, setup_t0):
    """The end-to-end metrics of an untraced run. setup_t0 is the epoch
    (seconds) at which input generation started."""
    walls = [r["wall_s"] for r in records if r["kind"] == "pass" and _timed(r["pass"])]
    lat = [r["wall_s"] for r in records
           if r["kind"] == "op" and _timed(r["pass"]) and r["ok"]]
    setup_done = one(records, "setup_done")
    wall = stats.median(walls)
    return {
        "setup_s": setup_done["epoch_ms"] / 1000.0 - setup_t0,
        "wall_s": wall,
        "rows_per_s": rows_in / wall,
        "mem_peak_mb": stats.median(one(records, "timed_done")["heap_mb"]),
    }, {"wall": stats.timing_summary(walls), "op_latency": stats.timing_summary(lat)}


# ---- per-layer ------------------------------------------------------------

SPARK = ["driver_idle_s", "plan_s", "jobs", "stages", "tasks", "task_run_s",
         "task_cpu_s", "task_gc_s", "task_deser_s", "slot_use", "fetch_wait_s",
         "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "peak_exec_mem_mb",
         "task_skew", "tasks_failed"]
SOURCES = ["scan_mb", "scan_rows", "sink_s", "sink_mb", "sink_files",
           "store_cold_builds", "store_warm_reads"]
# graft operators whose eager actions start jobs of their own: a job belongs
# to the innermost of these classes on its call site
OPERATORS = {"graft.ext.Dedup": "ext.dedup",
             "graft.operators.ConnectedComponents": "operators.cc",
             "graft.ext.Similarity": "ext.similarity"}
# the k-means fit, which runs in the first warm-up pass's store cold build
FIT_FRAME = "graft.ext.Similarity$.kmeansFit("


def layer_names():
    """Every per-layer metric name with its unit, in a fixed order."""
    units = {"jobs": "count", "stages": "count", "tasks": "count",
             "tasks_failed": "count", "scan_rows": "count", "sink_files": "count",
             "store_cold_builds": "count", "store_warm_reads": "count",
             "slot_use": "ratio", "task_skew": "ratio"}

    def unit(m):
        return units.get(m, "MB" if m.endswith("_mb") else "s")
    names = [(f"spark.{m}", unit(m)) for m in SPARK]
    names += [(f"sources.{m}", unit(m)) for m in SOURCES]
    for mart in MARTS:
        names += [(f"jobs.{mart}.span_s", "s"), (f"jobs.{mart}.jobs", "count"),
                  (f"jobs.{mart}.task_s", "s"), (f"jobs.{mart}.rows_out", "count")]
    names += [("jobs.overlap", "ratio"), ("queries.build_s", "s"),
              ("queries.exec_s", "s")]
    ops = sorted({short(o) for w in WORKLOADS.values() for o in w["ops"]},
                 key=lambda q: int(q[1:]))
    names += [(f"queries.{q}.s", "s") for q in ops]
    for layer in OPERATORS.values():
        names += [(f"{layer}.jobs", "count"), (f"{layer}.job_s", "s")]
    names += [("ext.similarity.fit_s", "s")]
    return names


def operator_of(site):
    """The layer of the innermost graft operator among call-site frames
    ("graft.ext.Dedup$.jaccardPairs(Dedup.scala:150)", innermost first),
    or None."""
    for frame in site:
        cls = frame.split("(", 1)[0].rsplit(".", 1)[0].split("$", 1)[0]
        if cls in OPERATORS:
            return OPERATORS[cls]
    return None


def _pass_of(scope):
    return scope.split("|", 1)[0] if scope else ""


def pass_layers(pass_rec, ops, jobs, tasks, qes, cpus):
    """Per-layer values of one timed pass. jobs: job records of the pass
    (with "t1" and "site" resolved); tasks: (task, job) pairs; ops: op
    records."""
    wall = pass_rec["wall_s"]
    v = defaultdict(float)
    all_tasks = [t for t, _ in tasks]
    # driver idle: each operation's wall minus the union of the task
    # intervals inside its window
    for op in ops:
        busy = stats.union_length([(t["t0"], t["t1"]) for t in all_tasks],
                                  op["t0"], op["t1"]) / 1000.0
        v["spark.driver_idle_s"] += max(op["wall_s"] - busy, 0.0)
    v["spark.plan_s"] = sum(q["plan_ms"] for q in qes) / 1000.0
    v["spark.jobs"] = len(jobs)
    v["spark.stages"] = len({t["stage"] for t in all_tasks})
    v["spark.tasks"] = len(all_tasks)
    by_stage = defaultdict(list)
    for t in all_tasks:
        v["spark.task_run_s"] += t.get("run_ms", 0) / 1000.0
        v["spark.task_cpu_s"] += t.get("cpu_ns", 0) / 1e9
        v["spark.task_gc_s"] += t.get("gc_ms", 0) / 1000.0
        v["spark.task_deser_s"] += t.get("deser_ms", 0) / 1000.0
        v["spark.fetch_wait_s"] += t.get("fetch_ms", 0) / 1000.0
        v["spark.shuffle_read_mb"] += t.get("sh_read", 0) / MB
        v["spark.shuffle_write_mb"] += t.get("sh_write", 0) / MB
        v["spark.spill_mb"] += t.get("spill", 0) / MB
        v["spark.peak_exec_mem_mb"] = max(v["spark.peak_exec_mem_mb"],
                                          t.get("peak_mem", 0) / MB)
        v["spark.tasks_failed"] += 1 if t["failed"] else 0
        v["sources.scan_mb"] += t.get("in_bytes", 0) / MB
        v["sources.scan_rows"] += t.get("in_rows", 0)
        if t.get("out_rows", 0) > 0 or t.get("out_bytes", 0) > 0:
            v["sources.sink_s"] += t.get("run_ms", 0) / 1000.0
            v["sources.sink_mb"] += t.get("out_bytes", 0) / MB
        by_stage[t["stage"]].append(t.get("run_ms", 0))
    v["spark.slot_use"] = v["spark.task_run_s"] / (wall * cpus) if wall > 0 else 0.0
    skews = [max(r) / max(stats.median(r), 1) for r in by_stage.values()
             if len(r) >= 2 and max(r) >= SKEW_MIN_MS]
    v["spark.task_skew"] = max(skews) if skews else 1.0
    v["sources.sink_files"] = sum(q["files"] for q in qes)
    v["sources.store_cold_builds"] = pass_rec.get("store_cold", 0)
    v["sources.store_warm_reads"] = pass_rec.get("store_warm", 0)
    # per mart, through the "pipeline: <mart>" job description
    spans_sum = 0.0
    for mart in MARTS:
        mj = [j for j in jobs if j["desc"] == f"pipeline: {mart}"]
        if not mj:
            continue
        span = (max(j.get("t1", j["t0"]) for j in mj) - min(j["t0"] for j in mj)) / 1000.0
        spans_sum += span
        ids = {j["job"] for j in mj}
        mt = [t for t, job in tasks if job in ids]
        v[f"jobs.{mart}.span_s"] = span
        v[f"jobs.{mart}.jobs"] = len(mj)
        v[f"jobs.{mart}.task_s"] = sum(t.get("run_ms", 0) for t in mt) / 1000.0
        v[f"jobs.{mart}.rows_out"] = sum(t.get("out_rows", 0) for t in mt)
    if spans_sum:
        v["jobs.overlap"] = spans_sum / wall
    # catalog calls
    for op in ops:
        if "build_s" in op:
            v["queries.build_s"] += op["build_s"]
            v["queries.exec_s"] += op["exec_s"]
            v[f"queries.{short(op['op'])}.s"] += op["wall_s"]
    # graft operators, through each job's call site
    for layer in OPERATORS.values():
        lj = [j for j in jobs if operator_of(j["site"]) == layer]
        v[f"{layer}.jobs"] = len(lj)
        v[f"{layer}.job_s"] = _job_s(lj)
    return v


def _job_s(jobs):
    """Seconds covered by the union of the jobs' [start, end] intervals."""
    return stats.union_length([(j["t0"], j["t1"]) for j in jobs]) / 1000.0


def per_layer(records, cpus):
    """Median over timed passes of every per-layer metric, except
    ext.similarity.fit_s: the fit runs in the first warm-up pass, in the
    store's cold build, and not in timed passes."""
    job_end = {r["job"]: r for r in records if r["kind"] == "job_end"}
    exec_site = {r["exec"]: r["site"] for r in records if r["kind"] == "exec"}
    jobs = []
    stage_job = {}
    for r in records:
        if r["kind"] == "job":
            # a job Spark submitted from its own threads takes the call site
            # of the SQL execution it belongs to
            j = dict(r, t1=job_end.get(r["job"], {}).get("t1", r["t0"]),
                     site=r["site"] or exec_site.get(r["exec"], []))
            jobs.append(j)
            for s in r["stages"]:
                stage_job.setdefault(s, j)
    per_pass = defaultdict(lambda: {"jobs": [], "tasks": [], "qes": [], "ops": []})
    for j in jobs:
        # the marts' untimed output checks run under the scope "pN|check"
        if not j["scope"].endswith("|check"):
            per_pass[_pass_of(j["scope"])]["jobs"].append(j)
    for r in records:
        if r["kind"] == "task" and r["stage"] in stage_job:
            j = stage_job[r["stage"]]
            if not j["scope"].endswith("|check"):
                per_pass[_pass_of(j["scope"])]["tasks"].append((r, j["job"]))
        elif r["kind"] == "qe" and not r["scope"].endswith("|check"):
            per_pass[_pass_of(r["scope"])]["qes"].append(r)
        elif r["kind"] == "op":
            per_pass[r["pass"]]["ops"].append(r)
    values = defaultdict(list)
    for p in (r for r in records if r["kind"] == "pass" and _timed(r["pass"])):
        d = per_pass[p["pass"]]
        v = pass_layers(p, d["ops"], d["jobs"], d["tasks"], d["qes"], cpus)
        for name, _ in layer_names():
            values[name].append(v.get(name, 0.0))
    result = {name: (stats.median(values[name]), unit) for name, unit in layer_names()}
    fit = [j for j in per_pass["w1"]["jobs"]
           if any(f.startswith(FIT_FRAME) for f in j["site"])]
    result["ext.similarity.fit_s"] = (_job_s(fit), "s")
    return result
