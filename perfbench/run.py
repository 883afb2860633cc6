#!/usr/bin/env python3
"""graft benchmark: one seeded run of one workload.

Usage, from the root of a graft checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness from the checkout's sources when they changed
(sbt, offline), derives the seed's inputs from the bundled tables, runs the
workload in one Spark JVM (set-up, warm-up, then timed passes for --seconds),
checks every output against the DuckDB oracle and against the checked
digest, and prints the result as the last line of standard output:
end-to-end metrics untraced (--trace 0), per-layer metrics traced (--trace 1).
perfbench/README.md documents workloads, metrics and how they interact.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from benchlib import build, inputs, metrics, oracle  # noqa: E402
from benchlib.workloads import WORKLOADS  # noqa: E402

RUN_LIMIT_S = 165      # the JVM part of a run; the whole run must end within 180 s
BUILD_LIMIT_S = 850
HEAP = "3g"
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def git_commit(root):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             timeout=10)
        return out.stdout.strip() or None if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def java_command(classpath, work, plan_path):
    opens = [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            [f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", classpath, "perfbench.Harness", plan_path])


def read_records(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def main():
    # SIGTERM unwinds like an error, so subprocess.run kills and waits for
    # the JVM or sbt it is running, and the work directory is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seed < 0 or args.seconds < 1:
        fail("--seed must be >= 0 and --seconds >= 1")

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout (no build.sbt / src/main/scala/graft here)")
    if os.environ.get("SPARK_GRAFT_EXTRA_CONF"):
        fail("SPARK_GRAFT_EXTRA_CONF is set; the benchmark measures the default configuration only")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    # temporary files of every tool this run starts stay inside the checkout
    os.environ["TMPDIR"] = os.path.join(build_dir, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    try:
        classpath = build.ensure(root, build_dir, BUILD_LIMIT_S)
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}", 1)

    wl = WORKLOADS[args.workload]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or min(nproc(), 4))
    load_start = os.getloadavg()[0]
    t_run = time.monotonic()
    work = os.path.join(build_dir, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        setup_t0 = time.time()
        rows = inputs.generate(os.path.join(work, "input"), args.seed)
        rows_in = sum(rows[t] for t in wl["tables"])
        plan = {
            "workload": args.workload, "input": os.path.join(work, "input"),
            "work": work, "out": os.path.join(work, "records.jsonl"),
            "cpus": cpus, "seconds": args.seconds, "trace": args.trace,
            "queries": ",".join(inputs.op_order(wl["ops"], args.seed)),
        }
        plan_path = os.path.join(work, "plan.txt")
        with open(plan_path, "w") as f:
            f.writelines(f"{k}={v}\n" for k, v in plan.items())
        with open(os.path.join(work, "jvm.log"), "w") as log:
            try:
                proc = subprocess.run(java_command(classpath, work, plan_path),
                                      cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                      timeout=max(RUN_LIMIT_S - (time.monotonic() - t_run), 1))
            except subprocess.TimeoutExpired:
                fail("the harness did not finish in time", 1)
        if proc.returncode != 0:
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"the harness exited with code {proc.returncode}", 1)
        records = read_records(plan["out"])

        t_oracle = time.monotonic()
        with open(os.path.join(work, "oracle_sql.json")) as f:
            oracle_sql = json.load(f)
        checked = {n for r in records if r["kind"] == "op" and r["pass"] == "w1"
                   for n in (metrics.MART_CHECKS if r["op"] == "marts" else [r["op"]])}
        verdict = {n: "no oracle SQL" for n in checked if n not in oracle_sql}
        verdict.update(oracle.check(root, plan["input"], os.path.join(work, "outputs"),
                                    oracle_sql, os.path.join(work, "duck")))
        # the user and zone marts have no oracle: they are checked by row
        # count and digest against the first pass alone
        for n in ("user_mart", "zone_mart"):
            if n in checked:
                verdict[n] = None
        oracle_s = time.monotonic() - t_oracle
        attempted, failed, reasons = metrics.correctness(records, verdict)

        # a traced run's wall stays in the detail line: traced over untraced
        # wall is the tracing overhead
        e2e, summary = metrics.end_to_end(records, rows_in, setup_t0)
        if args.trace:
            values = {n: {"value": v, "unit": u}
                      for n, (v, u) in metrics.per_layer(records, cpus).items()}
        else:
            units = {"setup_s": "s", "wall_s": "s", "rows_per_s": "1/s",
                     "mem_peak_mb": "MB"}
            values = {n: {"value": v, "unit": units[n]} for n, v in e2e.items()}

        def one(kind, **match):
            return metrics.one(records, kind, **match)
        detail = {
            "workload": args.workload, "seed": args.seed, "traced": bool(args.trace),
            "nproc": nproc(), "cpus": cpus,
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "graft_env": {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")},
            "git_commit": git_commit(root), "source_digest": build.source_digest(root),
            "load_avg_start": load_start, "load_avg_end": os.getloadavg()[0],
            "cal_start": one("cal", at="start")["value"],
            "cal_end": one("cal", at="end")["value"],
            "store_setup": {"cold": one("setup_done")["store_cold"],
                            "warm": one("setup_done")["store_warm"]},
            "store_timed": {"cold": one("timed_done")["store_cold"],
                            "warm": one("timed_done")["store_warm"]},
            "passes": one("timed_done")["passes"], "input_rows": rows_in,
            "pass_walls": {r["pass"]: r["wall_s"] for r in records if r["kind"] == "pass"},
            "session_s": one("session")["s"],
            "lake_s": one("lake")["s"] if args.workload == "marts" else None,
            "oracle_s": oracle_s,
            "failures": reasons[:20], **summary,
        }
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": values}
        os.makedirs(os.path.join(build_dir, "runs"), exist_ok=True)
        with open(os.path.join(build_dir, "runs",
                               f"{args.workload}-s{args.seed}-t{args.trace}-{int(setup_t0)}.json"),
                  "w") as f:
            json.dump({"detail": detail, "result": result}, f)
        print(json.dumps({"detail": detail}))
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
