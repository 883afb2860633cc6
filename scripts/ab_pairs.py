#!/usr/bin/env python3
"""A/B a change against its parent on the benchmark, in alternating pairs.

Usage, from inside a graft checkout:

    python3 scripts/ab_pairs.py PARENT CHANGE --workload W --pairs N \
        [--trace 0|1] [--json OUT]

PARENT and CHANGE are git revisions. Each is exported with `git archive`
into its own temporary tree (under $TMPDIR) and run with
`python3 perfbench/run.py --workload W --seed i --seconds S --trace T` from
that tree, S being BENCHMARK.json's `run_seconds`; the first run in each
tree builds it, outside every metric, as in the benchmark. Pair i runs both
sides on seed i, one after the other; which side goes first alternates from
pair to pair, so a drift of the host's speed lands on both sides alike.

Every run is printed. Then, per metric: the parent and change medians, the
median change/parent ratio over the pairs, the pairs the change wins (by
the metric's direction in BENCHMARK.json), and the parent's inter-quartile
spread (q3 - q1 of its values, also as a share of its median) — the noise
the median difference has to clear. Exits 1 if any run failed or reported
an incorrect result.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile


def git_root():
    out = subprocess.run(["git", "rev-parse", "--show-toplevel"], text=True,
                         stdout=subprocess.PIPE, check=True)
    return out.stdout.strip()


def export(root, rev, dest):
    """Extract revision `rev` of the repository at `root` into `dest`."""
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "-C", root, "archive", rev],
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait() != 0:
        raise SystemExit(f"ab_pairs: git archive {rev} failed")


def run_once(tree, workload, seed, seconds, trace):
    """One perfbench run: (detail, result, None), or (None, None, error)."""
    env = dict(os.environ)
    env.pop("CARGO_TARGET_DIR", None)  # each tree keeps its own build
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=tree, env=env, text=True, stdout=subprocess.PIPE,
        stderr=subprocess.PIPE)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    try:
        return json.loads(lines[-2])["detail"], json.loads(lines[-1]), None
    except (IndexError, KeyError, ValueError):
        return None, None, f"exit {proc.returncode}: {proc.stderr[-2000:]}"


def benchmark(root):
    """(run_seconds, metric name -> 'lower' | 'higher'), from BENCHMARK.json."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return bench["run_seconds"], {
        m["name"]: m["better"]
        for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}


def spread(values):
    """(q3 - q1, (q3 - q1) / median) of the values; zeros below 2 values."""
    if len(values) < 2:
        return 0.0, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return q3 - q1, (q3 - q1) / med if med else 0.0


def summarize(runs, better):
    """Per-metric rows over the pairs in which both sides produced it."""
    rows = []
    names = sorted({n for r in runs if r["result"] for n in r["result"]["metrics"]})
    for name in names:
        pairs = {}
        for r in runs:
            m = (r["result"] or {}).get("metrics", {}).get(name)
            if m is not None:
                pairs.setdefault(r["pair"], {})[r["side"]] = m["value"]
        both = [(p["parent"], p["change"]) for p in pairs.values()
                if "parent" in p and "change" in p]
        if not both:
            continue
        parent = [a for a, _ in both]
        change = [b for _, b in both]
        ratios = [b / a for a, b in both if a]
        lower = better.get(name, "lower") == "lower"
        wins = sum(1 for a, b in both if (b < a if lower else b > a))
        iqr, iqr_rel = spread(parent)
        rows.append({
            "metric": name, "better": "lower" if lower else "higher",
            "parent_median": statistics.median(parent),
            "change_median": statistics.median(change),
            "median_ratio": statistics.median(ratios) if ratios else None,
            "wins": wins, "pairs": len(both),
            "parent_iqr": iqr, "parent_iqr_rel": iqr_rel,
        })
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--json", help="also write every run and the summary here")
    args = ap.parse_args()
    if args.pairs < 1:
        raise SystemExit("ab_pairs: --pairs must be >= 1")

    root = git_root()
    seconds, better = benchmark(root)
    # short paths: sbt's server socket lives under the tree and a unix
    # socket path must fit in ~100 bytes
    scratch = tempfile.mkdtemp(prefix="ab")
    trees = {"parent": os.path.join(scratch, "p"),
             "change": os.path.join(scratch, "c")}
    runs, bad = [], 0
    try:
        for side, rev in (("parent", args.parent), ("change", args.change)):
            export(root, rev, trees[side])
        for i in range(args.pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                detail, result, error = run_once(
                    trees[side], args.workload, i, seconds, args.trace)
                ok = bool(result and result["correct"] and not result["failed"])
                bad += not ok
                runs.append({"pair": i, "side": side, "seed": i, "ok": ok,
                             "detail": detail, "result": result, "error": error})
                shown = error or {n: round(m["value"], 3)
                                  for n, m in result["metrics"].items()}
                print(json.dumps({"pair": i, "side": side, "ok": ok,
                                  "metrics": shown,
                                  "pass_walls": (detail or {}).get("pass_walls")}),
                      flush=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    rows = summarize(runs, better)
    print(f"\n{args.workload}: {args.pairs} pairs, trace {args.trace}, "
          f"{args.parent} -> {args.change}")
    print(f"{'metric':32} {'parent':>10} {'change':>10} {'ratio':>7} "
          f"{'wins':>6} {'parent IQR':>11} {'IQR/med':>8}")
    for r in rows:
        ratio = "-" if r["median_ratio"] is None else f"{r['median_ratio']:.3f}"
        print(f"{r['metric']:32} {r['parent_median']:10.3f} "
              f"{r['change_median']:10.3f} {ratio:>7} "
              f"{r['wins']:>3}/{r['pairs']:<2} {r['parent_iqr']:11.3f} "
              f"{r['parent_iqr_rel']:8.3f}")
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"workload": args.workload, "parent": args.parent,
                       "change": args.change, "trace": args.trace,
                       "runs": runs, "summary": rows}, f, indent=1)
    if bad:
        print(f"ab_pairs: {bad} run(s) failed or were incorrect", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
