#!/usr/bin/env python3
"""Alternating A/B pairs of perfbench or graft.Bench runs from two checkouts, each started idle.

Usage:
  python3 tools/ab_pairs.py --base DIR --change DIR --workload etl \\
      --seeds 41-45 [--seconds 8] [--trace 0] [--max-wait 600] [--json OUT]
  python3 tools/ab_pairs.py --base DIR --change DIR \\
      --queries q1,q2 --sf-dir SF_DIR [--pairs 5] [--max-wait 600] [--json OUT]

perfbench mode: pair i runs `perfbench/run.py --workload W --seed S_i`
once in each checkout. Bench mode (--queries): pair i runs
`tools/run_main.sh graft.Bench` once per side with
SPARK_GRAFT_QUERIES set to the list, SPARK_GRAFT_SF_DIR to --sf-dir,
SPARK_GRAFT_CPUS to nproc unless already set, and SPARK_GRAFT_CP to
that side's `target/scala-2.13/classes` (compile both checkouts
first); its metrics are each query's seconds (the min of Bench's two
timed runs) and their `total`. In both modes the base runs first in
even pairs and the change first in odd ones, so a drift of the box
over the campaign lands on both sides. Before every run it waits, at
most --max-wait seconds, for the 1-minute load average to fall below
0.25 x nproc (perfbench's idle rule: the previous run leaves load1 at
2-4 on a 4-core box), and records load1 at the start and whether the
wait succeeded.

It prints, per metric: both medians, change/base, the base runs'
interquartile range, and in how many pairs the change was better (the
direction each metric improves in comes from BENCHMARK.json; Bench
seconds are lower-better). A gain is claimed only when the change wins
nearly every pair and its median moves by more than the base IQR. In
perfbench mode per-operation medians follow, read from each run's
report.json. Exit 1 if any run fails or is incorrect.
"""
import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import stats  # noqa: E402


def seeds_arg(s):
    """'41-45' or '41,43,47'."""
    if "-" in s:
        a, b = s.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in s.split(",")]


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def wait_idle(max_wait, poll=5.0):
    """Wait until load1 < 0.25 x nproc or max_wait passes; return
    (load1 at the start of the run, whether it was idle)."""
    limit = 0.25 * os.cpu_count()
    deadline = time.monotonic() + max_wait
    while True:
        l1 = load1()
        if l1 < limit or time.monotonic() >= deadline:
            return l1, l1 < limit
        time.sleep(poll)


def run_perfbench(checkout, args, seed):
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        last = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(p.stderr[-3000:])
        return None
    report = os.path.join(checkout, ".bench_build", "runs",
                          f"{args.workload}-seed{seed}-trace{args.trace}", "report.json")
    per_op = {}
    if os.path.exists(report):
        with open(report) as f:
            per_op = json.load(f).get("info", {}).get("per_op_median_s", {})
    return {"ok": p.returncode == 0 and last.get("correct", False),
            "metrics": {k: v["value"] for k, v in last["metrics"].items()},
            "per_op": per_op}


def run_bench(checkout, args, _pair):
    """One graft.Bench subset run from `checkout`'s compiled classes."""
    env = dict(os.environ, SPARK_GRAFT_QUERIES=args.queries,
               SPARK_GRAFT_SF_DIR=args.sf_dir,
               SPARK_GRAFT_CP=os.path.join(checkout, "target", "scala-2.13", "classes"))
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    p = subprocess.run([os.path.join(ROOT, "tools", "run_main.sh"), "graft.Bench"],
                       env=env, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{") and '"metric"' in l]
    try:
        last = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(p.stderr[-3000:])
        return None
    times = last.get("queries", {})
    ok = (p.returncode == 0 and not last.get("failed")
          and all(q in times for q in args.queries.split(",")))
    return {"ok": ok, "metrics": dict(times, total=last["value"]), "per_op": {}}


def directions():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        d = json.load(f)
    return {m["name"]: m["better"] for m in d["end_to_end"] + d["per_layer"]}


def summarize(runs, better):
    """Rows of (metric, base median, change median, base IQR, wins, pairs)."""
    rows = []
    names = sorted({n for r in runs for n in r["base"]["metrics"]})
    for n in names:
        pairs = [(r["base"]["metrics"].get(n), r["change"]["metrics"].get(n)) for r in runs]
        pairs = [(b, c) for b, c in pairs if b is not None and c is not None]
        if not pairs:
            continue
        bs = [b for b, _ in pairs]
        cs = [c for _, c in pairs]
        lower = better.get(n, "lower") == "lower"
        wins = sum((c < b) if lower else (c > b) for b, c in pairs)
        iqr = stats.percentile(bs, 75) - stats.percentile(bs, 25)
        rows.append((n, stats.median(bs), stats.median(cs), iqr, wins, len(pairs)))
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", help="perfbench workload")
    ap.add_argument("--seeds", type=seeds_arg, help="perfbench seeds, one pair each")
    ap.add_argument("--queries", help="Bench mode: comma-separated registered queries")
    ap.add_argument("--sf-dir", help="Bench mode: the sf directory the queries run at")
    ap.add_argument("--pairs", type=int, default=5, help="Bench mode: number of pairs")
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--max-wait", type=float, default=600,
                    help="longest wait for an idle box before each run, seconds")
    ap.add_argument("--json", help="also write every run's metrics here")
    args = ap.parse_args()
    if args.queries:
        if not args.sf_dir:
            ap.error("--queries needs --sf-dir")
        run, keys, head = run_bench, list(range(1, args.pairs + 1)), "total"
        title = f"graft.Bench {args.queries} at {args.sf_dir}"
    else:
        if not (args.workload and args.seeds):
            ap.error("give --workload and --seeds, or --queries and --sf-dir")
        run, keys, head = run_perfbench, args.seeds, "pass_s"
        title = f"{args.workload}, seeds {args.seeds[0]}..{args.seeds[-1]}"

    sides = {"base": os.path.abspath(args.base), "change": os.path.abspath(args.change)}
    runs, bad = [], 0
    for i, key in enumerate(keys):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        pair = {"seed": key}
        for side in order:
            l1, idle = wait_idle(args.max_wait)
            r = run(sides[side], args, key)
            if r is None or not r["ok"]:
                bad += 1
                print(f"pair {i + 1} ({key}) {side}: run failed or incorrect", file=sys.stderr)
                r = r or {"ok": False, "metrics": {}, "per_op": {}}
            r.update(load1_start=l1, idle_start=idle)
            pair[side] = r
            hv = r["metrics"].get(head)
            print(f"pair {i + 1} ({key}) {side:6s} load1 {l1:5.2f} "
                  f"idle {str(idle):5s} {head} {hv if hv is None else round(hv, 3)}",
                  flush=True)
        runs.append(pair)

    print(f"\n{title}: {len(runs)} pairs, "
          f"{sum(r[s]['idle_start'] for r in runs for s in sides)}/{2 * len(runs)} runs started idle")
    print(f"{'metric':34s} {'base':>12s} {'change':>12s} {'ratio':>7s} {'base IQR':>10s} wins")
    for n, b, c, iqr, wins, k in summarize(runs, directions()):
        ratio = c / b if b else float("nan")
        print(f"{n:34s} {b:12.4f} {c:12.4f} {ratio:7.3f} {iqr:10.4f} {wins}/{k}")
    ops = sorted({o for r in runs for s in sides for o in r[s]["per_op"]})
    if ops:
        print(f"\n{'operation median (s)':34s} {'base':>12s} {'change':>12s}")
        for o in ops:
            med = {s: stats.median([r[s]["per_op"][o] for r in runs if o in r[s]["per_op"]])
                   for s in sides}
            print(f"{o:34s} {med['base']:12.4f} {med['change']:12.4f}")
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"workload": args.workload, "queries": args.queries,
                       "sf_dir": args.sf_dir, "seconds": args.seconds,
                       "trace": args.trace, "pairs": runs}, f, indent=1)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
