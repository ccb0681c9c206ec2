#!/usr/bin/env python3
"""Per-head, per-micro-batch cost split of a traced perfbench streaming run.

Usage:
  python3 perfbench/run.py --workload streaming --seed 7 --trace 1
  python3 tools/stream_batches.py .bench_build/runs/streaming-seed7-trace1

Reads the run's trace.jsonl (one `progress` record per micro-batch,
from StreamingQueryProgress) and report.json (per-head layer metrics)
and prints one markdown table: per head and batch, the rows fed and
Spark's trigger split (addBatch, walCommit, commitOffsets,
queryPlanning, in ms), the state stores' commit time (summed over
partitions, so it can exceed the wall time of addBatch, which runs
the commits in its tasks), then one line per head with its wall time,
driver gap and broadcast MB, and a total line.
"""
import json
import os
import sys

SPLIT = ("triggerExecution", "addBatch", "walCommit", "commitOffsets", "queryPlanning")


def main(run_dir):
    batches = {}
    with open(os.path.join(run_dir, "trace.jsonl")) as f:
        for line in f:
            r = json.loads(line)
            if r.get("t") == "progress":
                batches.setdefault(r["op"], []).append(r)
    with open(os.path.join(run_dir, "report.json")) as f:
        per_op = json.load(f)["per_op_layers"]
    print("| head | batch | rows | " + " | ".join(SPLIT) + " | state commit |")
    print("|---" * (len(SPLIT) + 4) + "|")
    total = dict.fromkeys(SPLIT + ("state",), 0)
    for op in sorted(batches):
        for r in sorted(batches[op], key=lambda r: r["batch"]):
            d = r["durations"]
            cells = [str(d.get(k, 0)) for k in SPLIT] + [str(r["state_commit_ms"])]
            print(f"| {op} | {r['batch']} | {r['rows']} | " + " | ".join(cells) + " |")
            for k in SPLIT:
                total[k] += d.get(k, 0)
            total["state"] += r["state_commit_ms"]
    print("| **total** | | | " + " | ".join(str(total[k]) for k in SPLIT + ("state",)) + " |")
    print()
    print("| head | wall s | driver gap s | broadcast MB | jobs |")
    print("|---|---|---|---|---|")
    for op in sorted(per_op):
        m = per_op[op]
        print(f"| {op} | {m['wall_s']:.3f} | {m['scheduler.driver_gap_s']:.3f} | "
              f"{m['exchange.broadcast_mb']:.1f} | {m['scheduler.jobs']:.0f} |")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
