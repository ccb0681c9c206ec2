"""Per-layer metrics of a traced run, computed from the harness's trace.

Each metric is summed over the operations of the traced passes and divided
by the number of traced passes (so it reads "per pass"); maxima and ratios
are taken over the whole traced phase. The layers follow graft's modules:
tables (graft.Tables / graft.sources scans), operators (the query function
itself, before its final action), plans (Catalyst and graft's planner
extensions), scheduler, exchange, aggjoin, functions (per-row task compute,
where graft.functions kernels run), cache (CacheHygiene) and streaming.
"""
import json

from stats import driver_gap

# (name, unit, how it is aggregated across passes)
METRICS = [
    ("tables.scan_s", "s", "sum"), ("tables.scan_rows", "count", "sum"),
    ("tables.scan_mb", "MB", "sum"),
    ("operators.build_s", "s", "sum"), ("operators.build_jobs", "count", "sum"),
    ("plans.analyze_s", "s", "sum"), ("plans.optimize_s", "s", "sum"),
    ("plans.physical_s", "s", "sum"),
    ("scheduler.jobs", "count", "sum"), ("scheduler.stages", "count", "sum"),
    ("scheduler.tasks", "count", "sum"), ("scheduler.serial_stages", "count", "sum"),
    ("scheduler.serial_stage_rows", "count", "sum"),
    ("scheduler.task_skew", "ratio", "max"),
    ("scheduler.core_busy_frac", "ratio", "ratio"),
    ("scheduler.task_failures", "count", "sum"),
    ("scheduler.driver_gap_s", "s", "sum"),
    ("exchange.count", "count", "sum"), ("exchange.partitions", "count", "sum"),
    ("exchange.write_mb", "MB", "sum"), ("exchange.write_records", "count", "sum"),
    ("exchange.write_s", "s", "sum"), ("exchange.fetch_wait_s", "s", "sum"),
    ("exchange.broadcast_mb", "MB", "sum"), ("exchange.broadcast_s", "s", "sum"),
    ("aggjoin.agg_s", "s", "sum"), ("aggjoin.sort_s", "s", "sum"),
    ("aggjoin.join_build_s", "s", "sum"), ("aggjoin.spill_mb", "MB", "sum"),
    ("aggjoin.peak_task_mem_mb", "MB", "max"),
    ("functions.cpu_s", "s", "sum"), ("functions.codegen_s", "s", "sum"),
    ("functions.gc_s", "s", "sum"), ("functions.cpu_ns_per_row", "ns", "ratio"),
    ("cache.sweep_s", "s", "sum"), ("cache.block_mb_peak", "MB", "max"),
    ("streaming.add_batch_ms", "ms", "sum"), ("streaming.wal_commit_ms", "ms", "sum"),
    ("streaming.commit_offsets_ms", "ms", "sum"),
    ("streaming.query_planning_ms", "ms", "sum"),
    ("streaming.state_rows", "count", "sum"), ("streaming.state_mb", "MB", "sum"),
    ("streaming.state_commit_ms", "ms", "sum"),
]

AGG_TIME_NODES = ("HashAggregateExec", "ObjectHashAggregateExec", "SortAggregateExec")
BROADCAST_TIMES = ("collectTime", "buildTime", "broadcastTime")


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _zero():
    return {name: 0.0 for name, _, _ in METRICS}


def per_op(records, cores):
    """Layer metrics of every traced operation run, keyed by its op key
    ("name#pass"), plus the raw totals the ratios are built from."""
    spans = {r["id"]: r for r in records if r["t"] == "span"}
    ops = {r["op"]: r for r in spans.values() if r["kind"] == "op"}
    out = {k: dict(_zero(), wall_s=(s["end"] - s["start"]) / 1e3,
                   _run_ms=0.0, _cpu_rows=0.0) for k, s in ops.items()}
    intervals = {k: [] for k in ops}
    for s in spans.values():
        m = out.get(s["op"])
        if m is None:
            continue
        dur = (s["end"] - s["start"]) / 1e3
        if s["kind"] == "build":
            m["operators.build_s"] += dur
        elif s["kind"] == "isolate":
            m["cache.sweep_s"] += dur
    for r in records:
        m = out.get(r.get("op", ""))
        if m is None:
            continue
        t = r["t"]
        if t == "job":
            m["scheduler.jobs"] += 1
            sp = spans.get(int(r["span"])) if r["span"] else None
            if sp is not None and sp["kind"] == "build":
                m["operators.build_jobs"] += 1
        elif t == "stage":
            m["scheduler.stages"] += 1
            m["scheduler.tasks"] += r["tasks"]
            m["scheduler.task_failures"] += r["failed"]
            if r["num_tasks"] == 1:
                m["scheduler.serial_stages"] += 1
                m["scheduler.serial_stage_rows"] += r["in_rec"] + r["sr_rec"]
            if r["tasks"] >= 2:
                m["scheduler.task_skew"] = max(m["scheduler.task_skew"], r["skew"])
            m["tables.scan_rows"] += r["in_rec"]
            m["tables.scan_mb"] += r["in_bytes"] / 1e6
            if r["sw_rec"] > 0:
                m["exchange.count"] += 1
            if r["sr_rec"] > 0:
                m["exchange.partitions"] += r["tasks"]
            m["exchange.write_mb"] += r["sw_bytes"] / 1e6
            m["exchange.write_records"] += r["sw_rec"]
            m["exchange.write_s"] += r["sw_ns"] / 1e9
            m["exchange.fetch_wait_s"] += r["fetch_wait_ms"] / 1e3
            m["aggjoin.spill_mb"] += r["disk_spill"] / 1e6
            m["aggjoin.peak_task_mem_mb"] = max(m["aggjoin.peak_task_mem_mb"],
                                                r["peak_mem"] / 1e6)
            m["functions.cpu_s"] += r["cpu_ns"] / 1e9
            m["functions.gc_s"] += r["gc_ms"] / 1e3
            m["_run_ms"] += r["run_ms"]
            m["_cpu_rows"] += r["in_rec"] + r["sr_rec"]
            if r["start"] is not None and r["end"] is not None:
                intervals[r["op"]].append((r["start"], r["end"]))
        elif t == "qe":
            ph = r["phases"]
            for phase, name in (("analysis", "plans.analyze_s"),
                                ("optimization", "plans.optimize_s"),
                                ("planning", "plans.physical_s")):
                if phase in ph:
                    m[name] += (ph[phase][1] - ph[phase][0]) / 1e3
            for k, v in r["metrics"].items():
                node, _, key = k.partition(".")
                if node == "FileSourceScanExec" and key == "scanTime":
                    m["tables.scan_s"] += v
                elif node == "BroadcastExchangeExec" and key == "dataSize":
                    m["exchange.broadcast_mb"] += v / 1e6
                elif node == "BroadcastExchangeExec" and key in BROADCAST_TIMES:
                    m["exchange.broadcast_s"] += v
                if node in AGG_TIME_NODES and key == "aggTime":
                    m["aggjoin.agg_s"] += v
                elif node == "SortExec" and key == "sortTime":
                    m["aggjoin.sort_s"] += v
                elif key == "buildTime" and node in ("ShuffledHashJoinExec",
                                                     "BroadcastExchangeExec"):
                    m["aggjoin.join_build_s"] += v
                elif node == "WholeStageCodegenExec" and key == "pipelineTime":
                    m["functions.codegen_s"] += v
        elif t == "progress":
            d = r["durations"]
            m["streaming.add_batch_ms"] += d.get("addBatch", 0)
            m["streaming.wal_commit_ms"] += d.get("walCommit", 0)
            m["streaming.commit_offsets_ms"] += d.get("commitOffsets", 0)
            m["streaming.query_planning_ms"] += d.get("queryPlanning", 0)
            m["streaming.state_commit_ms"] += r["state_commit_ms"]
            # state at the op's last batch: the final, largest state
            m["streaming.state_rows"] = r["state_rows"]
            m["streaming.state_mb"] = r["state_bytes"] / 1e6
        elif t == "blocks":
            m["cache.block_mb_peak"] = max(m["cache.block_mb_peak"],
                                           r["peak_bytes"] / 1e6)
    for k, m in out.items():
        s = ops[k]
        m["scheduler.driver_gap_s"] = driver_gap((s["start"], s["end"]), intervals[k]) / 1e3
        m["scheduler.core_busy_frac"] = m["_run_ms"] / 1e3 / max(m["wall_s"] * cores, 1e-9)
        m["functions.cpu_ns_per_row"] = (m["functions.cpu_s"] * 1e9 / m["_cpu_rows"]
                                         if m["_cpu_rows"] else 0.0)
    return out


def workload_metrics(op_metrics, passes, cores):
    """Per-pass layer metrics of the whole workload."""
    total = _zero()
    wall = run_ms = cpu_rows = 0.0
    for m in op_metrics.values():
        wall += m["wall_s"]
        run_ms += m["_run_ms"]
        cpu_rows += m["_cpu_rows"]
        for name, _, agg in METRICS:
            if agg == "sum":
                total[name] += m[name] / passes
            elif agg == "max":
                total[name] = max(total[name], m[name])
    total["scheduler.core_busy_frac"] = run_ms / 1e3 / max(wall * cores, 1e-9)
    total["functions.cpu_ns_per_row"] = (total["functions.cpu_s"] * passes * 1e9 / cpu_rows
                                         if cpu_rows else 0.0)
    return total
