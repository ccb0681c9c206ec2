#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one measured run.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness from source with scalac (cached under
.bench_build/ by a hash of the sources), generates the workload's tables
from the seed (perfbench/datagen.py), runs the JVM harness at
local[nproc] (perfbench/harness/), checks every output (batch queries
against DuckDB over SparkEntry.oracleSql, stream heads against their batch
twins), prints a report and, as the last line of stdout, one JSON object:
  {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones of the traced half of the run. Workloads and their reasons:
perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
SETUP_REPS = 3
HARNESS_TIMEOUT_S = 165


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    return m.group(1) if m else None


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    harness = os.path.join(HERE, "harness")
    files = []
    for d in (main, harness):
        for dp, _, fs in os.walk(d):
            files += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def build(jars):
    """Compile graft's main sources and the harness into one classes dir,
    keyed by a hash of every source file."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    key = h.hexdigest()[:16]
    out = os.path.join(BUILD, f"classes-{key}")
    if os.path.exists(os.path.join(out, ".done")):
        return out, key
    os.makedirs(BUILD, exist_ok=True)
    for old in os.listdir(BUILD):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    t0 = time.monotonic()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp] + files,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=850)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        die("build failed")
    open(os.path.join(tmp, ".done"), "w").close()
    os.rename(tmp, out)
    print(f"built {len(files)} sources in {time.monotonic() - t0:.1f} s", file=sys.stderr)
    return out, key


def data_dir(sf, seed):
    """Generated tables for (sf, seed), reused across runs."""
    d = os.path.join(BUILD, "data", f"sf{sf}-seed{seed}")
    if not os.path.exists(os.path.join(d, ".done")):
        shutil.rmtree(d, ignore_errors=True)
        datagen.generate(d, sf, seed)
        open(os.path.join(d, ".done"), "w").close()
    return d


def box():
    with open("/proc/loadavg") as f:
        la = f.read().split()
    mem = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                mem = int(line.split()[1]) // 1024
    return {"load1": float(la[0]), "load5": float(la[1]), "mem_available_mb": mem}


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() or None if r.returncode == 0 else None
    except OSError:
        return None


def run_harness(classes, jars, wl, ops, data, args, cores, out):
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in JVM_OPENS] +
           ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-Xss4m", f"-Djava.io.tmpdir={out}/tmp",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}:{os.path.join(jars, '*')}", "perfbench.Harness",
            "--workload", wl, "--ops", ",".join(ops), "--data", data,
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--seed", str(args.seed), "--cores", str(cores),
            "--setup-reps", str(SETUP_REPS), "--out", out])
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    with open(os.path.join(out, "harness.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
    res = os.path.join(out, "result.json")
    if p.returncode != 0 or not os.path.exists(res):
        return None
    with open(res) as f:
        return json.load(f)


def check_oracles(result, data):
    """Hash each dumped batch output and its oracle with tools/check.py's
    rule (rows, column names, value hash over sorted rows)."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    from check import table_hash
    con = duckdb.connect()
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{data}/{f}')")
    cache_path = os.path.join(BUILD, "oracle-cache.json")
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    with open(os.path.join(HERE, "datagen.py"), "rb") as f:
        gen_key = hashlib.sha256(f.read()).hexdigest()[:12]
    for op, chk in result["checks"].items():
        if chk["kind"] != "oracle":
            continue
        sql = result["oracle_sql"].get(chk["oracle"])
        if sql is None:
            chk.update(ok=False, detail="no oracle SQL")
            continue
        try:
            got = table_hash(con, f"SELECT * FROM read_parquet('{chk['dump']}/*.parquet')")
            ck = hashlib.sha256(f"{gen_key}|{os.path.basename(data)}|{sql}".encode()).hexdigest()
            if ck not in cache:
                cache[ck] = list(table_hash(con, sql))
            want = cache[ck]
            ok = got[0] == want[0] and list(got[1]) == list(want[1]) and got[2] == want[2]
            chk.update(ok=ok, detail=f"rows {got[0]}/{want[0]} hash "
                                     f"{'match' if got[2] == want[2] else 'MISMATCH'}")
        except Exception as e:  # a failed compare is a failed check
            chk.update(ok=False, detail=f"compare failed: {e}")
    with open(cache_path, "w") as f:
        json.dump(cache, f)


def end_to_end(result):
    samples = [s for s in result["samples"] if not s["traced"]]
    ops = result["ops"]
    by_op = {op: [s["seconds"] for s in samples if s["op"] == op and s["ok"]] for op in ops}
    med = {op: stats.median(v) for op, v in by_op.items() if v}
    passes = {}
    for s in samples:
        passes.setdefault(s["pass"], []).append(s)
    pass_s = [sum(s["seconds"] for s in ps) for ps in passes.values()
              if len(ps) == len(ops) and all(s["ok"] for s in ps)]
    rates = []
    for op in ops:
        rows = next((s["rows"] for s in samples if s["op"] == op and s["rows"]), 0)
        rows = rows or result["checks"].get(op, {}).get("in_rows", 0)
        if rows and med.get(op):
            rates.append(rows / med[op])
    streaming = any(s["batch_ms"] for s in samples)
    lat = ([b for s in samples for b in s["batch_ms"]] if streaming
           else [s["seconds"] * 1e3 for s in samples if s["ok"]])
    vals = {
        "setup_s": stats.median(result["setup_s"]),
        "pass_s": stats.median(pass_s),
        "query_geomean_s": stats.geomean(med.values()) if len(med) == len(ops) else None,
        "rows_per_s": stats.geomean(rates),
        "op_p50_ms": stats.percentile(lat, 50) if lat else None,
        "op_p90_ms": stats.percentile(lat, 90) if lat else None,
        "peak_rss_mb": result["peak_rss_mb"],
    }
    info = {"per_op_median_s": med, "passes": len(pass_s), "latency_samples": len(lat),
            "latency_unit": "micro-batch" if streaming else "query run",
            "tail_percentile_rule": stats.tail_percentile(len(lat))}
    return vals, info


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as f:
        cfg = json.load(f)
    # the declared metrics: end-to-end without tracing, per-layer with it
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    if args.workload not in cfg["workloads"]:
        die(f"unknown workload {args.workload}; known: {', '.join(cfg['workloads'])}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("graft sources (src/main/scala/graft) not found next to perfbench/")
    if not os.path.exists(os.path.join(ROOT, "tools", "check.py")):
        die("tools/check.py (the output hash rule) not found")
    if not os.path.exists(os.path.join(ROOT, "build.sbt")):
        die("build.sbt (which names the Spark jar directory) not found")
    jars = spark_jars()
    if not jars or not os.path.isdir(jars) or shutil.which("java") is None:
        die(f"java and the Spark jars ({jars}) are required")

    wl = cfg["workloads"][args.workload]
    cores = os.cpu_count()
    box_pre = box()
    if box_pre["load1"] >= 0.25 * cores:
        print(f"perfbench: box not idle at start: load1={box_pre['load1']} "
              f">= 0.25 x {cores} cores; timings are not comparison-grade",
              file=sys.stderr)
    phase_s = {}
    t = time.monotonic()
    classes, src_key = build(jars)
    phase_s["build"] = time.monotonic() - t
    t = time.monotonic()
    data = data_dir(wl["sf"], args.seed)
    phase_s["datagen"] = time.monotonic() - t
    t = time.monotonic()
    out = os.path.join(BUILD, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    result = run_harness(classes, jars, args.workload, wl["ops"], data, args, cores, out)
    if result is None:
        with open(os.path.join(out, "harness.log")) as f:
            print(f.read()[-3000:], file=sys.stderr)
        die("the harness failed; log above")
    phase_s["harness"] = time.monotonic() - t
    t = time.monotonic()
    check_oracles(result, data)
    phase_s["oracle"] = time.monotonic() - t
    box_post = box()

    attempted = len(result["samples"]) + len(result["checks"])
    failed = (sum(not s["ok"] for s in result["samples"]) +
              sum(not c["ok"] for c in result["checks"].values()))
    e2e, info = end_to_end(result)
    report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "nproc": cores, "sf": wl["sf"],
              "box_pre": box_pre, "box_post": box_post,
              "idle_start": box_pre["load1"] < 0.25 * cores,
              "git_commit": git_commit(), "source_hash": src_key,
              "failed_frac": failed / attempted, "end_to_end": e2e, "info": info,
              "checks": result["checks"], "setup_reps_s": result["setup_s"],
              "check_s": result["check_s"], "warm_s": result["warm_s"], "phase_s": phase_s}
    print(f"workload {args.workload}  seed {args.seed}  nproc {cores}  sf {wl['sf']}  "
          f"commit {report['git_commit'] or '-'}  sources {src_key}")
    print(f"load1 {box_pre['load1']} -> {box_post['load1']}  "
          f"MemAvailable {box_pre['mem_available_mb']} MB  idle_start {report['idle_start']}")
    for op, chk in result["checks"].items():
        print(f"  check {op:32s} {'ok  ' if chk['ok'] else 'FAIL'} {chk.get('detail', '')}")
    for op, m in sorted(info["per_op_median_s"].items()):
        print(f"  {op:32s} median {m:8.3f} s")
    print(f"  passes {info['passes']}  latency samples {info['latency_samples']} "
          f"({info['latency_unit']}; ten-beyond percentile p{info['tail_percentile_rule']})  "
          f"failed_frac {report['failed_frac']:.4f} ({failed}/{attempted})")
    for name, v in e2e.items():
        print(f"  {name:20s} {v if v is None else round(v, 4)}")

    if args.trace:
        passes = {}
        for s in result["samples"]:
            passes.setdefault((s["traced"], s["pass"]), []).append(s["seconds"])
        traced_passes = [v for (t, p), v in passes.items() if t]
        untraced_passes = [v for (t, p), v in passes.items() if not t]
        recs = layers.load(os.path.join(out, "trace.jsonl"))
        per_op = layers.per_op(recs, cores)
        layer = layers.workload_metrics(per_op, len(traced_passes), cores)
        layer["trace.overhead_x"] = (stats.median([sum(v) for v in traced_passes]) /
                                     stats.median([sum(v) for v in untraced_passes])
                                     if traced_passes and untraced_passes else None)
        report["per_layer"] = layer
        report["per_op_layers"] = per_op
        units = {n: u for n, u, _ in layers.METRICS}
        units["trace.overhead_x"] = "x"
        print(f"  per-layer (per pass, {len(traced_passes)} traced passes; "
              f"spans in {os.path.relpath(out, ROOT)}/trace.jsonl)")
        for name, v in layer.items():
            print(f"    {name:32s} {v if v is None else round(v, 4)} {units[name]}")
        wanted = declared["per_layer"]
        metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]} for m in wanted}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in declared["end_to_end"]}

    with open(os.path.join(out, "report.json"), "w") as f:
        json.dump(report, f, indent=1)
    for d in ("tmp", "warehouse", "dump"):
        shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    missing = [n for n, m in metrics.items() if m["value"] is None]
    if missing:
        die(f"metrics not measured: {', '.join(missing)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
