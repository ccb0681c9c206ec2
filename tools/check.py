#!/usr/bin/env python3
"""Local correctness check mirroring the driver's DuckDB compare.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [query,query,...]

Reads each <verifyOutDir>/<query> parquet dump (written by graft.Verify),
runs the matching oracle SQL from oracle_sql.json in DuckDB over the same
sf tables, and compares rows / schema / a value hash after sorting columns
by name. Exit 1 on any mismatch, and on any expected name (the listed
ones, else every registered query) without a dump: ENGINE_OUTPUT_MISSING
if it is registered (registered.json, written by graft.Verify beside
oracle_sql.json), UNKNOWN_QUERY if not. A dump dir without registered.json
falls back to the oracle-paired names. Local-iteration tooling only —
the driver runs its own equivalent.
"""
import json
import os
import sys

import duckdb


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(con, rel_sql):
    df = con.sql(rel_sql).df()
    cols = sorted(df.columns)
    rows = sorted(
        tuple(norm(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )
    import hashlib

    h = hashlib.md5()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return len(rows), cols, h.hexdigest()


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = {q for q in sys.argv[3].split(",") if q} if len(sys.argv) > 3 else None
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    reg_path = os.path.join(out_dir, "registered.json")
    registered = set(json.load(open(reg_path))) if os.path.exists(reg_path) else set(oracle)

    def fresh_con():
        c = duckdb.connect()
        for t in ["region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"]:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                c.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        return c

    con = fresh_con()

    # optional per-query wall-clock bound (CHECK_TIMEOUT_S env var):
    # the deliberately quadratic all-pairs oracles (dedup_jaccard
    # family at sf >= 1) would otherwise stall a full-registry sweep
    # for hours; a timed-out query is reported, not failed — matching
    # the historical ORACLE_TIMEOUT record in CORRECTNESS_SF1.txt.
    timeout_s = int(os.environ.get("CHECK_TIMEOUT_S", "0"))
    # CHECK_JSON_OUT=<path>: also write the per-query results as the
    # CORRECTNESS_*.json artifact shape ({"results": {name: {...}}});
    # the caller owns the "_meta" block (merged if the file exists)
    json_out = os.environ.get("CHECK_JSON_OUT")
    results = {}
    failures = 0
    for name in sorted(os.listdir(out_dir)):
        qdir = os.path.join(out_dir, name)
        if not os.path.isdir(qdir) or (only and name not in only):
            continue
        if name not in oracle:
            print(f"{name}: no oracle (rows-only)")
            results[name] = {"rows_only_by_design": True, "err": None}
            continue
        timer = None
        fired = None
        phase = "engine-output"
        if timeout_s:
            # a SIGALRM handler cannot preempt duckdb's C execution
            # (the GIL is held); interrupt() from a watchdog thread can
            import threading
            fired = threading.Event()

            def interrupt(c=con, f=fired):
                f.set()
                c.interrupt()

            timer = threading.Timer(timeout_s, interrupt)
            timer.start()
        try:
            sr, sc, sh = table_hash(con, f"SELECT * FROM read_parquet('{qdir}/*.parquet')")
            phase = "oracle"
            orr, oc, oh = table_hash(con, oracle[name])
            if timer is not None:
                # cancel() does not wait for an in-flight callback — join
                # the timer thread so the callback either ran (fired set)
                # or never will, before we inspect `fired` below
                timer.cancel()
                timer.join()
        except duckdb.InterruptException:
            if timer is not None:
                timer.cancel()
            # name the query that was actually running: a slow ENGINE
            # dump read is not an oracle problem
            label = "ORACLE_TIMEOUT" if phase == "oracle" else "READ_TIMEOUT"
            print(f"{name}: {label}_{timeout_s}s (during {phase} query)")
            results[name] = {"err": f"{label}_{timeout_s}s"}
            # an interrupted connection may hold leftover interrupt
            # state; start clean so the next query cannot be aborted
            con = fresh_con()
            continue
        # the timer can fire in the gap between query completion and
        # cancel(), leaving a PENDING interrupt that would abort the
        # next query and mislabel it as a timeout — detect the race
        # and drop the connection instead of carrying it forward
        if fired is not None and fired.is_set():
            con = fresh_con()
        ok = (sr == orr) and (sc == oc) and (sh == oh)
        print(f"{name}: rows {sr}/{orr} schema_match={sc == oc} hash_match={sh == oh}"
              + ("" if ok else "  <-- MISMATCH"))
        results[name] = {
            "rows_match": sr == orr, "schema_match": sc == oc,
            "hash_match": sh == oh, "spark_rows": sr, "oracle_rows": orr,
            "err": None,
        }
        if not ok:
            failures += 1
            if sc != oc:
                print(f"   spark cols: {sc}\n   oracle cols: {oc}")
    # every expected name needs an engine dump: a registered query with
    # none failed in Verify (ENGINE_OUTPUT_MISSING), and a requested name
    # that is not registered was never a query (UNKNOWN_QUERY) — either
    # way the run must fail, not report a check of nothing.
    # Expected = the requested subset, or every registered query.
    for name in sorted(only if only is not None else registered):
        if name not in results and not os.path.isdir(os.path.join(out_dir, name)):
            label = "ENGINE_OUTPUT_MISSING" if name in registered else "UNKNOWN_QUERY"
            print(f"{name}: {label}  <-- MISMATCH")
            results[name] = {"err": label}
            failures += 1
    if json_out:
        doc = {}
        if os.path.exists(json_out):
            with open(json_out) as f:
                doc = json.load(f)
        doc.setdefault("results", {}).update(results)
        with open(json_out, "w") as f:
            json.dump(doc, f, indent=1)
            f.write("\n")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
