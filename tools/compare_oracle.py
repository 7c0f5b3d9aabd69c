#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB oracle compare.

Usage: python3 tools/compare_oracle.py <sfDir> <verifyOutDir> \
           [--jobs N] [--jsonl PATH] [--summary PATH] [--only q1,q2]

Registers each testdata parquet as a view named after the table, runs every
oracle_sql.json entry, and compares against the Spark parquet dump: columns
sorted by name, rows sorted, values hashed (floats rounded via repr).

Robustness + speed contract (round-10 verdict item 2):
  * per-query verdicts FLUSH to --jsonl as they complete, so a killed run
    still leaves machine-readable results for everything that finished;
  * queries run in a process pool (--jobs, default sized from the host:
    min(cpus, 8), capped by available memory — see default_jobs) with
    per-connection DuckDB thread caps, keeping the sweep to minutes;
  * a worker death breaks the whole pool and fails every query still in it
    with BrokenProcessPool — those queries are rerun one at a time, each in
    a fresh one-worker pool, so only a query that ALSO crashes on its own is
    reported as a COMPARE CRASH;
  * a Spark output directory with NO oracle entry is recorded as an explicit
    rows-only verdict (the driver contract's documented weaker check for
    non-SQL-expressible ops), never silently skipped;
  * --summary writes one aggregate JSON {query: {rows, schema, hash}} plus
    commit SHA + timestamp — the committable CORRECTNESS artifact shape.
"""
import sys, json, glob, os, time, subprocess, argparse
from concurrent.futures import ProcessPoolExecutor, as_completed
from concurrent.futures.process import BrokenProcessPool

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

_SF_DIR = None  # set in worker via initializer


def _init(sf_dir):
    global _SF_DIR
    _SF_DIR = sf_dir


def _canon(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def _spark_df(out_dir, name):
    import pandas as pd
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not files:
        return None
    return _canon(pd.concat([pd.read_parquet(f) for f in sorted(files)]))


def compare_one(name, sql, out_dir):
    """Full oracle compare for one query. Returns a verdict dict."""
    import duckdb
    import pandas as pd
    t0 = time.time()
    v = {"query": name, "mode": "oracle", "rows": False, "schema": False,
         "hash": False, "detail": ""}
    spark_df = _spark_df(out_dir, name)
    if spark_df is None:
        v["detail"] = "MISSING spark output"
        v["secs"] = round(time.time() - t0, 2)
        return v
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    # spill away from the repo (a killed sf0.1 run once left 79 GB in
    # ./.tmp and filled the disk); /tmp is cleaned by the OS
    os.makedirs("/tmp/duckdb_spill", exist_ok=True)
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    for t in TABLES:
        p = f"{_SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    try:
        duck_df = _canon(con.sql(sql).df())
    except Exception as e:
        v["detail"] = f"ORACLE SQL ERROR: {e}"
        v["secs"] = round(time.time() - t0, 2)
        return v
    v["schema"] = list(spark_df.columns) == list(duck_df.columns)
    v["rows"] = len(spark_df) == len(duck_df)
    v["n_spark"], v["n_duck"] = len(spark_df), len(duck_df)
    if v["schema"] and v["rows"]:
        try:
            pd.testing.assert_frame_equal(
                spark_df, duck_df, check_dtype=False, check_exact=True)
            # the driver hashes VALUE REPRS after pandas conversion, so a
            # value-equal-but-dtype-skewed pair (Spark BIGINT "10" vs a
            # DuckDB HUGEINT sum that pandas renders float64 "10.0") fails
            # at the driver even though the exact compare above passes —
            # round 12 shipped 12 such queries. Mirror the driver: the
            # stringified frames must ALSO be identical.
            pd.testing.assert_frame_equal(
                spark_df.astype(str), duck_df.astype(str), check_exact=True)
            v["hash"] = True
        except AssertionError as e:
            v["detail"] = "VALUE MISMATCH: " + " | ".join(str(e).split("\n")[0:6])
    elif not v["schema"]:
        v["detail"] = (f"spark cols={list(spark_df.columns)} "
                       f"duck cols={list(duck_df.columns)}")
    v["secs"] = round(time.time() - t0, 2)
    return v


def rows_only_one(name, out_dir):
    """Weaker gate for non-SQL-expressible queries: output exists, rows > 0."""
    import pandas as pd
    t0 = time.time()
    v = {"query": name, "mode": "rows_only", "rows": False, "schema": False,
         "hash": False, "detail": ""}
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    # no canon: rows-only outputs may carry array columns (e.g. a PCA
    # projection), which pandas cannot sort — and there is nothing to
    # compare against anyway, only presence + row count
    spark_df = None if not files else \
        pd.concat([pd.read_parquet(f) for f in sorted(files)])
    if spark_df is None:
        v["detail"] = "MISSING spark output"
    else:
        v["rows"] = len(spark_df) > 0
        v["schema"] = True  # schema is whatever Spark dumped; recorded, not compared
        v["hash"] = v["rows"]  # rows-only: presence IS the (weaker) verdict
        v["n_spark"] = len(spark_df)
        v["detail"] = f"rows-only check: cols={list(spark_df.columns)}"
    v["secs"] = round(time.time() - t0, 2)
    return v


# peak RSS of one worker replaying the heaviest oracles at sf0.01 (a worker
# was OOM-killed at 6.05 GB with four running on a 15 GB host); the
# costliest-first schedule starts the heaviest queries together
WORKER_PEAK_BYTES = 6 << 30


def default_jobs():
    """Pool size from the host: min(cpus, 8), and no more workers than the
    available memory holds at WORKER_PEAK_BYTES each (at least one)."""
    jobs = min(os.cpu_count() or 1, 8)
    try:
        with open("/proc/meminfo") as fh:
            avail = next(int(ln.split()[1]) * 1024 for ln in fh
                         if ln.startswith("MemAvailable:"))
        jobs = min(jobs, max(1, avail // WORKER_PEAK_BYTES))
    except (OSError, StopIteration):
        pass
    return jobs


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("--jobs", type=int, default=default_jobs())
    ap.add_argument("--jsonl", default=None,
                    help="per-query verdict JSONL, flushed as results land")
    ap.add_argument("--summary", default=None,
                    help="aggregate JSON artifact (CORRECTNESS shape)")
    ap.add_argument("--only", default=None, help="comma-separated query names")
    args = ap.parse_args()

    oracles = json.load(open(f"{args.out_dir}/oracle_sql.json"))
    # every dumped output participates: oracle-gated if it has SQL, rows-only
    # otherwise (the driver contract's documented carve-out)
    dumped = sorted(os.path.basename(d) for d in glob.glob(f"{args.out_dir}/q*")
                    if os.path.isdir(d))
    names = sorted(set(oracles) | set(dumped))
    if args.only:
        keep = set(args.only.split(","))
        names = [n for n in names if n in keep]

    t_start = time.time()
    jsonl_path = args.jsonl or f"{args.out_dir}/compare_results.jsonl"
    # costliest-first scheduling: a handful of oracles (rebalance, graph
    # rebuild, unrolled Lloyd chains) run for minutes each — if one starts
    # last it alone sets the wall time. Use measured per-query secs from a
    # prior run's JSONL (same path), falling back to the committed seed
    # costs, falling back to SQL length.
    costs = {}
    seed = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "benchlog", "compare_costs.json")
    if os.path.exists(seed):
        try:
            costs.update(json.load(open(seed)))
        except Exception:
            pass
    if os.path.exists(jsonl_path):
        try:
            for line in open(jsonl_path):
                r = json.loads(line)
                costs[r["query"]] = r.get("secs", 0.0)
        except Exception:
            pass
    names = sorted(
        names, key=lambda n: -costs.get(n, len(oracles.get(n, "")) / 1e6))
    jsonl = open(jsonl_path, "w", buffering=1)
    results = {}
    n_bad = 0

    def submit(ex, name):
        if name in oracles:
            return ex.submit(compare_one, name, oracles[name], args.out_dir)
        return ex.submit(rows_only_one, name, args.out_dir)

    def crash(name, e):
        return {"query": name, "mode": "error", "rows": False,
                "schema": False, "hash": False,
                "detail": f"COMPARE CRASH: {e}", "secs": 0.0}

    def record(v):
        nonlocal n_bad
        results[v["query"]] = v
        ok = v["rows"] and v["schema"] and v["hash"]
        if not ok:
            n_bad += 1
        tag = "OK" if ok else "FAIL"
        if v["mode"] == "rows_only":
            tag += " (rows-only)"
        line = f"{v['query']}: {tag}"
        if not ok:
            line += (f" schema={v['schema']} rows={v['rows']}"
                     f"({v.get('n_spark', '?')}/{v.get('n_duck', '?')})"
                     f" hash={v['hash']} {v['detail']}")
        print(line, flush=True)
        jsonl.write(json.dumps(v) + "\n")

    broken = []
    with ProcessPoolExecutor(max_workers=args.jobs,
                             initializer=_init,
                             initargs=(args.sf_dir,)) as ex:
        futs = {submit(ex, name): name for name in names}
        for fut in as_completed(futs):
            try:
                v = fut.result()
            except BrokenProcessPool:
                broken.append(futs[fut])  # the pool died, not this query
                continue
            except Exception as e:  # one bad query must not kill the sweep
                v = crash(futs[fut], e)
            record(v)
    if broken:
        print(f"[compare] pool broke; rerunning {len(broken)} queries serially",
              flush=True)
    for name in sorted(broken, key=names.index):
        with ProcessPoolExecutor(max_workers=1, initializer=_init,
                                 initargs=(args.sf_dir,)) as ex:
            try:
                v = submit(ex, name).result()
            except Exception as e:
                v = crash(name, f"{e} (also when run alone)")
        record(v)
    jsonl.close()

    if args.summary:
        try:
            sha = subprocess.check_output(
                ["git", "-C", os.path.dirname(os.path.abspath(__file__)) + "/..",
                 "rev-parse", "HEAD"]).decode().strip()
        except Exception:
            sha = "unknown"
        summary = {
            "commit": sha,
            "timestamp": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "sf_dir": args.sf_dir,
            "n_total": len(names),
            "n_ok": len(names) - n_bad,
            # per-query oracle-replay secs ride along so oracle-cost
            # regressions (the r13 empty-artifact class) are visible per
            # round; wall/cpu totals summarize the sweep's budget fit
            "compare_wall_secs": round(time.time() - t_start, 1),
            "compare_cpu_secs": round(sum(r.get("secs", 0.0)
                                          for r in results.values()), 1),
            "queries": {n: {"mode": r["mode"], "rows": r["rows"],
                            "schema": r["schema"], "hash": r["hash"],
                            "secs": r.get("secs", 0.0)}
                        for n, r in sorted(results.items())},
        }
        with open(args.summary, "w") as f:
            json.dump(summary, f, indent=1, sort_keys=True)
    print(f"TOTAL: {len(names) - n_bad}/{len(names)} OK", flush=True)
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main())
