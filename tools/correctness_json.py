#!/usr/bin/env python3
"""check_oracle.py's artifact-emitting sibling (dev tool only; the engine is
pure Scala/Spark): runs the same DuckDB compare and writes a driver-format
correctness JSON — used for the round-18 sf1 (x10 MakeScale corpus) artifact,
where the oracle itself can be the cost and a per-query wall-clock budget +
an explicit skip list (recorded IN the artifact, never silently) are needed.

Usage:
  python3 tools/correctness_json.py <verifyOutDir> <sfDir> <outJson> \
      [--timeout SEC] [--only name ...] [--skip name ...]

--only re-runs just the named queries and MERGES their rows into an
existing outJson (used to refresh rows after a fix, or to re-run the
slow oracles with a bigger budget).

Per query the artifact records the driver's row shape
(rows/schema/hash match, row counts, err) plus oracle wall seconds; skipped
queries get err="skipped: <reason>" so exclusions are auditable.
"""
import json, sys, hashlib, threading, time
import duckdb, pyarrow.parquet as pq
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> str:
    # value-identical to check_oracle.py's canon (same cell() semantics per
    # element), vectorized per column: the row-wise apply is ~10k rows/s,
    # which at sf1's million-row outputs would dominate the whole compare
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        if isinstance(v, float):
            return repr(round(v, 9))
        s = str(v)
        if s.endswith(" 00:00:00"):
            s = s[:-9]
        return s
    # apply(axis=1) builds each row as a Series, which UPCASTS all-numeric
    # rows to their common dtype — an int column next to a float column is
    # hashed as '0.0', not '0'. Reproduce exactly: all-int/uint/float frames
    # upcast every column to the numpy common type first; any other mix
    # (bool, object, datetime, Decimal) makes the row Series object-dtyped,
    # which PRESERVES per-column types, so per-column conversion is exact.
    import numpy as np
    kinds = {df[c].dtype.kind for c in df.columns}
    if kinds and kinds <= set("iuf") and "f" in kinds:
        target = np.result_type(*[df[c].dtype for c in df.columns])
        conv = {c: df[c].astype(target) for c in df.columns}
    else:
        conv = {c: df[c] for c in df.columns}
    cols = []
    for c in df.columns:
        s = conv[c]
        # int/bool dtypes cannot hold NULL and astype(str) == str(v) exactly
        if s.dtype.kind in "iub":
            cols.append(s.astype(str))
        else:
            cols.append(s.map(cell))
    joined = cols[0].str.cat(cols[1:], sep="|") if len(cols) > 1 else cols[0]
    return hashlib.md5("\n".join(joined.tolist()).encode()).hexdigest()


def main():
    args = sys.argv[1:]
    outdir, sfdir, outjson = args[0], args[1], args[2]
    timeout = 0.0
    skip = set()
    only = set()
    i = 3
    while i < len(args):
        if args[i] == "--timeout":
            timeout = float(args[i + 1]); i += 2
        elif args[i] == "--only":
            i += 1
            while i < len(args) and not args[i].startswith("--"):
                only.add(args[i]); i += 1
        elif args[i] == "--skip":
            i += 1
            while i < len(args) and not args[i].startswith("--"):
                skip.add(args[i]); i += 1
        else:
            raise SystemExit(f"unknown arg {args[i]}")
    oracles = json.load(open(f"{outdir}/oracle_sql.json"))
    # a typo'd name in EITHER list must be loud: an unmatched --skip would
    # silently RUN the intractable oracle the skip exists for (the
    # discipline the BENCH_sf1_probe*.json runs kept for their block tags)
    for flag, names in (("--only", only), ("--skip", skip)):
        missing = names - set(oracles)
        if missing:
            raise SystemExit(f"{flag} names with no oracle entry: {sorted(missing)}")
    if only:
        oracles = {k: v for k, v in oracles.items() if k in only}
    con = duckdb.connect()
    import os
    for t in TABLES:
        # driver testdata ships single files; MakeScale corpora (e.g.
        # /tmp/sf1) are Spark-written DIRECTORIES of part files
        p = f"{sfdir}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    results = {}
    for name, sql in sorted(oracles.items()):
        if name in skip:
            results[name] = {"rows_match": None, "schema_match": None,
                             "hash_match": None, "spark_rows": None,
                             "oracle_rows": None,
                             "err": "skipped: oracle intractable at this scale"}
            print(f"{name}: SKIPPED")
            continue
        row = {"rows_match": False, "schema_match": False, "hash_match": False,
               "spark_rows": None, "oracle_rows": None, "err": None}
        try:
            spark_df = pq.read_table(f"{outdir}/{name}").to_pandas()
            row["spark_rows"] = len(spark_df)
        except Exception as e:
            row["err"] = f"spark read: {e}"
            results[name] = row
            print(f"{name}: SPARK READ FAIL")
            continue
        # wall-clock budget on the DuckDB side only: an interrupt fired from
        # a timer thread makes the execute raise instead of running for hours.
        # The interrupt is gated on a per-query done flag: without it the
        # timer can fire in the window between fetchdf() returning and
        # timer.cancel(), leaving a pending interrupt on the SHARED
        # connection that spuriously aborts the NEXT query — a false
        # failure row in the artifact (round-19 advice item 1).
        timer = None
        done = threading.Event()
        if timeout > 0:
            timer = threading.Timer(
                timeout, lambda: None if done.is_set() else con.interrupt())
            timer.start()
        t0 = time.time()
        try:
            ora_df = con.execute(sql).fetchdf()
            done.set()
            row["oracle_sec"] = round(time.time() - t0, 2)
            row["oracle_rows"] = len(ora_df)
        except Exception as e:
            done.set()
            row["err"] = f"oracle: {type(e).__name__}: {e}"
            row["oracle_sec"] = round(time.time() - t0, 2)
            results[name] = row
            print(f"{name}: ORACLE FAIL/TIMEOUT after {row['oracle_sec']}s")
            continue
        finally:
            if timer:
                timer.cancel()
                # cancel() does not close the race: the timer can fire in the
                # window between fetchdf() returning and done.set(), and inside
                # the timer lambda between done.is_set() and con.interrupt() —
                # either leaves a pending interrupt on the SHARED connection
                # that would spuriously abort the NEXT query (round-20 advice
                # item 2). join() first: cancel() does not wait for a RUNNING
                # callback, so draining before the callback finishes could
                # still leave its interrupt pending; join returns promptly
                # for a cancelled-unfired timer and waits out a running one.
                timer.join()
                # Now any orphaned interrupt is already issued — drain it
                # with a throwaway query that absorbs the abort.
                try:
                    con.execute("SELECT 1").fetchall()
                except Exception:
                    pass
        row["rows_match"] = len(spark_df) == len(ora_df)
        row["schema_match"] = sorted(map(str.lower, spark_df.columns)) == \
            sorted(map(str.lower, ora_df.columns))
        spark_df.columns = [c.lower() for c in spark_df.columns]
        ora_df.columns = [c.lower() for c in ora_df.columns]
        row["hash_match"] = row["rows_match"] and row["schema_match"] and \
            canon(spark_df) == canon(ora_df)
        results[name] = row
        status = "OK" if row["hash_match"] else "MISMATCH"
        print(f"{name}: {status} ({len(spark_df)} vs {len(ora_df)}) "
              f"{row['oracle_sec']}s")
    if only:
        import os as _os
        prior = json.load(open(outjson)) if _os.path.exists(outjson) else {}
        prior.update(results)
        results = prior
    with open(outjson, "w") as f:
        json.dump(results, f, indent=1)
    bad = [k for k, v in results.items()
           if not v["hash_match"] and not (v["err"] or "").startswith("skipped")]
    skipped = [k for k, v in results.items()
               if (v["err"] or "").startswith("skipped")]
    print(f"FAILED: {bad if bad else 'none'}  (skipped: {len(skipped)})")


if __name__ == "__main__":
    main()
