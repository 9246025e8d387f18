"""Local replica of the driver's correctness gate.

Runs every registered query on Spark and its oracle SQL on DuckDB over
the same parquet (default sf0.01), then compares row count, column-name
set, and order-insensitive canonicalized values (columns sorted by name,
rows sorted lexicographically) — a stand-in for the driver's value-hash.

Usage: python tools/check.py [--sf DIR] [qid ...]
"""

from __future__ import annotations

import argparse
import datetime as dt
import math
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import duckdb  # noqa: E402

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")


def canon_cell(v) -> str:
    import numpy as np
    import pandas as pd

    if v is None:
        return "NULL"
    if isinstance(v, float) or isinstance(v, np.floating):
        f = float(v)
        if math.isnan(f):
            return "NULL"
        # NOTE: -0.0 is NOT normalized here. The driver's value-hash
        # distinguishes -0.0 from 0.0 (q_embed_covariance r4: local
        # pass / driver fail); queries must normalize sign-of-zero
        # themselves (`+ 0.0` after any round() that can yield -0.0).
        return repr(f)
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, pd.Timestamp):
        if pd.isna(v):
            return "NULL"
        return v.isoformat()
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    try:
        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass
    return str(v)


def canon_frame(pdf):
    # Column-wise extraction (NOT iterrows): iterrows() coerces every
    # all-numeric frame to a common float dtype, which masked exactly the
    # int-vs-double drift the driver's value-hash catches (q_math_funcs
    # sgn, round 1). Series.tolist() preserves each column's own dtype.
    cols = sorted(pdf.columns)
    rows = list(zip(*([canon_cell(v) for v in pdf[c].tolist()]
                      for c in cols))) if cols else []
    rows.sort()
    return cols, rows


def hygiene(spark) -> int:
    """Free everything a query left persisted, as the benchmark client
    does between queries, and return how many RDDs that was.
    ``clearCache()`` alone frees ``persist()``ed frames but not
    ``localCheckpoint`` RDDs, so a 477-query sweep would pile those up."""
    rdds = list(spark.sparkContext._jsc.getPersistentRDDs().values())
    spark.catalog.clearCache()
    for rdd in rdds:
        rdd.unpersist(True)
    return len(rdds)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--both-scales", action="store_true",
                    help="run the full sweep at sf0.01 AND sf0.1 — the "
                    "standing pre-round-final gate (the sf0.1 sweep "
                    "caught a round-half tie divergence sf0.01 missed)")
    ap.add_argument("--json", metavar="PATH",
                    help="also write results as JSON (LOCAL_CORRECTNESS "
                    "record format)")
    ap.add_argument("--plain-session", action="store_true",
                    help="build a BARE SparkSession (no engine configs) "
                    "like the driver harness does — the pre-flight that "
                    "catches conf-dependent behavior before the driver "
                    "samples a query")
    ap.add_argument("--fixture-override", action="append", default=[],
                    metavar="QID=DIR",
                    help="run QID (Spark AND oracle) against DIR instead "
                    "of --sf. Exists for the one documented case where "
                    "the DENSE scalegen fixture makes a query's OUTPUT "
                    "itself quadratic (q_tfidf_cosine_pairs at sf1.0: "
                    "95-type vocabulary → every doc pairs with half the "
                    "corpus) while the realistic sparse-vocab fixture "
                    "exercises the same operator tractably — the "
                    "override turns the r9 'not_run' exclusion into a "
                    "standing hash-checked row (VERDICT r9 item 4)")
    ap.add_argument("qids", nargs="*")
    args = ap.parse_args()
    if args.both_scales:
        rc = 0
        for sf_dir, suffix in (("/root/testdata/sf0.01", ""),
                               ("/root/testdata/sf0.1", "_sf01")):
            argv = [sys.argv[0], "--sf", sf_dir, *args.qids]
            if args.plain_session:
                argv.insert(1, "--plain-session")
            if args.json:
                base = args.json.removesuffix(".json")
                argv[1:1] = ["--json", f"{base}{suffix}.json"]
            print(f"=== sweep at {sf_dir} ===")
            sys.argv = argv
            rc = max(rc, main())
        return rc

    import __spark_entry__ as entrymod
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()

    if args.plain_session:
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local[8]")
                 .appName("oracle-check-plain")
                 .config("spark.ui.enabled", "false")
                 .getOrCreate())
    else:
        from challenge8_movies_etl_spark.session import get_spark
        spark = get_spark("oracle-check")

    import os

    # Bound the oracle engine: an unbounded DuckDB materializing a
    # quadratic intermediate OOM-killed the r9 sf1.0 sweep at 102 GB
    # anon-rss (q_join_asof_nearest's inequality join) — cap memory
    # and give it a DISK temp dir so heavy oracles spill instead of
    # taking the process (and the whole sweep) down. Tunable via env
    # so two half-registry sweeps can co-exist inside host RAM.
    oracle_mem = os.environ.get("SPARK_GRAFT_ORACLE_MEM", "40GB")
    Path("/root/spill/duckdb_tmp").mkdir(parents=True, exist_ok=True)

    # optional oracle thread cap: one list-heavy oracle (q_ivfpq_ann
    # over a many-small-file fixture) was measured allocating ~60k
    # mmaps — at 32 threads it crosses the kernel's
    # vm.max_map_count=65530 ceiling and the PROCESS segfaults (r11:
    # three perturbation sweeps died there). 8 threads stays under
    # the ceiling; set SPARK_GRAFT_ORACLE_THREADS for hostile-physics
    # sweeps, leave unset for full-speed oracles.
    oracle_threads = os.environ.get("SPARK_GRAFT_ORACLE_THREADS")

    def _build_con(sf_root: str) -> duckdb.DuckDBPyConnection:
        c = duckdb.connect()
        c.execute(f"SET memory_limit='{oracle_mem}'")
        if oracle_threads:
            c.execute(f"SET threads={int(oracle_threads)}")
        c.execute("SET temp_directory='/root/spill/duckdb_tmp'")
        for t in TABLES:
            # driver fixtures are single files; tools/scalegen.py
            # output is a Spark-style directory of part files — glob
            src = f"{sf_root}/{t}.parquet"
            if Path(src).is_dir():
                src += "/*.parquet"
            c.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
        return c

    con = _build_con(args.sf)

    overrides: dict[str, str] = {}
    for spec in args.fixture_override:
        oqid, _, odir = spec.partition("=")
        if not odir or not Path(odir).is_dir():
            print(f"fixture-override {spec!r}: dir missing, ignored")
            continue
        # a mistyped QID with a valid dir would be stored and silently
        # never applied (r10 ADVICE item 4) — fail loudly instead
        if oqid not in queries:
            print(f"ERROR: fixture-override {spec!r}: unknown query id "
                  f"{oqid!r} (not in the registry)")
            return 2
        if args.qids and oqid not in args.qids:
            print(f"ERROR: fixture-override {spec!r}: {oqid!r} is not "
                  f"in the requested --qids set, override would never "
                  f"apply")
            return 2
        overrides[oqid] = odir
    override_cons: dict[str, duckdb.DuckDBPyConnection] = {
        odir: _build_con(odir) for odir in set(overrides.values())}

    qids = args.qids or sorted(queries)
    results: dict[str, dict] = {}
    leaked: dict[str, int] = {}  # persisted RDDs each query left behind
    n_pass = n_fail = n_rows_only = 0
    failures: list[str] = []
    for qid in qids:
        t0 = time.time()
        q_sf = overrides.get(qid, args.sf)
        q_con = override_cons.get(overrides.get(qid, ""), con)
        try:
            sdf = queries[qid](spark, q_sf)
            spd = sdf.toPandas()
        except Exception as exc:  # noqa: BLE001
            n_fail += 1
            failures.append(qid)
            results[qid] = {"status": "fail",
                            "err": f"Spark {type(exc).__name__}: {exc}"}
            print(f"FAIL  {qid}: Spark error: {type(exc).__name__}: {exc}")
            continue
        finally:
            leaked[qid] = hygiene(spark)
        if qid not in oracles:
            n_rows_only += 1
            results[qid] = {"status": "rows_only", "rows": len(spd)}
            print(f"rows  {qid}: {len(spd)} rows (rows-only, no oracle) "
                  f"[{time.time()-t0:.2f}s]")
            continue
        try:
            opd = q_con.execute(oracles[qid]).df()
        except Exception as exc:  # noqa: BLE001
            n_fail += 1
            failures.append(qid)
            results[qid] = {"status": "fail",
                            "err": f"DuckDB {type(exc).__name__}: {exc}"}
            print(f"FAIL  {qid}: DuckDB error: {type(exc).__name__}: {exc}")
            if "OutOfMemory" in type(exc).__name__ or "Memory" in str(exc):
                # an over-cap oracle leaves the shared connection's
                # buffer pool full — every later oracle then OOMs in a
                # false-FAIL cascade (r11: q_ivfpq_ann poisoned three
                # perturbation sweeps this way). Rebuild the poisoned
                # connection so one heavy oracle costs ONE row, not
                # the rest of the sweep.
                try:
                    q_con.close()
                except Exception:  # noqa: BLE001
                    pass
                fresh = _build_con(q_sf)
                if q_sf in override_cons:
                    override_cons[q_sf] = fresh
                else:
                    con = fresh
                print(f"      (rebuilt DuckDB connection after OOM "
                      f"on {qid})")
            continue
        # proactive map-count guard: a list-heavy oracle can leave tens
        # of thousands of mmaps cached in the DuckDB buffer pool; the
        # check.py process ALSO hosts the py4j/pyarrow driver side, so
        # at vm.max_map_count (65530) the next thread-stack mmap fails
        # and the whole process dies with std::system_error (r11:
        # q_ivfpq_ann over the perturbed fixture, measured 60k maps).
        # Rebuilding the connection releases the pool maps.
        try:
            n_maps = sum(1 for _ in open("/proc/self/maps"))
        except OSError:
            n_maps = 0
        if n_maps > 40_000:
            try:
                q_con.close()
            except Exception:  # noqa: BLE001
                pass
            fresh = _build_con(q_sf)
            if q_sf in override_cons:
                override_cons[q_sf] = fresh
            else:
                con = fresh
            q_con = fresh
            print(f"      (rebuilt DuckDB connection: process map "
                  f"count {n_maps} neared vm.max_map_count after "
                  f"{qid})")
        scols, srows = canon_frame(spd)
        ocols, orows = canon_frame(opd)
        msg = None
        if scols != ocols:
            msg = f"columns differ: spark={scols} oracle={ocols}"
        elif len(srows) != len(orows):
            msg = f"row counts differ: spark={len(srows)} oracle={len(orows)}"
        elif srows != orows:
            diffs = [(a, b) for a, b in zip(srows, orows) if a != b][:3]
            msg = f"values differ; first diffs (spark vs oracle): {diffs}"
        if msg:
            n_fail += 1
            failures.append(qid)
            results[qid] = {"status": "fail", "err": msg}
            print(f"FAIL  {qid}: {msg}")
        else:
            n_pass += 1
            results[qid] = {"status": "pass", "rows": len(srows)}
            if qid in overrides:
                results[qid]["fixture"] = overrides[qid]
            print(f"PASS  {qid}: {len(srows)} rows [{time.time()-t0:.2f}s]"
                  + (f" (fixture: {overrides[qid]})"
                     if qid in overrides else ""))

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only"
          + (f"  FAILURES: {failures}" if failures else ""))
    leakers = {q: n for q, n in leaked.items() if n}
    print(f"{len(leakers)} queries left persisted RDDs"
          + (f": {leakers}" if leakers else ""))
    if args.json:
        import json
        Path(args.json).write_text(json.dumps({
            "sf_dir": args.sf,
            "n_pass": n_pass, "n_fail": n_fail, "n_rows_only": n_rows_only,
            "failures": failures,
            "queries": {q: {**r, "leaked_rdds": leaked[q]}
                        for q, r in results.items()},
        }, indent=1) + "\n")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
