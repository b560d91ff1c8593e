"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given scale factor, then compares row count, sorted column
names, and the sorted canonical rows (floats canonicalized via repr of
float64, which both engines' doubles round-trip through).

Usage: python tools/check_correctness.py [sf_dir] [query ...] [--json OUT]

An unregistered query name exits 2 before Spark starts.  ``--json`` writes
the verdicts and the cache-lifetime audit to OUT, as in the committed
``CORRECTNESS_LOCAL_sf*.json`` (``tests/test_registry_certified.py``).
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
# a verdict row before anything matched (rows-only queries: all None)
NO_MATCH = {
    "rows_match": False, "schema_match": False, "hash_match": False,
    "spark_rows": None, "oracle_rows": None,
}


def canonical_rows(df: pd.DataFrame) -> list[str]:
    """One string per row (columns by name), sorted: equal lists mean the
    engines returned the same rows in any order."""
    df = df[sorted(df.columns)]
    rows = []
    for tup in df.itertuples(index=False):
        cells = []
        for v in tup:
            if isinstance(v, float):
                cells.append(repr(v))
            elif v is None or v != v:
                cells.append("<null>")
            else:
                cells.append(str(v))
        rows.append("\x1f".join(cells))
    return sorted(rows)


def main() -> int:
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as entrymod
    from platform_etl_openfda_faers_spark.session import get_spark

    qs = entrymod.queries()
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    spark = get_spark("check", master="local[8]", conf={"spark.ui.enabled": "false"})
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    from platform_etl_openfda_faers_spark.operators.cache import unpersist_cached

    def persistent_rdd_count() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    def sql_cache_empty() -> bool:
        # the leak signal is the SQL CacheManager: df.persist entries a
        # query failed to release.  getPersistentRDDs additionally shows
        # localCheckpoint residue, which the ContextCleaner reclaims on
        # GC (lineage-truncation plumbing, not a cache-contract leak) —
        # reported separately at the end as an informational count.
        return spark._jsparkSession.sharedState().cacheManager().isEmpty()

    oracles = entrymod.oracle_sql()
    failures = []
    results: dict[str, dict] = {}
    # cache-lifetime audit: after each query materializes, releasing its
    # ATTACHED handles must leave executor storage empty — any query that
    # still needs the global clearCache fallback persists without handles
    # and is recorded here as a leak.
    cache_leaks: dict[str, int] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            sdf = df.toPandas()
        except Exception as e:
            spark.catalog.clearCache()
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            results[name] = {**NO_MATCH, "err": f"spark: {e}"}
            continue
        # surgical cleanup first (the caller-owned contract); fall back to
        # the runner-owned clearCache only if handles were missing, and
        # flag the query — the committed JSON proves the whole registry
        # loop ends with empty executor storage and names any offender.
        unpersist_cached(df)
        if not sql_cache_empty():
            cache_leaks[name] = persistent_rdd_count()
            spark.catalog.clearCache()
        if name not in oracles:
            print(f"ok?   {name}: rows-only, {len(sdf)} rows ({time.time()-t0:.1f}s)")
            if len(sdf) == 0:
                print(f"  WARNING: {name} returned 0 rows")
            results[name] = {
                **dict.fromkeys(NO_MATCH), "spark_rows": len(sdf), "err": "no_oracle"
            }
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            results[name] = {**NO_MATCH, "spark_rows": len(sdf), "err": f"duckdb: {e}"}
            continue
        problems = []
        if len(sdf) != len(ddf):
            problems.append(f"rows {len(sdf)} vs {len(ddf)}")
        if sorted(map(str.lower, sdf.columns)) != sorted(map(str.lower, ddf.columns)):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(ddf.columns)}")
        if not problems:
            rs, rd = canonical_rows(sdf), canonical_rows(ddf)
            if rs != rd:
                problems.append("values differ")
                print("  spark only: ", sorted(set(rs) - set(rd))[:3])
                print("  oracle only:", sorted(set(rd) - set(rs))[:3])
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            failures.append(name)
        else:
            print(f"PASS  {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
        results[name] = {
            "rows_match": len(sdf) == len(ddf),
            "schema_match": sorted(map(str.lower, sdf.columns))
            == sorted(map(str.lower, ddf.columns)),
            "hash_match": not problems,
            "spark_rows": len(sdf),
            "oracle_rows": len(ddf),
            "err": None,
        }
    # the registry run must leave the SQL cache EMPTY (every persist
    # released via its handles, or flagged above and force-cleared).
    # Persistent RDDs still left are localCheckpoint residue, which the
    # ContextCleaner reclaims only when the driver GC runs: unpersist
    # each explicitly (itemized on stdout) and gate on the count after
    # that cleanup, which does not depend on GC timing.  The certificate
    # keeps only what a rerun reproduces: the residue's count and RDD
    # ids vary run to run, so they stay off the file.
    end_empty = sql_cache_empty()
    residue_before = persistent_rdd_count()
    unpersisted: list[dict] = []
    if residue_before:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        entries = []
        it = jmap.entrySet().iterator()
        while it.hasNext():
            e = it.next()
            entries.append((int(e.getKey()), e.getValue()))
        for rdd_id, jrdd in entries:
            unpersisted.append({"rdd_id": rdd_id, "name": str(jrdd.name())})
            jrdd.unpersist(False)
    residue_after = persistent_rdd_count()
    cache_summary = {
        "queries_missing_handles": cache_leaks,
        "sql_cache_empty_at_end": end_empty,
        "persistent_rdds_after_cleanup": residue_after,
    }
    if cache_leaks:
        print(f"cache-lifetime: {len(cache_leaks)} queries persist without "
              f"handles: {sorted(cache_leaks)}")
    print(f"cache-lifetime: SQL cache empty at end: {end_empty}; "
          f"{residue_before} persistent RDDs before cleanup "
          f"(localCheckpoint residue: {unpersisted}), "
          f"{residue_after} after explicit unpersist")
    if json_out:
        import json

        out_doc = dict(results)
        out_doc["_cache_lifetime"] = cache_summary
        with open(json_out, "w") as f:
            json.dump(out_doc, f, indent=2)
        print(f"wrote {json_out}")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    # exit gates: failures -> 1; SQL cache not empty -> 2; persistent
    # RDDs surviving the explicit cleanup -> 3
    if failures:
        return 1
    if not end_empty:
        return 2
    return 0 if residue_after == 0 else 3


if __name__ == "__main__":
    sys.exit(main())
