"""The registry certifies itself: the committed ``tools/check_correctness.py
--json`` runs over every ``queries()`` entry at sf0.001 and sf0.01 must
cover the registry as it stands, every row green (read here, no Spark)."""

import hashlib
import json
from pathlib import Path

import pytest

from platform_etl_openfda_faers_spark.plans import benchmarks

REPO = Path(__file__).resolve().parent.parent
CERTIFICATES = ["CORRECTNESS_LOCAL_sf0001.json", "CORRECTNESS_LOCAL_sf001.json"]
NAMES = set(benchmarks.SPARK_QUERIES)
ORACLES = set(benchmarks.ORACLE_SQL)


# fields whose values change from run to run on an unchanged tree; a
# certificate holding one is not byte-reproducible
RUN_VARYING = {"rdd_id", "persistent_rdds_at_end_info"}


def _keys(value) -> set[str]:
    """Every dict key anywhere inside ``value``."""
    if isinstance(value, dict):
        return set(value).union(*map(_keys, value.values()))
    if isinstance(value, list):
        return set().union(*map(_keys, value))
    return set()


def certificate_problems(doc: dict, names: set[str], oracles: set[str]) -> list[str]:
    """Every reason the checker document ``doc`` does not certify the
    registry ``names`` (``oracles``: those with a DuckDB twin)."""
    problems = []
    if varying := sorted(RUN_VARYING & _keys(doc)):
        problems.append(f"run-varying fields recorded: {varying}")
    cache = doc.get("_cache_lifetime")
    if cache is None:
        problems.append("no _cache_lifetime audit block")
    else:
        if leaks := cache.get("queries_missing_handles"):
            problems.append(f"queries persist without handles: {sorted(leaks)}")
        if cache.get("sql_cache_empty_at_end") is not True:
            problems.append("SQL cache not empty at end")
        if (rdds := cache.get("persistent_rdds_after_cleanup")) != 0:
            problems.append(f"persistent RDDs after cleanup: {rdds}")
    rows = {k: v for k, v in doc.items() if k != "_cache_lifetime"}
    if missing := sorted(names - set(rows)):
        problems.append(f"registered queries with no row: {missing}")
    if stale := sorted(set(rows) - names):
        problems.append(f"rows for unregistered queries: {stale}")
    for name in sorted(names & set(rows)):
        row = rows[name]
        if name in oracles:
            flags = (row.get(k) for k in ("rows_match", "schema_match", "hash_match"))
            green = all(f is True for f in flags) and row.get("err") is None
        else:
            green = row.get("err") == "no_oracle" and (row.get("spark_rows") or 0) > 0
        if not green:
            problems.append(f"{name} is not green: {row}")
    return problems


@pytest.mark.parametrize("name", CERTIFICATES)
def test_committed_certificate_covers_registry_green(name):
    doc = json.loads((REPO / name).read_text())
    assert certificate_problems(doc, NAMES, ORACLES) == []


ORACLE_Q, ROWS_ONLY = sorted(ORACLES)[0], sorted(NAMES - ORACLES)[0]
# one edit each to a good certificate, and the name its problem must carry
TAMPERINGS = {
    "row_dropped": (lambda d: d.pop(ORACLE_Q), ORACLE_Q),
    "hash_flipped": (lambda d: d[ORACLE_Q].update(hash_match=False), ORACLE_Q),
    "stale_name": (lambda d: d.update(retired_query=d[ORACLE_Q]), "retired_query"),
    "handle_leak": (
        lambda d: d["_cache_lifetime"].update(queries_missing_handles={ORACLE_Q: 1}),
        ORACLE_Q,
    ),
    "rows_only_empty": (lambda d: d[ROWS_ONLY].update(spark_rows=0), ROWS_ONLY),
    "rdd_ids_recorded": (
        lambda d: d["_cache_lifetime"].update(
            localcheckpoint_residue_unpersisted=[{"rdd_id": 3072, "name": "None"}]
        ),
        "rdd_id",
    ),
    "residue_count_recorded": (
        lambda d: d["_cache_lifetime"].update(persistent_rdds_at_end_info=5),
        "persistent_rdds_at_end_info",
    ),
}


@pytest.mark.parametrize("case", TAMPERINGS)
def test_certificate_problems_names_each_tampering(case):
    tamper, named = TAMPERINGS[case]
    doc = json.loads((REPO / CERTIFICATES[0]).read_text())
    tamper(doc)
    problems = certificate_problems(doc, NAMES, ORACLES)
    assert len(problems) == 1 and named in problems[0], problems


# sha256 of the name -> oracle SQL map (items in registration order) and of
# the ``queries()`` key order. A refactor of the registry keeps both; an
# intended oracle or registry edit recomputes both and re-runs both
# certificates above.
ORACLE_SQL_SHA256 = "1c9b348420d7dbecce55c40a99ab4ff51737101c838b9690a7990bd890da1802"
QUERY_ORDER_SHA256 = "65aa6e688c968a92328e3272f6c9bd57853b45cead643a321daae56b6f5bec85"


def _sha256_json(value) -> str:
    return hashlib.sha256(json.dumps(value).encode()).hexdigest()


def test_registry_pinned_byte_for_byte():
    assert _sha256_json(list(benchmarks.ORACLE_SQL.items())) == ORACLE_SQL_SHA256
    assert _sha256_json(list(benchmarks.SPARK_QUERIES)) == QUERY_ORDER_SHA256
