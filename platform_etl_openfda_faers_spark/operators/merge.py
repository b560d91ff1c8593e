"""MERGE INTO (upsert) + CDC snapshot-diff semantics as declarative
full-outer-join plans.

Spark has no built-in ``MERGE`` against plain parquet (that's a table-format
feature — Delta/Iceberg); this expresses the same semantics as one
full-outer join + per-column CASE, which is exactly the physical shape
those formats execute underneath.  Beyond-reference surface: the
incremental-ingest primitive of a training-data pipeline (nightly doc
refreshes, metadata corrections, tombstone deletes).

Semantics (ANSI MERGE with all-column UPDATE SET):

- key in both            -> source row wins ("update"), including source
                            NULLs (CASE on key presence, NOT coalesce — a
                            coalesce would silently resurrect target values
                            under source NULLs)
- key only in target     -> target row kept ("keep")
- key only in source     -> source row inserted ("insert")
- matched + delete cond  -> row dropped (condition evaluated on the
                            TARGET row, like ``WHEN MATCHED AND <cond>
                            THEN DELETE``)
- NULL merge key         -> rejected at execution time.  Under SQL
                            equality a NULL key can never match, so ANSI
                            MERGE would silently classify such source
                            rows as inserts-with-NULL-keys (and a naive
                            key-IS-NULL presence test would misread them
                            as "keep" and emit all-NULL rows).  Rather
                            than guess, the plan embeds a lazy
                            ``raise_error`` guard on every key column of
                            both sides — distributed, no driver action —
                            so bad input fails loudly, not silently.

Scale notes: one shuffle per side on the merge keys (AQE handles skew);
with both sides stored as tables bucketed on the keys
(``DataFrameWriter.bucketBy``) the exchange disappears entirely.  At 100 TB the target never rewrites in
place — write the merged result partition-wise and swap, or hand the same
plan to a table format's commit protocol.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _guard_null_keys(
    df: DataFrame, keys: list[str], side: str, opname: str
) -> DataFrame:
    """Fold a lazy ``raise_error`` into every key column: a NULL key would
    silently misclassify under SQL join equality, so fail loudly instead —
    distributed, no driver action, free on valid data."""
    err = F.raise_error(
        F.lit(f"{opname}: NULL merge key in {side} row (keys={','.join(keys)})")
    )
    for k in keys:
        dtype = df.schema[k].dataType
        df = df.withColumn(
            k,
            F.when(F.col(k).isNull(), err.cast(dtype)).otherwise(F.col(k)),
        )
    return df


# The change-label column that snapshot_diff writes and apply_changes reads.
_CHANGE = "change"


def snapshot_diff(old: DataFrame, new: DataFrame, keys: list[str]) -> DataFrame:
    """CDC between two snapshots of the same table: one row per key whose
    state changed, classified ``insert`` (key only in ``new``), ``delete``
    (key only in ``old``) or ``update`` (key in both, any non-key
    value differs under NULL-SAFE equality — NULL -> value and
    value -> NULL are real updates, NULL -> NULL is not).

    Output: keys + ``change`` + the non-key columns, carrying the NEW
    side for inserts/updates and the OLD side for deletes (what a
    downstream MERGE or tombstone writer needs).  Matched-equal rows are
    classified ``unchanged`` and dropped: at snapshot scale the unchanged
    set IS the table.

    The two schemas must match.  NULL snapshot keys are rejected at
    execution time via the same lazy ``raise_error`` guard as
    ``merge_upsert``.

    Scale shape: one shuffle per side on the key (none if both snapshots
    are bucketed on it — ``DataFrameWriter.bucketBy``); the change
    classification is a row-local CASE over null-safe comparisons, fully
    codegen.  This is the diff half of incremental ingestion; feed the
    result to ``merge_upsert`` / ``scd2`` to apply it.
    """
    if sorted(old.columns) != sorted(new.columns):
        raise ValueError(
            f"snapshot schemas differ: {sorted(old.columns)} vs "
            f"{sorted(new.columns)}"
        )
    non_keys = [c for c in old.columns if c not in keys]
    if _CHANGE in old.columns:
        raise ValueError(f"the {_CHANGE!r} output column collides with an input column")

    o = _guard_null_keys(old, keys, "old", "snapshot_diff").withColumn(
        "__o_present", F.lit(1)
    ).alias("o")
    n = _guard_null_keys(new, keys, "new", "snapshot_diff").withColumn(
        "__n_present", F.lit(1)
    ).alias("n")
    cond = reduce(
        lambda a, b: a & b, [F.col(f"o.{k}") == F.col(f"n.{k}") for k in keys]
    )
    joined = o.join(n, cond, "full_outer")

    o_absent = F.col("o.__o_present").isNull()
    n_absent = F.col("n.__n_present").isNull()
    differs = reduce(
        lambda a, b: a | b,
        [~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}")) for c in non_keys],
    ) if non_keys else F.lit(False)
    change = (
        F.when(o_absent, F.lit("insert"))
        .when(n_absent, F.lit("delete"))
        .when(differs, F.lit("update"))
        .otherwise(F.lit("unchanged"))
    )
    cols = [
        F.coalesce(F.col(f"n.{k}"), F.col(f"o.{k}")).alias(k) for k in keys
    ]
    cols.append(change.alias(_CHANGE))
    for c in non_keys:
        cols.append(
            F.when(n_absent, F.col(f"o.{c}")).otherwise(F.col(f"n.{c}")).alias(c)
        )
    return joined.select(*cols).where(F.col(_CHANGE) != "unchanged")


def apply_changes(target: DataFrame, changes: DataFrame, keys: list[str]) -> DataFrame:
    """Apply a :func:`snapshot_diff` result to a target snapshot — the
    composed incremental-ingest step: upsert ``insert``/``update`` rows,
    tombstone ``delete`` keys.  ``apply_changes(old, snapshot_diff(old,
    new, keys), keys)`` returns exactly ``new`` (the round-trip law
    ``cdc_apply_roundtrip`` value-checks and ``test_pipeline`` pins,
    including NULL->value / value->NULL transitions).

    ``unchanged`` rows are harmless no-op upserts.  Any OTHER
    ``change`` value fails loudly via a lazy distributed
    ``raise_error`` — a misspelled label silently treated as an upsert
    would corrupt the target.

    Scale shape: one full-outer merge join plus one left-anti tombstone
    join, both keyed on ``keys`` — the partitioning is reused between
    them, the delete side is a fraction of the diff (AQE broadcasts it
    when small), and with bucketed snapshots neither join exchanges.
    """
    known = ["insert", "update", "delete", "unchanged"]
    guarded = changes.withColumn(
        _CHANGE,
        F.when(F.col(_CHANGE).isin(known), F.col(_CHANGE)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"apply_changes: unknown {_CHANGE!r} value "),
                    F.coalesce(F.col(_CHANGE), F.lit("NULL")),
                )
            )
        ),
    )
    upserts = guarded.where(F.col(_CHANGE) != "delete").drop(_CHANGE)
    deletes = guarded.where(F.col(_CHANGE) == "delete").select(*keys)
    merged = merge_upsert(target, upserts, keys)
    return merged.join(deletes, keys, "left_anti")


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    action_col: str | None = None,
    delete_on_match: Column | None = None,
) -> DataFrame:
    """Full-outer-join MERGE: update matched, keep unmatched target,
    insert unmatched source; optionally delete matched rows where
    ``delete_on_match`` (a predicate over ``target.<col>`` refs) holds.

    Output columns = target columns (+ ``action_col`` if requested);
    source must carry every target column.
    """
    missing = [c for c in target.columns if c not in source.columns]
    if missing:
        raise ValueError(f"source is missing merge columns: {missing}")
    if action_col and action_col in target.columns:
        raise ValueError(f"action_col {action_col!r} collides with a merge column")

    # NULL-key guards + presence markers.  Presence must NOT be inferred
    # from key nullability (a NULL source key never joins, would read as
    # "source absent", and surface an all-NULL row); the `lit(1)`
    # markers are non-null by construction, so `marker IS NULL` is
    # exactly "that side had no row".  The raise_error guard is folded
    # into the KEY columns — they feed the join condition, so Catalyst
    # can never prune the check — costing nothing on valid data and
    # failing the job with a clear message on the first NULL key.
    def _guard_keys(df: DataFrame, side: str) -> DataFrame:
        return _guard_null_keys(df, keys, side, "merge_upsert")

    t = _guard_keys(target, "target").withColumn(
        "__t_present", F.lit(1)
    ).alias("t")
    s = _guard_keys(source, "source").withColumn(
        "__s_present", F.lit(1)
    ).alias("s")
    cond = reduce(
        lambda a, b: a & b, [F.col(f"t.{k}") == F.col(f"s.{k}") for k in keys]
    )
    joined = t.join(s, cond, "full_outer")

    s_absent = F.col("s.__s_present").isNull()
    t_absent = F.col("t.__t_present").isNull()
    cols = []
    for c in target.columns:
        if c in keys:
            cols.append(F.coalesce(F.col(f"t.{c}"), F.col(f"s.{c}")).alias(c))
        else:
            cols.append(
                F.when(s_absent, F.col(f"t.{c}"))
                .otherwise(F.col(f"s.{c}"))
                .alias(c)
            )
    action = (
        F.when(s_absent, F.lit("keep"))
        .when(t_absent, F.lit("insert"))
        .otherwise(F.lit("update"))
    )
    if action_col:
        cols.append(action.alias(action_col))
    out = joined
    if delete_on_match is not None:
        out = out.where(~((action == "update") & F.coalesce(delete_on_match, F.lit(False))))
    return out.select(*cols)
