"""Dedup-at-ingest: one micro-batch step against the STORED signature
index (VERDICT r11 #3), called once per batch with a monotonic batch id
(the registry's ``dedup_ingest_loop_serve`` drives it).

Shape: ingest batch -> near-dup check against the stored
simhash64 chunk index (``corpus_index=`` serving path — the corpus text
is NEVER re-read; each batch pays the signature fold only for its own
docs) -> append the ACCEPTED docs and their chunk rows back to the
index.  The index is the loop's only cross-batch state, so a duplicate
arriving in a later batch is caught by the index UPDATE, not by a
rescan of previously ingested documents.

Acceptance rule (declarative keep-lowest, the same canonicalization the
batch curation pipeline uses — "drop the higher id of each pair"):
a batch doc is REJECTED iff it near-dups an INDEXED doc (one accepted by
an earlier batch), or a lower-id doc in the SAME batch.  Greedy
consequence, by design: a doc whose only near-dup partner was itself
rejected (and thus never indexed) is ACCEPTED — the index holds the
canonical survivors, exactly like a batch keep-list.

Idempotency: each batch's appends land under ``ingest_batch=<id>``
partition directories with per-directory overwrite — an at-least-once
replay of a batch WITHIN the same checkpoint lineage rewrites the same
directories instead of duplicating rows.

THE CHECKPOINT IS LOAD-BEARING DEDUP STATE (ADVICE r12): batch ids are
monotonic only within one checkpoint lineage.  After checkpoint LOSS,
``availableNow`` re-groups all source files into fresh batch ids
(typically one big batch 0), which would rewrite ``ingest_batch=0`` but
leave the stale ``ingest_batch=1..N`` partitions from the lost lineage
in both the index and accepted paths — duplicate doc ids.  Losing the
checkpoint therefore requires clearing ``index_path`` and
``accepted_path`` too; :func:`dedup_ingest_batch` detects the telltale
regression (batch id 0 arriving while the index already holds higher
``ingest_batch=`` partitions) and fails loudly instead of corrupting
the corpus.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from ..operators import dedup

# Partition value the compactor consolidates into.  Batch ids from a
# live checkpoint lineage are >= 0, so -1 can never collide with an
# append; reading the index root still discovers it as an ordinary
# ``ingest_batch`` partition, so serving is oblivious to whether (or
# how often) compaction has run.
COMPACTED_BATCH = -1

# Suffix appended to an index path to locate its occupancy sidecar —
# the tiny (keys..., n, index_fp, occ_through) table the stored-serve
# paths use instead of re-counting the catalog side per serve (the r15
# sf30 probe's fix).  A SIBLING directory, not a child: the index root
# stays pure ``ingest_batch=`` partitions for Spark's discovery, and
# the compactor's file accounting never mixes sidecar files in.
OCCUPANCY_SUFFIX = "_occ"

# Marker file (underscore-prefixed: invisible to Spark's partition
# discovery) recording the highest batch id ever absorbed by a
# compaction.  The ingest guards read it: a batch id at or below this
# watermark can only be a replay from a LOST checkpoint lineage — its
# rows already live in the compacted base, and rewriting its
# ``ingest_batch=<id>`` directory would duplicate them.
_WATERMARK_FILE = "_compacted_through"


def _keep_lowest_accept(
    batch: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Apply the keep-lowest acceptance rule to a batch given its
    near-dup pair list (``id_a < id_b`` rows against batch ∪ index):
    classify each pair side as batch or indexed-corpus, then a
    within-batch pair drops the higher id and a pair with an indexed doc
    drops the batch side unconditionally (the indexed doc was accepted
    first).  Pure joins — no driver loop.

    No ``.distinct()`` on the batch-id lookup (r17): a duplicate batch id
    would only duplicate intermediate ``fl`` rows, which the ``rejected``
    distinct collapses anyway — the removed aggregate was one exchange
    per micro-batch for a result the plan already canonicalizes."""
    bids = batch.select(F.col(id_col).alias("_bid"))
    fl = pairs.join(
        bids.select(
            F.col("_bid").alias("id_a"), F.lit(True).alias("_a_batch")
        ),
        ["id_a"],
        "left",
    ).join(
        bids.select(
            F.col("_bid").alias("id_b"), F.lit(True).alias("_b_batch")
        ),
        ["id_b"],
        "left",
    )
    # no ``.distinct()`` on the rejected list either (r17): its only
    # consumer is the left-anti join, whose semantics ignore duplicate
    # build-side rows — the dedup aggregate was a pure extra exchange
    rejected = fl.select(
        F.when(
            F.col("_a_batch").isNotNull() & F.col("_b_batch").isNotNull(),
            F.greatest("id_a", "id_b"),
        )
        .when(F.col("_a_batch").isNotNull(), F.col("id_a"))
        .when(F.col("_b_batch").isNotNull(), F.col("id_b"))
        .alias(id_col)
    ).where(F.col(id_col).isNotNull())
    return batch.join(rejected, [id_col], "left_anti")


def dedup_ingest_batch(
    batch: DataFrame,
    batch_id: int,
    index_path: str,
    accepted_path: str,
    max_bucket_size: int | None = None,
) -> None:
    """Process ONE ingest micro-batch of (doc_id, text) rows against the
    stored signature index, pairing docs within SimHash-64 Hamming 3.

    Steps: (1) serve the near-dup check from the stored index
    (``corpus_index=`` — decode-free corpus side; first batch ever uses
    an empty corpus), (2) apply the keep-lowest acceptance rule,
    (3) append accepted docs to ``accepted_path`` and their
    ``simhash64_chunk_table`` rows to ``index_path``, both under an
    ``ingest_batch=<id>`` partition directory (idempotent replay).
    """
    spark = batch.sparkSession
    stored = _read_stored_index(spark, index_path, "dedup ingest")
    # a batch id at or below the compaction watermark is a replay from a
    # lost lineage whose rows already live in the consolidated base
    _guard_not_compacted(index_path, batch_id, "dedup ingest")
    if stored is not None and batch_id == 0:
        # batch id 0 with a non-empty index = checkpoint-loss replay (or
        # a reused index path): the lost lineage's ingest_batch=1..N
        # partitions would survive alongside a rewritten batch 0 and
        # duplicate doc ids — refuse instead of corrupting the corpus.
        raise ValueError(
            f"dedup ingest: batch id 0 arrived but {index_path} already "
            "holds an index — the checkpoint was lost or the index path "
            "is being reused.  The checkpoint is load-bearing dedup "
            "state: clear index_path and accepted_path before replaying "
            "from scratch."
        )
    # fold the batch's signatures ONCE per micro-batch (r16, guide §1.2):
    # this chunk table is BOTH the serve's batch side (via the operator's
    # ``batch_chunks`` seam) and, filtered to the accepted ids, the index
    # append + sidecar rows.  The pre-r16 handler folded twice — once
    # inside the serve and again in ``simhash64_chunk_table(accepted)``
    # — and the fold is the batch's dominant CPU at scale.
    chunks_all = dedup.simhash64_chunk_table(batch, "text", "doc_id").persist()
    try:
        if stored is not None:
            # serve via the occupancy sidecar when the loop has
            # maintained one (VERDICT r15 #5) — the combined-occupancy
            # cap then costs a broadcast semi-join on stored+batch
            # COUNTS instead of a count window over the catalog-sized
            # union; missing sidecar (never built, or the swap's crash
            # window) falls back to the window path, and a STALE one
            # fails loudly via guard_occupancy_fresh
            occ = (
                read_occupancy_sidecar(spark, index_path)
                if max_bucket_size is not None
                else None
            )
            corpus_index = stored
        else:
            # first batch ever: an EMPTY stored index (same stamped
            # chunk-table shape) makes the serve a pure within-batch
            # check through the identical code path
            occ = None
            corpus_index = chunks_all.limit(0)
        pairs = dedup.simhash_near_duplicates_incremental64(
            batch,
            None,
            "text",
            "doc_id",
            max_hamming=3,
            max_bucket_size=max_bucket_size,
            corpus_index=corpus_index,
            corpus_occupancy=occ,
            batch_chunks=chunks_all,
        )
        accepted = _keep_lowest_accept(batch, pairs, "doc_id")
        # materialize ONCE: the two writes below would otherwise re-run
        # the batch-side acceptance join per sink
        accepted = accepted.persist()
        try:
            accepted.write.mode("overwrite").parquet(
                f"{accepted_path}/ingest_batch={batch_id}"
            )
            # the accepted docs' index rows are a semi-join of the
            # already-folded (and persisted) batch chunk table — no
            # second fold.  Persisted: the append write AND the sidecar
            # count below both consume them.
            chunks = chunks_all.join(
                accepted.select("doc_id"), ["doc_id"], "left_semi"
            ).persist()
            try:
                chunks.write.mode("overwrite").partitionBy("ci").parquet(
                    f"{index_path}/ingest_batch={batch_id}"
                )
                # keep the occupancy sidecar in lockstep with the append
                # (VERDICT r15 #5): additive merge of this batch's
                # per-key counts, occ_through advanced to batch_id — the
                # next serve takes the broadcast-semi cap path with a
                # fresh watermark
                _maintain_occupancy_sidecar(
                    spark, index_path, chunks, batch_id,
                    index_was_empty=stored is None,
                )
            finally:
                chunks.unpersist()
        finally:
            accepted.unpersist()
            # this handler is the TERMINAL consumer of the near-dup pair
            # list — release the operator's attached persists (the
            # capped chunk table and keep set) so a long-lived
            # ingest session doesn't accrete one cache per
            # micro-batch (the cache-lifetime contract's caller-owned
            # mode)
            from ..operators.cache import unpersist_cached

            unpersist_cached(pairs)
    finally:
        chunks_all.unpersist()


def _as_local_path(index_path: str, what: str) -> Path:
    """Normalize an index path to a local ``Path`` — the compaction
    watermark + manifest-swap machinery is LOCAL-FS ONLY by design
    (``Path``/``shutil``/``rename`` atomicity): on a remote URI
    (hdfs://, s3a://, ...) ``Path.read_text`` would raise OSError and
    the replay guard would silently pass as "never compacted" — the one
    failure mode worse than refusing.  Fail loudly at the API boundary
    instead; porting to an object store means re-implementing the swap
    on that store's commit primitives (e.g. conditional PUT), not
    reusing this code path.

    ``file://`` URIs are NORMALIZED, not just allowlisted (ADVICE r15:
    ``Path('file:///x')`` is a bogus relative path, so the allowlist
    alone made the watermark read raise FileNotFoundError and return
    "never compacted" for a file:// URI — exactly the silent bypass
    this guard exists to prevent — while the compactor would glob an
    empty bogus directory and no-op even though Spark reads real data
    at the URI)."""
    if "://" not in index_path:
        return Path(index_path)
    from urllib.parse import unquote, urlparse

    parsed = urlparse(index_path)
    if parsed.scheme != "file":
        raise NotImplementedError(
            f"{what}: index path {index_path!r} uses scheme "
            f"{parsed.scheme!r}, but the compaction watermark/manifest "
            "machinery is local-FS only (atomic rename + POSIX "
            "read_text). Running it against a remote store would make "
            "the lost-checkpoint replay guard silently pass."
        )
    if parsed.netloc not in ("", "localhost"):
        raise NotImplementedError(
            f"{what}: file:// index path {index_path!r} names a remote "
            f"host {parsed.netloc!r} — local-FS only."
        )
    return Path(unquote(parsed.path))


def _read_stored_index(
    spark: SparkSession, index_path: str, what: str
) -> DataFrame | None:
    """The stored index at ``index_path``, or None before the first batch
    wrote one.  A path that does not exist is not read: Spark's sink
    metadata probe would log a ``FileNotFoundException`` stack trace for
    it.  A directory that exists but holds no data yet still raises
    ``AnalysisException`` and also means no index.

    The try guards ONLY the read (ADVICE r12: a broader scope silently
    swallowed AnalysisExceptions raised by the dedup operator itself — a
    renamed index column or a batch without text/doc_id would have been
    treated as "first batch, empty corpus" and duplicates accepted); operator
    errors must propagate loudly."""
    if not _as_local_path(index_path, what).exists():
        return None
    try:
        return spark.read.parquet(index_path)
    except AnalysisException:
        return None


def _compacted_through(index_path: str) -> int | None:
    """Read the compaction watermark (highest absorbed batch id), or
    None if the index has never been compacted.  Local-FS only — see
    ``_as_local_path``."""
    p = _as_local_path(index_path, "compaction watermark read")
    p = p / _WATERMARK_FILE
    try:
        return int(p.read_text())
    except (OSError, ValueError):
        return None


def _guard_not_compacted(index_path: str, batch_id: int, what: str) -> None:
    """Refuse a batch id at or below the compaction watermark — within a
    healthy checkpoint lineage this cannot happen (compaction runs with
    the stream stopped, so every absorbed batch was checkpoint-committed
    before the compactor saw it); seeing one means the checkpoint was
    lost and the source is being replayed from scratch, and rewriting
    ``ingest_batch=<id>`` would DUPLICATE rows already consolidated into
    the ``ingest_batch=-1`` base."""
    wm = _compacted_through(index_path)
    if wm is not None and batch_id <= wm:
        raise ValueError(
            f"{what}: batch id {batch_id} arrived but {index_path} has "
            f"been compacted through batch {wm} — those rows already "
            "live in the consolidated base, so this can only be a replay "
            "from a lost checkpoint lineage.  The checkpoint is "
            "load-bearing dedup state: clear the index and accepted "
            "paths before replaying from scratch."
        )


def occupancy_sidecar_path(index_path: str) -> str:
    """Where an index's occupancy sidecar lives (string form — valid
    for the same schemes the index path is)."""
    return index_path.rstrip("/") + OCCUPANCY_SUFFIX


def _write_occupancy_sidecar(spark, occ_df, index_path: str) -> None:
    """Swap a freshly computed sidecar into place: materialize to a
    sibling ``.tmp`` directory first (the merge path READS the old
    sidecar — writing over it in place would overwrite its own input),
    then rmtree + rename.  The crash window between the two leaves NO
    sidecar, which is safe by construction: serving falls back to the
    count-window path and the next ingest batch rebuilds it from the
    index (``refresh_occupancy_sidecar``) — a sidecar can be missing,
    never silently stale."""
    occ_path = occupancy_sidecar_path(index_path)
    local = _as_local_path(occ_path, "occupancy sidecar write")
    tmp = local.with_name(local.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    # the whole table is at most key-domain-sized (262k rows for ci x
    # cv) — one file keeps the sidecar a single-open read at serve
    occ_df.coalesce(1).write.mode("overwrite").parquet(str(tmp))
    shutil.rmtree(local, ignore_errors=True)
    tmp.rename(local)
    # same-app re-reads must not ride a stale listing of the swapped dir
    spark.catalog.refreshByPath(str(local))


def refresh_occupancy_sidecar(
    spark: SparkSession,
    index_path: str,
    keys: tuple[str, ...] = ("ci", "cv"),
) -> None:
    """FULL rebuild of the occupancy sidecar from the index — one scan
    of the (signature-sized, never document-sized) index.  Used at
    bootstrap, after compaction, and whenever the additive merge can't
    prove it would be exact (replayed batch, pre-watermark sidecar)."""
    spark.catalog.refreshByPath(index_path)  # post-append/-swap listing
    occ = dedup.stored_occupancy_table(
        spark.read.parquet(index_path), keys=tuple(keys)
    )
    _write_occupancy_sidecar(spark, occ, index_path)


def _maintain_occupancy_sidecar(
    spark: SparkSession,
    index_path: str,
    batch_index_rows,
    batch_id: int,
    index_was_empty: bool = False,
) -> None:
    """Per-batch sidecar maintenance (VERDICT r15 #5): occupancy counts
    are ADDITIVE, so after appending ``ingest_batch=<id>`` the new
    sidecar is exactly (old counts + this batch's per-key counts) with
    the ``occ_through`` content watermark advanced to ``batch_id`` — a
    ≤|batch keys| aggregate plus a tiny full-outer merge, never a
    rescan of the catalog-sized index.

    Falls back to a full rebuild when the merge can't be proven exact:
    no sidecar yet (bootstrap / post-crash-window), a pre-watermark
    sidecar (no ``occ_through`` column), or an at-least-once REPLAY of
    a batch already summarized (``occ_through >= batch_id`` — the
    ``ingest_batch=<id>`` append is an idempotent overwrite, so an
    additive merge would double-count exactly once).

    ``batch_index_rows`` — the batch's just-appended index rows (chunk
    table / landmark table), PERSISTED by the caller so the signature
    fold isn't re-paid for the count.

    ``index_was_empty`` — caller's knowledge that the index held NOTHING
    before this batch's append (the very first batch against a fresh
    path).  The bootstrap sidecar is then computed straight off the
    persisted batch rows — value-identical to the full-rebuild fallback
    (the index IS this batch) without re-reading the just-written
    parquet (r17; one fewer index scan on batch 0).  The sidecar counts
    per SimHash-64 chunk key (ci, cv)."""
    keys = ("ci", "cv")
    local = _as_local_path(
        occupancy_sidecar_path(index_path), "occupancy sidecar update"
    )
    if not local.exists():
        if index_was_empty:
            occ = dedup.stored_occupancy_table(
                batch_index_rows.withColumn(
                    "ingest_batch", F.lit(batch_id).cast("int")
                ),
                keys=keys,
            )
            _write_occupancy_sidecar(spark, occ, index_path)
        else:
            refresh_occupancy_sidecar(spark, index_path, keys)
        return
    old = spark.read.parquet(str(local))
    wm = None
    fp = None
    has_fp = "index_fp" in old.columns
    if "occ_through" in old.columns:
        # bounded 1-row collect over the key-domain-sized sidecar; the
        # constant fp (compactor single-stamp invariant) rides the SAME
        # aggregate (r17 — formerly a second collect job per batch)
        aggs = [F.min("occ_through").alias("w")]
        if has_fp:
            aggs.append(F.first("index_fp").alias("fp"))
        head = old.agg(*aggs).first()
        wm = head["w"]
        fp = head["fp"] if has_fp else None
    if wm is None or wm >= batch_id:
        refresh_occupancy_sidecar(spark, index_path, keys)
        return
    batch_counts = batch_index_rows.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("_bn")
    )
    merged = (
        old.select(*keys, F.col("n").alias("_sn"))
        .join(batch_counts, list(keys), "full_outer")
        .select(
            *keys,
            (
                F.coalesce(F.col("_sn"), F.lit(0))
                + F.coalesce(F.col("_bn"), F.lit(0))
            ).cast("long").alias("n"),
        )
    )
    if has_fp:
        # batch-introduced keys carry the constant stamp too
        merged = merged.withColumn("index_fp", F.lit(fp))
    merged = merged.withColumn(
        "occ_through", F.lit(batch_id).cast("long")
    )
    _write_occupancy_sidecar(spark, merged, index_path)


def read_occupancy_sidecar(
    spark: SparkSession, index_path: str
):
    """The index's occupancy sidecar as a DataFrame, or None if absent
    (never built, or inside the swap's crash window) — callers fall
    back to the count-window cap."""
    local = _as_local_path(
        occupancy_sidecar_path(index_path), "occupancy sidecar read"
    )
    if not local.exists():
        return None
    return spark.read.parquet(str(local))


def compact_ingest_index(
    spark: SparkSession,
    index_path: str,
    partition_cols: tuple[str, ...] = ("ci",),
) -> dict:
    """Consolidate an ingest loop's accumulated ``ingest_batch=<id>``
    appends into one ``ingest_batch=-1`` base — the small-files
    maintenance job every streaming-maintained index needs (VERDICT r13
    #4): at production cadence the per-micro-batch append discipline
    writes one partition directory per batch per secondary-partition
    value — thousands of small parquet files per day, the classic
    metadata/open-cost scale-killer — while serving only ever wants the
    UNION of the rows.  One compaction job rewrites N batch directories
    into one base whose file count is bounded by the secondary-partition
    key cardinality, and serving (``spark.read.parquet(index_path)``)
    is oblivious: the base is just another ``ingest_batch`` partition
    value, so the loop serves across the compaction boundary unchanged
    (law-pinned in ``tests/test_compaction.py``).

    Contract:
    - IDEMPOTENT: the rewrite lands in a dot-prefixed scratch directory
      (invisible to Spark's partition discovery) and a manifest records
      the swap before any delete; a crash mid-swap is resumed — never
      recomputed from a half-deleted index — on the next call, and
      compacting an already-compacted index is a no-op.
    - STAMP-PRESERVING: rows are rewritten verbatim, and the build-stamp
      column (``index_fp`` from ``indexstamp``) is asserted SINGLE-VALUED
      before the rewrite — a mixed
      index (two builds appended to one path) fails loudly here rather
      than serving a half-stale result later.
    - SAFE RELATIVE TO THE LOOP: run it while the stream is stopped
      (between ``availableNow`` drains — every absorbed batch id is then
      checkpoint-committed).  The ``_compacted_through`` watermark it
      leaves makes a lost-checkpoint replay of an absorbed batch fail
      loudly in the ingest guards instead of duplicating rows.

    ``partition_cols`` — the secondary partitioning under each batch
    directory (``("ci",)`` for the SimHash chunk index, ``()`` for the
    flat accepted-docs table).  The rewrite repartitions by
    ``partition_cols``: exactly one file per key (ci has 4).

    Returns ``{"absorbed_batches", "rows", "files_before",
    "files_after"}``.

    At 100 TB: this is one shuffle of the INDEX (signatures, not
    documents — the simhash64 chunk table is ~40 bytes/row), embarrassed
    across the secondary key; the alternative (never compacting) makes
    every serve enumerate O(batches x keys) files, which is a namenode /
    object-store listing bomb long before it is an I/O problem.
    """
    root = _as_local_path(index_path, "compact_ingest_index")
    tmp = root / ".compact_tmp"
    manifest_path = root / ".compact_manifest.json"

    def _list_files() -> list[Path]:
        return [
            p for p in root.rglob("*.parquet")
            if ".compact_tmp" not in p.parts
        ]

    def _batch_dirs() -> list[Path]:
        return sorted(
            p for p in root.glob("ingest_batch=*") if p.is_dir()
        )

    def _finish_swap(manifest: dict) -> dict:
        # tmp is COMPLETE (parquet commit protocol) before the manifest
        # exists, so finishing is: delete absorbed dirs, promote tmp,
        # advance the watermark, drop the manifest — each step
        # re-runnable.  The absorbed-dir deletes run ONLY while the swap
        # is still pending (tmp present): on a RE-compaction the
        # absorbed set includes the existing ``ingest_batch=-1`` base,
        # and a resume after ``tmp.rename(base)`` must not rmtree the
        # just-promoted base with no tmp left to restore it — that crash
        # window would silently empty the index while the watermark
        # still advanced.  Deletes are idempotent within the pending
        # branch; once tmp is gone, promotion is done and the resume
        # only finishes watermark + manifest.
        base = root / f"ingest_batch={COMPACTED_BATCH}"
        if tmp.exists():
            for d in manifest["absorbed_dirs"]:
                shutil.rmtree(root / d, ignore_errors=True)
            # the rewrite wrote rows under tmp/<partition dirs>; promote
            # the whole scratch dir as the new base directory
            tmp.rename(base)
        (root / _WATERMARK_FILE).write_text(str(manifest["through"]))
        manifest_path.unlink(missing_ok=True)
        # the swap renamed directories under the index root — a
        # same-app re-read must not ride the pre-swap file listing
        # (the r15 warm-bench flake's suspected mechanism)
        spark.catalog.refreshByPath(str(root))
        # refresh the occupancy sidecar from the compacted base
        # (VERDICT r15 #5): counts are additive so they're unchanged by
        # construction, but the rebuild keeps the sidecar's provenance
        # one-to-one with the index files it summarizes and re-stamps
        # occ_through from the post-swap partition values.  Keys are
        # recovered from the existing sidecar's own schema (the
        # compactor is generic over index families).
        occ_local = _as_local_path(
            occupancy_sidecar_path(index_path), "compaction sidecar"
        )
        if occ_local.exists():
            keys = tuple(
                c
                for c in spark.read.parquet(str(occ_local)).columns
                if c not in ("n", "index_fp", "occ_through")
            )
            refresh_occupancy_sidecar(spark, index_path, keys)
        return {
            "absorbed_batches": manifest["absorbed_batches"],
            "rows": manifest["rows"],
            "files_before": manifest["files_before"],
            "files_after": len(_list_files()),
        }

    if manifest_path.exists():
        # a previous compaction crashed between manifest and cleanup —
        # resume the swap (tmp holds the complete consolidated copy)
        return _finish_swap(json.loads(manifest_path.read_text()))
    shutil.rmtree(tmp, ignore_errors=True)  # stale scratch, no manifest

    dirs = _batch_dirs()
    batch_ids = sorted(
        int(d.name.split("=", 1)[1]) for d in dirs
    )
    live_ids = [b for b in batch_ids if b != COMPACTED_BATCH]
    if not live_ids:
        return {  # nothing to absorb: no-op (idempotency law)
            "absorbed_batches": [],
            "rows": None,
            "files_before": len(_list_files()),
            "files_after": len(_list_files()),
        }

    df = spark.read.parquet(index_path)
    # stamp preservation: a constant build-stamp column must be constant
    # ACROSS the batches being merged.  The stamp checks and the row
    # count are fused into ONE aggregate job over the index (r16, guide
    # §1.2 "remove passes"), and the constancy test is phrased over
    # min/max/null-count (r17) instead of ``countDistinct``: the distinct
    # machinery planned an Expand plus a second exchange for a question —
    # "is this column one constant non-null value?" — that plain
    # aggregates answer in a single partial+final pass.  Refusal
    # semantics are EXACTLY the old ``countDistinct + null-detector``
    # rule: pass iff all rows carry one non-null value, or (the old
    # rule's degenerate acceptance) every row is NULL; an empty index
    # (0 rows) still refuses loudly.
    stamp_cols = ["index_fp"] if "index_fp" in df.columns else []
    agg_row = df.agg(
        F.count(F.lit(1)).alias("_rows"),
        *[
            x
            for i, c in enumerate(stamp_cols)
            for x in (
                F.min(F.col(c)).alias(f"_min_{i}"),
                F.max(F.col(c)).alias(f"_max_{i}"),
                F.count(F.col(c)).alias(f"_nn_{i}"),
            )
        ],
    ).collect()[0]
    for i, stamp_col in enumerate(stamp_cols):
        n_rows, n_nonnull = agg_row["_rows"], agg_row[f"_nn_{i}"]
        constant_nonnull = (
            n_nonnull == n_rows
            and n_rows > 0
            and agg_row[f"_min_{i}"] == agg_row[f"_max_{i}"]
        )
        all_null = n_rows > 0 and n_nonnull == 0
        if not (constant_nonnull or all_null):
            # explicit raise, not assert: this safety check must
            # survive `python -O` — a stripped assert would silently
            # consolidate two builds' geometry into one index
            raise ValueError(
                f"compaction refused: {index_path} holds multiple "
                f"distinct {stamp_col} values (or a partly-missing "
                "stamp) — batches from different builds were appended "
                "to one index path; serving it would mix stale and "
                "fresh geometry"
            )
    rows = agg_row["_rows"]
    files_before = len(_list_files())
    data_cols = [c for c in df.columns if c != "ingest_batch"]
    out = df.select(*data_cols)
    if partition_cols:
        out = out.repartition(*[F.col(c) for c in partition_cols])
        (
            out.write.mode("overwrite")
            .partitionBy(*partition_cols)
            .parquet(str(tmp))
        )
    else:
        out = out.coalesce(1)
        out.write.mode("overwrite").parquet(str(tmp))
    manifest = {
        "absorbed_batches": batch_ids,
        "absorbed_dirs": [d.name for d in dirs],
        "through": max(live_ids),
        "rows": rows,
        "files_before": files_before,
    }
    manifest_path.write_text(json.dumps(manifest))
    return _finish_swap(manifest)
