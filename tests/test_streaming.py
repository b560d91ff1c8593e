"""Structured Streaming equivalence: the streaming path over the events
directory must produce exactly the batch twin's rows.  Also the laws of
the dedup-at-ingest step (``streaming/ingest.py``)."""

import pytest
from pyspark.sql import functions as F

from platform_etl_openfda_faers_spark.sources.readers import load_table
from platform_etl_openfda_faers_spark.streaming import events as ev

from .event_stream import EVENT_SCHEMA, read_event_stream, run_available_now


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    # re-write the events table as a plain-timestamp parquet dir so the
    # file-source stream can read it with an explicit schema
    out = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(out)
    return out


def test_streaming_tumbling_equals_batch(spark, events_dir):
    batch = spark.read.schema(EVENT_SCHEMA).parquet(events_dir)
    expected = sorted(
        (str(r.window_start), r.event_type, r.n_events, r.sum_value)
        for r in ev.tumbling_counts(batch).collect()
    )
    stream = read_event_stream(spark, events_dir)
    got_df = run_available_now(ev.tumbling_counts(stream), "tumbling_test")
    got = sorted(
        (str(r.window_start), r.event_type, r.n_events, r.sum_value)
        for r in got_df.collect()
    )
    assert got == expected
    assert len(got) > 0


def test_streaming_is_streaming(spark, events_dir):
    stream = read_event_stream(spark, events_dir)
    assert stream.isStreaming
    agg = ev.tumbling_counts(stream)
    assert agg.isStreaming


def test_sliding_batch_window_membership(spark, events_dir):
    batch = spark.read.schema(EVENT_SCHEMA).parquet(events_dir)
    out = ev.sliding_user_activity(batch)
    starts = [r.window_start for r in out.collect()]
    assert len(starts) == len(set(starts))  # one row per window
    assert len(starts) > 0
    # each event belongs to exactly two 1h/30m sliding windows
    memberships = batch.select(F.window("ts", "1 hour", "30 minutes")).count()
    assert memberships == 2 * batch.count()


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Duplicate event_ids arriving in different micro-batches within the
    watermark horizon must emit exactly once."""
    from datetime import datetime

    d = str(tmp_path / "dedup_src")
    rows1 = [(1, datetime(2024, 1, 1, 7, 0), 1, "click", 1.0, "{}"),
             (2, datetime(2024, 1, 1, 7, 5), 1, "click", 2.0, "{}")]
    rows2 = [(1, datetime(2024, 1, 1, 7, 1), 1, "click", 1.0, "{}"),  # dup id 1
             (3, datetime(2024, 1, 1, 7, 9), 1, "click", 3.0, "{}")]
    spark.createDataFrame(rows1, EVENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    spark.createDataFrame(rows2, EVENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(d)

    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = ev.dedup_events(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("dedup_stream_test").select("event_id").collect()
    ids = sorted(r.event_id for r in got)
    assert ids == [1, 2, 3], ids

    # batch twin: same keys survive
    batch = spark.read.schema(EVENT_SCHEMA).parquet(d)
    assert ev.dedup_events(batch).count() == 3


def test_watermark_drops_late_event_across_restarts(spark, tmp_path):
    """Append-mode tumbling aggregate with a 2h watermark, state carried
    across availableNow runs via the checkpoint: an event older than the
    current watermark must NOT change its (already finalized) window."""
    from datetime import datetime

    src = str(tmp_path / "late_src")
    ckpt = str(tmp_path / "late_ckpt")
    sink = str(tmp_path / "late_sink")

    def write_batch(rows):
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
        agg = ev.tumbling_counts(stream)
        q = (
            agg.writeStream.format("parquet")
            .outputMode("append")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # batch 1: watermark ends at 10:30 - 2h = 08:30
    write_batch([(1, datetime(2024, 1, 1, 7, 30), 1, "click", 1.0, "{}"),
                 (2, datetime(2024, 1, 1, 10, 30), 1, "click", 1.0, "{}")])
    run()

    # batch 2: 07:45 is older than the 08:30 watermark -> dropped;
    # its window [07:00,08:00) finalizes with n_events=1
    write_batch([(3, datetime(2024, 1, 1, 7, 45), 1, "click", 9.0, "{}"),
                 (4, datetime(2024, 1, 1, 13, 30), 1, "click", 1.0, "{}")])
    run()

    # batch 3: advances the watermark so [10:00,11:00) finalizes too
    write_batch([(5, datetime(2024, 1, 1, 16, 0), 1, "click", 1.0, "{}")])
    run()

    emitted = {
        (str(r.window_start), r.event_type): (r.n_events, r.sum_value)
        for r in spark.read.parquet(sink).collect()
    }
    # late row (value 9.0) excluded from the finalized 07:00 window
    assert emitted[("2024-01-01 07:00:00", "click")] == (1, 1.0)
    assert emitted[("2024-01-01 10:00:00", "click")] == (1, 1.0)


def test_stream_stream_join_equals_batch(spark, events_dir):
    """The watermarked stream-stream interval join must emit exactly the
    batch twin's matches after draining all micro-batches (inner-join
    matches emit as found; no flush-at-watermark needed)."""
    batch = spark.read.schema(EVENT_SCHEMA).parquet(events_dir)
    expected = sorted(
        (r.click_id, r.purchase_id, r.user_id, r.delay_us)
        for r in ev.click_purchase_join(batch).collect()
    )
    stream = read_event_stream(spark, events_dir)
    out = ev.click_purchase_join(stream)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("ssjoin_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r.click_id, r.purchase_id, r.user_id, r.delay_us)
        for r in spark.table("ssjoin_test").collect()
    )
    assert got == expected
    assert len(got) > 0


def test_stream_stream_join_drops_late_purchase(spark, tmp_path):
    """A purchase arriving in a later micro-batch with event time older
    than the advanced watermark must be dropped (no match emitted), while
    an in-horizon match still joins."""
    from datetime import datetime

    src = str(tmp_path / "ss_src")
    ckpt = str(tmp_path / "ss_ckpt")
    sink = str(tmp_path / "ss_sink")

    def write_batch(rows):
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
        out = ev.click_purchase_join(stream, watermark="2 hours")
        q = (
            out.writeStream.format("parquet")
            .outputMode("append")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # batch 1: click at 07:00; 12:00 events on BOTH sides advance the global
    # watermark to 10:00 (the policy is the MIN across the two sides'
    # watermarks, so an empty purchase side would pin it at epoch 0)
    write_batch([
        (1, datetime(2024, 1, 1, 7, 0), 1, "click", 1.0, "{}"),
        (2, datetime(2024, 1, 1, 12, 0), 1, "click", 1.0, "{}"),
        (6, datetime(2024, 1, 1, 12, 0), 2, "purchase", 2.0, "{}"),
    ])
    run()
    # batch 2: purchase at 07:30 is below the 10:00 watermark -> dropped;
    # purchase at 12:30 matches click 2 within the hour
    write_batch([
        (3, datetime(2024, 1, 1, 7, 30), 1, "purchase", 5.0, "{}"),
        (4, datetime(2024, 1, 1, 12, 30), 1, "purchase", 6.0, "{}"),
    ])
    run()

    pairs = {
        (r.click_id, r.purchase_id)
        for r in spark.read.parquet(sink).collect()
    }
    assert (2, 4) in pairs
    assert (1, 3) not in pairs  # late purchase dropped by the watermark


def test_stream_stream_left_outer_emits_unmatched_after_watermark(spark, tmp_path):
    """Outer stream-stream join: an unmatched click emits (NULL purchase
    columns) only once the watermark proves no in-window purchase can
    still arrive; until then it is held as state, not lost."""
    from datetime import datetime

    src = str(tmp_path / "sso_src")
    ckpt = str(tmp_path / "sso_ckpt")
    sink = str(tmp_path / "sso_sink")

    def write_batch(rows):
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
        out = ev.click_purchase_join(stream, watermark="1 hour", how="left_outer")
        q = (
            out.writeStream.format("parquet")
            .outputMode("append")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # click 1 at 07:00 gets a purchase at 07:10; click 2 at 07:05 never
    # matches.  Advance both sides' event time far enough (12:00) that the
    # watermark (11:00) passes click 2's join window end (08:05).
    write_batch([
        (1, datetime(2024, 1, 1, 7, 0), 1, "click", 1.0, "{}"),
        (2, datetime(2024, 1, 1, 7, 5), 2, "click", 1.0, "{}"),
        (3, datetime(2024, 1, 1, 7, 10), 1, "purchase", 5.0, "{}"),
    ])
    run()
    write_batch([
        (4, datetime(2024, 1, 1, 12, 0), 3, "click", 1.0, "{}"),
        (5, datetime(2024, 1, 1, 12, 0), 3, "purchase", 1.0, "{}"),
    ])
    run()
    # one more availableNow pass lets the advanced watermark flush closed
    # outer-join state
    write_batch([
        (6, datetime(2024, 1, 1, 13, 0), 4, "click", 1.0, "{}"),
        (7, datetime(2024, 1, 1, 13, 0), 4, "purchase", 1.0, "{}"),
    ])
    run()

    rows = {r.click_id: r.purchase_id for r in spark.read.parquet(sink).collect()}
    assert rows[1] == 3          # matched pair
    assert 2 in rows and rows[2] is None  # unmatched click emitted with NULL


def test_stream_static_enrich_equals_batch(spark, events_dir):
    """Stream-static join: per-micro-batch broadcast probe must produce
    exactly the batch join's rows (stateless — no watermark needed)."""
    from pyspark.sql import functions as F

    from platform_etl_openfda_faers_spark.sources.readers import load_table
    from platform_etl_openfda_faers_spark.streaming.events import enrich_with_dim

    dim = load_table(spark, "/root/testdata/sf0.001", "nation").select(
        "n_nationkey", "n_name"
    )
    batch = enrich_with_dim(
        spark.read.parquet(events_dir),
        dim,
        F.col("user_id") % 25,
        "n_nationkey",
    ).select("event_id", "n_name")
    stream = enrich_with_dim(
        read_event_stream(spark, events_dir),
        dim,
        F.col("user_id") % 25,
        "n_nationkey",
    ).select("event_id", "n_name")
    q = (
        stream.writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.table("enriched").collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want and len(got) > 0


def test_dedup_ingest_loop_multi_batch_equals_batch_twin(spark, tmp_path):
    """The dedup-at-ingest step (streaming/ingest.py), called once per
    micro-batch with batch ids 0, 1, 2: near-dup serve from the STORED
    simhash64 chunk index -> accepted docs + their chunk rows appended
    back to the index.  Laws asserted:

    1. multi-batch accepted set == the batch twin (all rows as one batch
       through the same step), and == a Python greedy replay of the
       acceptance rule over the operator's own uncapped pair list;
    2. the cross-batch duplicates are caught by the INDEX update — their
       canonical partners were accepted in an EARLIER batch and the
       step never receives any corpus document source (the corpus side
       is corpus_index= by construction);
    3. the index holds exactly the accepted docs' chunk rows (4 per doc).
    """
    from platform_etl_openfda_faers_spark.operators import dedup
    from platform_etl_openfda_faers_spark.streaming.ingest import (
        dedup_ingest_batch,
    )

    def text_for(i):
        return " ".join(f"tok{i}w{j}" for j in range(20))

    batches = [
        # (doc_id, text): 3 is a WITHIN-batch dup of 0 (higher id loses)
        [(0, text_for(0)), (1, text_for(1)), (2, text_for(2)),
         (3, text_for(0))],
        # 11 is a CROSS-batch dup of accepted 1 -> index catches it
        [(10, text_for(3)), (11, text_for(1)), (12, text_for(4))],
        # 20 dups accepted 0; 22 dups accepted 12; 21/23 unique
        [(20, text_for(0)), (21, text_for(5)), (22, text_for(4)),
         (23, text_for(99))],
    ]
    schema = "doc_id LONG, text STRING"
    idx, acc = str(tmp_path / "index"), str(tmp_path / "accepted")
    # each batch dedupes against the index built by ALL earlier batches
    # (the index parquet carries the dedup state)
    for i, rows in enumerate(batches):
        dedup_ingest_batch(spark.createDataFrame(rows, schema), i, idx, acc)

    accepted = {r.doc_id for r in spark.read.parquet(acc).collect()}

    # --- law 1a: Python greedy replay over the operator's own pair list
    all_rows = [r for b in batches for r in b]
    all_df = spark.createDataFrame(all_rows, schema)
    empty = spark.createDataFrame([], schema)
    edges = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_near_duplicates_incremental64(
            all_df, empty, "text", "doc_id", max_hamming=3,
            max_bucket_size=None,
        ).collect()
    }

    def replay():
        kept = set()
        for rows in batches:
            ids = sorted(d for d, _ in rows)
            batch_kept = set()
            for d in ids:
                dup_of_indexed = any(
                    (min(d, e), max(d, e)) in edges for e in kept
                )
                dup_of_lower = any(
                    (e, d) in edges for e in ids if e < d
                )
                if not dup_of_indexed and not dup_of_lower:
                    batch_kept.add(d)
            kept |= batch_kept
        return kept

    assert accepted == replay()
    assert accepted == {0, 1, 2, 10, 12, 21, 23}

    # --- law 1b: batch twin — same step, all rows in ONE batch
    dedup_ingest_batch(
        all_df, 0, str(tmp_path / "index2"), str(tmp_path / "acc2")
    )
    twin = {r.doc_id for r in spark.read.parquet(str(tmp_path / "acc2")).collect()}
    assert twin == accepted

    # --- law 2: the cross-batch duplicates were rejected via the index —
    # each has an edge to a doc accepted in an EARLIER batch
    for dup, canon in ((11, 1), (20, 0), (22, 12)):
        assert dup not in accepted and canon in accepted
        assert (min(dup, canon), max(dup, canon)) in edges

    # --- law 3: index content == accepted docs' chunk rows, 4 per doc
    idx_df = spark.read.parquet(idx)
    assert {r.doc_id for r in idx_df.select("doc_id").distinct().collect()} \
        == accepted
    per_doc = {
        r.doc_id: r.n
        for r in idx_df.groupBy("doc_id").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert all(n == 4 for n in per_doc.values())


def test_dedup_ingest_checkpoint_loss_fails_loudly(spark, tmp_path):
    """The checkpoint is load-bearing dedup state (ADVICE r12): after
    checkpoint loss, an ``availableNow`` restart re-groups everything
    into a fresh batch 0 while the index still holds the lost lineage's
    ingest_batch= partitions — replaying would leave stale partitions
    alongside the rewritten batch 0 and duplicate doc ids.  The step
    detects the regression (batch 0 + non-empty index) and refuses."""
    from platform_etl_openfda_faers_spark.streaming.ingest import (
        dedup_ingest_batch,
    )

    schema = "doc_id LONG, text STRING"
    idx, acc = str(tmp_path / "index"), str(tmp_path / "accepted")
    first = [(i, f"tok{i}a tok{i}b tok{i}c") for i in range(3)]
    dedup_ingest_batch(spark.createDataFrame(first, schema), 0, idx, acc)
    assert spark.read.parquet(acc).count() == 3

    # checkpoint lost: a fresh lineage re-reads the same rows as batch 0
    replay = spark.createDataFrame(
        first + [(10, "tok10a tok10b tok10c")], schema
    )
    with pytest.raises(ValueError, match="load-bearing"):
        dedup_ingest_batch(replay, 0, idx, acc)


def test_ingest_first_batch_never_reads_a_missing_index(
    spark, tmp_path, monkeypatch
):
    """The first micro-batch of the ingest loop finds no stored index on
    a fresh path and must not read it: Spark's sink metadata probe logs a
    FileNotFoundException stack trace for a missing parquet path."""
    import os

    from pyspark.sql.readwriter import DataFrameReader

    from platform_etl_openfda_faers_spark.streaming.ingest import (
        dedup_ingest_batch,
    )

    reads = []
    real_parquet = DataFrameReader.parquet

    def spy(self, *paths, **options):
        reads.extend((str(p), os.path.exists(p)) for p in paths)
        return real_parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    docs = spark.createDataFrame(
        [(0, "tok0a tok0b tok0c tok0d"), (1, "tok1a tok1b tok1c tok1d")],
        "doc_id LONG, text STRING",
    )
    dedup_ingest_batch(
        docs, 0, str(tmp_path / "index"), str(tmp_path / "accepted")
    )
    assert [p for p, exists in reads if not exists] == []
    monkeypatch.undo()
    assert spark.read.parquet(str(tmp_path / "accepted")).count() == 2
