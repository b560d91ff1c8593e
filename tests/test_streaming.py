"""Structured Streaming equivalence: the streaming path over the events
directory must produce exactly the batch twin's rows."""

import pytest
from pyspark.sql import functions as F

from platform_etl_openfda_faers_spark.sources.readers import load_table
from platform_etl_openfda_faers_spark.streaming import events as ev


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    # re-write the events table as a plain-timestamp parquet dir so the
    # file-source stream can read it with an explicit schema
    out = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(out)
    return out


def test_streaming_tumbling_equals_batch(spark, events_dir):
    batch = spark.read.schema(ev.EVENT_SCHEMA).parquet(events_dir)
    expected = sorted(
        (str(r.window_start), r.event_type, r.n_events, r.sum_value)
        for r in ev.tumbling_counts(batch).collect()
    )
    stream = ev.read_event_stream(spark, events_dir)
    got_df = ev.run_available_now(ev.tumbling_counts(stream), "tumbling_test")
    got = sorted(
        (str(r.window_start), r.event_type, r.n_events, r.sum_value)
        for r in got_df.collect()
    )
    assert got == expected
    assert len(got) > 0


def test_streaming_is_streaming(spark, events_dir):
    stream = ev.read_event_stream(spark, events_dir)
    assert stream.isStreaming
    agg = ev.tumbling_counts(stream)
    assert agg.isStreaming


def test_sliding_batch_window_membership(spark, events_dir):
    batch = spark.read.schema(ev.EVENT_SCHEMA).parquet(events_dir)
    out = ev.sliding_user_activity(batch)
    starts = [r.window_start for r in out.collect()]
    assert len(starts) == len(set(starts))  # one row per window
    assert len(starts) > 0
    # each event belongs to exactly two 1h/30m sliding windows
    memberships = batch.select(F.window("ts", "1 hour", "30 minutes")).count()
    assert memberships == 2 * batch.count()


def test_stateful_running_totals_converge_to_batch(spark, events_dir):
    """applyInPandasWithState: after draining all micro-batches, each user's
    last emitted running total equals the batch aggregate."""
    batch = spark.read.schema(ev.EVENT_SCHEMA).parquet(events_dir)
    expected = {
        r.user_id: (r.n_events, round(r.sum_value, 6))
        for r in ev.running_user_totals(batch).collect()
    }
    stream = ev.read_event_stream(spark, events_dir)
    out = ev.running_user_totals(stream)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("stateful_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    updates = spark.table("stateful_totals")
    # update mode appends one row per touched user per micro-batch; the
    # running count is monotone, so max(n_events) is the final state
    final = {
        r.user_id: (r.n_events, round(r.sum_value, 6))
        for r in updates.orderBy("n_events").collect()
    }
    assert final == expected
    # multiple micro-batches actually happened (maxFilesPerTrigger) or at
    # least one emission per user
    assert updates.count() >= len(expected)


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Duplicate event_ids arriving in different micro-batches within the
    watermark horizon must emit exactly once."""
    from datetime import datetime

    d = str(tmp_path / "dedup_src")
    rows1 = [(1, datetime(2024, 1, 1, 7, 0), 1, "click", 1.0, "{}"),
             (2, datetime(2024, 1, 1, 7, 5), 1, "click", 2.0, "{}")]
    rows2 = [(1, datetime(2024, 1, 1, 7, 1), 1, "click", 1.0, "{}"),  # dup id 1
             (3, datetime(2024, 1, 1, 7, 9), 1, "click", 3.0, "{}")]
    spark.createDataFrame(rows1, ev.EVENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    spark.createDataFrame(rows2, ev.EVENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(d)

    stream = (
        spark.readStream.schema(ev.EVENT_SCHEMA)
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
    batch = spark.read.schema(ev.EVENT_SCHEMA).parquet(d)
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
        spark.createDataFrame(rows, ev.EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        stream = spark.readStream.schema(ev.EVENT_SCHEMA).parquet(src)
        agg = ev.tumbling_counts(stream, window="1 hour", watermark="2 hours")
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
    batch = spark.read.schema(ev.EVENT_SCHEMA).parquet(events_dir)
    expected = sorted(
        (r.click_id, r.purchase_id, r.user_id, r.delay_us)
        for r in ev.click_purchase_join(batch).collect()
    )
    stream = ev.read_event_stream(spark, events_dir)
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
        spark.createDataFrame(rows, ev.EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        stream = spark.readStream.schema(ev.EVENT_SCHEMA).parquet(src)
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


def test_transform_with_state_running_totals(spark, events_dir):
    """transformWithStateInPandas: final per-user running totals equal the
    batch aggregate (same convergence contract as applyInPandasWithState).

    Runs everywhere: where protobuf (the TWS state-server protocol) is
    absent, running_user_totals_tws transparently degrades to the
    applyInPandasWithState twin — same update-mode emissions, same schema —
    so this test exercises a real streaming stateful plan either way."""
    batch = spark.read.schema(ev.EVENT_SCHEMA).parquet(events_dir)
    expected = {
        r.user_id: (r.n_events, round(r.sum_value, 6))
        for r in ev.running_user_totals_tws(batch).collect()
    }
    stream = ev.read_event_stream(spark, events_dir)
    out = ev.running_user_totals_tws(stream)
    assert out.isStreaming
    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q = (
            out.writeStream.format("memory")
            .queryName("tws_totals")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if old is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", old)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    updates = spark.table("tws_totals")
    final = {
        r.user_id: (r.n_events, round(r.sum_value, 6))
        for r in updates.orderBy("n_events").collect()
    }
    assert final == expected
    assert updates.count() >= len(expected)


def test_stream_stream_left_outer_emits_unmatched_after_watermark(spark, tmp_path):
    """Outer stream-stream join: an unmatched click emits (NULL purchase
    columns) only once the watermark proves no in-window purchase can
    still arrive; until then it is held as state, not lost."""
    from datetime import datetime

    src = str(tmp_path / "sso_src")
    ckpt = str(tmp_path / "sso_ckpt")
    sink = str(tmp_path / "sso_sink")

    def write_batch(rows):
        spark.createDataFrame(rows, ev.EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        stream = spark.readStream.schema(ev.EVENT_SCHEMA).parquet(src)
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
    from platform_etl_openfda_faers_spark.streaming.events import (
        enrich_with_dim,
        read_event_stream,
    )

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


def test_foreach_batch_idempotent_sink_survives_replay(spark, tmp_path):
    """The foreachBatch idempotent sink: (1) availableNow run lands every
    row exactly once under batch_id= partitions; (2) manually re-running
    a batch's write (simulating an at-least-once replay after checkpoint
    loss mid-commit) does NOT duplicate rows — the keyed overwrite makes
    the replay a no-op."""
    import json

    from platform_etl_openfda_faers_spark.streaming.events import (
        write_stream_idempotent_parquet,
    )

    src = tmp_path / "src"
    src.mkdir()
    rows = [{"event_id": i, "user_id": i % 3, "v": i * 10} for i in range(20)]
    (src / "a.json").write_text("\n".join(json.dumps(r) for r in rows))

    schema = "event_id LONG, user_id LONG, v LONG"
    stream = spark.readStream.schema(schema).json(str(src))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = write_stream_idempotent_parquet(stream, out, ckpt)
    q.awaitTermination(60)

    back = spark.read.parquet(out)
    assert back.count() == 20
    assert {r.event_id for r in back.select("event_id").collect()} == set(
        range(20)
    )

    # simulate a replay of batch 0: same data, same batch directory
    # (materialize first — a lazy self-referencing read-then-overwrite of
    # the same path is exactly the non-idempotent hazard this sink avoids)
    batch0_rows = (
        back.where(F.col("batch_id") == 0).drop("batch_id").collect()
    )
    spark.createDataFrame(batch0_rows).write.mode("overwrite").parquet(
        f"{out}/batch_id=0"
    )
    spark.catalog.refreshByPath(out)  # drop the stale file-listing cache
    again = spark.read.parquet(out)
    assert again.count() == 20  # no duplicates after replay


def test_dedup_ingest_loop_multi_batch_equals_batch_twin(spark, tmp_path):
    """The production dedup-at-ingest loop (streaming/ingest.py): three
    micro-batches flow through foreachBatch -> near-dup serve from the
    STORED simhash64 chunk index -> accepted docs + their chunk rows
    appended back to the index.  Laws asserted:

    1. multi-batch accepted set == the batch twin run on the concatenated
       corpus (one micro-batch over all files, same loop), and == a
       Python greedy replay of the acceptance rule over the operator's
       own uncapped pair list;
    2. the cross-batch duplicates are caught by the INDEX update — their
       canonical partners were accepted in an EARLIER batch and the
       handler never receives any corpus document source (the corpus
       side is corpus_index= by construction);
    3. the index holds exactly the accepted docs' chunk rows (4 per doc).
    """
    import json

    from platform_etl_openfda_faers_spark.operators import dedup
    from platform_etl_openfda_faers_spark.streaming.ingest import (
        start_dedup_ingest,
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
    src = tmp_path / "src"
    src.mkdir()
    idx, acc, ckpt = (
        str(tmp_path / "index"), str(tmp_path / "accepted"),
        str(tmp_path / "ckpt"),
    )
    # one availableNow run per arriving file: each run dedupes its batch
    # against the index built by ALL earlier batches (across runs — the
    # checkpoint carries offsets, the index parquet carries dedup state)
    for i, rows in enumerate(batches):
        (src / f"b{i}.json").write_text(
            "\n".join(json.dumps({"doc_id": d, "text": t}) for d, t in rows)
        )
        stream = spark.readStream.schema(schema).json(str(src))
        q = start_dedup_ingest(stream, idx, acc, ckpt)
        q.awaitTermination(120)

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

    # --- law 1b: batch twin — same loop, all files in ONE micro-batch
    src2 = tmp_path / "src2"
    src2.mkdir()
    (src2 / "all.json").write_text(
        "\n".join(
            json.dumps({"doc_id": d, "text": t}) for d, t in all_rows
        )
    )
    stream2 = spark.readStream.schema(schema).json(str(src2))
    q2 = start_dedup_ingest(
        stream2, str(tmp_path / "index2"), str(tmp_path / "acc2"),
        str(tmp_path / "ckpt2"),
    )
    q2.awaitTermination(120)
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
    checkpoint loss, availableNow re-groups everything into a fresh
    batch 0 while the index still holds the lost lineage's higher
    ingest_batch= partitions — replaying would leave stale partitions
    alongside the rewritten batch 0 and duplicate doc ids.  The handler
    detects the regression (batch 0 + non-empty index) and refuses."""
    import json

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from platform_etl_openfda_faers_spark.streaming.ingest import (
        start_dedup_ingest,
    )

    schema = "doc_id LONG, text STRING"
    src = tmp_path / "src"
    src.mkdir()
    idx, acc = str(tmp_path / "index"), str(tmp_path / "accepted")
    (src / "b0.json").write_text(
        "\n".join(
            json.dumps({"doc_id": i, "text": f"tok{i}a tok{i}b tok{i}c"})
            for i in range(3)
        )
    )
    stream = spark.readStream.schema(schema).json(str(src))
    q = start_dedup_ingest(stream, idx, acc, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert spark.read.parquet(acc).count() == 3

    # checkpoint lost: a fresh lineage re-reads the same files as batch 0
    (src / "b1.json").write_text(
        json.dumps({"doc_id": 10, "text": "tok10a tok10b tok10c"})
    )
    stream2 = spark.readStream.schema(schema).json(str(src))
    q2 = start_dedup_ingest(stream2, idx, acc, str(tmp_path / "ckpt_new"))
    try:
        q2.awaitTermination(120)
        raised = None
    except StreamingQueryException as exc:
        raised = str(exc)
    assert raised is not None and "load-bearing" in raised


def test_ingest_first_batch_never_reads_a_missing_index(
    spark, tmp_path, monkeypatch
):
    """The first micro-batch of each ingest loop (text SimHash and
    embedding IVF) finds no stored index on a fresh path and must not
    read it: Spark's sink metadata probe logs a FileNotFoundException
    stack trace for a missing parquet path."""
    import os

    from pyspark.sql.readwriter import DataFrameReader

    from platform_etl_openfda_faers_spark.streaming.ingest import (
        dedup_ingest_batch,
        emb_ingest_batch,
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
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cell INT, centroid ARRAY<DOUBLE>"
    )
    emb_ingest_batch(
        vecs, 0, str(tmp_path / "cells"), str(tmp_path / "emb_accepted"),
        cent,
    )
    assert [p for p, exists in reads if not exists] == []
    monkeypatch.undo()
    for acc in ("accepted", "emb_accepted"):
        assert spark.read.parquet(str(tmp_path / acc)).count() == 2


def test_emb_ingest_loop_multi_batch_equals_batch_twin(spark, tmp_path):
    """The embedding-index maintenance loop (streaming/ingest.py,
    VERDICT r12 #5): three micro-batches flow through foreachBatch ->
    semantic near-dup serve from the STORED IVF cell table under FROZEN
    centroids -> accepted vectors + their cell rows appended back.
    Laws asserted (the test_dedup_ingest_loop shape):

    1. multi-batch accepted set == the batch twin (one micro-batch over
       all files, same loop) == a Python greedy replay of keep-lowest
       over the operator's own pair list;
    2. cross-batch duplicates are caught by the INDEX update;
    3. the cells table holds exactly the accepted vectors' rows, one
       per vector, each carrying the centroid fingerprint stamp.
    """
    import json

    from platform_etl_openfda_faers_spark.operators import similarity
    from platform_etl_openfda_faers_spark.streaming.ingest import (
        start_emb_ingest,
    )

    # six distinct contents, three per cell, pairwise cosine < 0.85
    # within a cell; near-dups perturb the main axis (cosine ~0.999)
    contents = {
        0: [1.0, 0.0, 0.0, 0.0, 0.0, 0.0],
        1: [0.0, 1.0, 0.0, 0.0, 0.0, 0.0],
        2: [0.6, 0.0, 1.0, 0.0, 0.0, 0.0],
        3: [0.0, 0.6, 0.0, 0.0, 1.0, 0.0],
        4: [0.6, 0.0, 0.0, 1.0, 0.0, 0.0],
        5: [0.0, 0.6, 0.0, 0.0, 0.0, 1.0],
    }

    def vec(content, jitter=0.0):
        v = list(contents[content])
        v[content % 2] += jitter  # main-ish axis: keeps cell + cosine
        return v

    batches = [
        # 3 is a WITHIN-batch near-dup of 0 (higher id loses)
        [(0, vec(0)), (1, vec(1)), (2, vec(2)), (3, vec(0, 0.05))],
        # 11 is a CROSS-batch near-dup of accepted 1 -> index catches it
        [(10, vec(3)), (11, vec(1, 0.04)), (12, vec(4))],
        # 20 dups accepted 0; 22 dups accepted 12; 21/23 unique (23 is
        # a mixed direction far from every content in either cell)
        [(20, vec(0, 0.03)), (21, vec(5)), (22, vec(4, 0.05)),
         (23, [0.3, 0.3, 0.2, 0.2, 0.2, 0.2])],
    ]

    cent = spark.createDataFrame(
        [(0, contents[0]), (1, contents[1])],
        "cell INT, centroid ARRAY<DOUBLE>",
    )
    schema = "vec_id LONG, embedding ARRAY<DOUBLE>"
    src = tmp_path / "src"
    src.mkdir()
    cells, acc, ckpt = (
        str(tmp_path / "cells"), str(tmp_path / "accepted"),
        str(tmp_path / "ckpt"),
    )
    for i, rows in enumerate(batches):
        (src / f"b{i}.json").write_text(
            "\n".join(
                json.dumps({"vec_id": v, "embedding": e}) for v, e in rows
            )
        )
        stream = spark.readStream.schema(schema).json(str(src))
        q = start_emb_ingest(stream, cells, acc, ckpt, cent)
        q.awaitTermination(120)

    accepted = {r.vec_id for r in spark.read.parquet(acc).collect()}

    # --- law 1a: Python greedy replay over the operator's own pair list
    all_rows = [r for b in batches for r in b]
    all_df = spark.createDataFrame(all_rows, schema)
    empty = spark.createDataFrame([], schema)
    edges = {
        (r.id_a, r.id_b)
        for r in similarity.semantic_near_duplicates_incremental(
            all_df, empty, threshold=0.85, centroids=cent
        ).collect()
    }

    kept = set()
    for rows in batches:
        ids = sorted(v for v, _ in rows)
        batch_kept = set()
        for d in ids:
            dup_of_indexed = any(
                (min(d, e), max(d, e)) in edges for e in kept
            )
            dup_of_lower = any((e, d) in edges for e in ids if e < d)
            if not dup_of_indexed and not dup_of_lower:
                batch_kept.add(d)
        kept |= batch_kept
    assert accepted == kept
    assert accepted == {0, 1, 2, 10, 12, 21, 23}

    # --- law 1b: batch twin — same loop, all rows in ONE micro-batch
    src2 = tmp_path / "src2"
    src2.mkdir()
    (src2 / "all.json").write_text(
        "\n".join(
            json.dumps({"vec_id": v, "embedding": e}) for v, e in all_rows
        )
    )
    stream2 = spark.readStream.schema(schema).json(str(src2))
    q2 = start_emb_ingest(
        stream2, str(tmp_path / "cells2"), str(tmp_path / "acc2"),
        str(tmp_path / "ckpt2"), cent,
    )
    q2.awaitTermination(120)
    twin = {
        r.vec_id
        for r in spark.read.parquet(str(tmp_path / "acc2")).collect()
    }
    assert twin == accepted

    # --- law 2: cross-batch duplicates rejected via the index
    for dup, canon in ((11, 1), (20, 0), (22, 12)):
        assert dup not in accepted and canon in accepted
        assert (min(dup, canon), max(dup, canon)) in edges

    # --- law 3: cells table == accepted vectors' rows, stamped
    cells_df = spark.read.parquet(cells)
    assert "index_fp" in cells_df.columns
    got = {
        r.neighbor_id for r in cells_df.select("neighbor_id").collect()
    }
    assert got == accepted
    assert cells_df.count() == len(accepted)  # one cell row per vector
