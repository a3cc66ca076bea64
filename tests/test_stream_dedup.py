"""Watermark-bounded streaming dedup and corrupt-record JSONL ingestion."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from importer_spark.io import Tables
from importer_spark.streaming.incremental import stream_dedup_within_watermark
from tests.conftest import SF_DIR


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Duplicated events (same event_id re-delivered) collapse to one row
    under streaming dedup; result matches batch dropDuplicates."""
    events = Tables(spark, SF_DIR).events.select("event_id", "user_id", "ts")
    doubled = events.unionByName(events)  # simulate at-least-once redelivery
    staged = str(tmp_path / "events")
    doubled.write.parquet(staged)

    stream = spark.readStream.schema(doubled.schema).parquet(staged)
    deduped = stream_dedup_within_watermark(stream, ["event_id"], "2 hours")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("dedup_stream").count()
    expect = events.select("event_id").distinct().count()
    assert got == expect

    # Batch fallback path: same count without a streaming plan.
    assert stream_dedup_within_watermark(doubled, ["event_id"]).count() == expect


def test_jsonl_corrupt_records_quarantined(spark, tmp_path):
    """PERMISSIVE read keeps good rows and captures bad lines in
    _corrupt_record — the quarantine pattern for dirty feed ingestion
    (reference's dlt loads silently coerce; we surface them instead)."""
    p = tmp_path / "feed.jsonl"
    lines = [
        json.dumps({"id": 1, "v": "a"}),
        "{this is not json",
        json.dumps({"id": 2, "v": "b"}),
        '{"id": "not-an-int", "v": 3}',
    ]
    p.write_text("\n".join(lines) + "\n")

    df = (
        spark.read.schema("id bigint, v string, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
        # Spark disallows filtering on ONLY the corrupt-record column straight
        # off the raw scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN); materialize first.
        .cache()
    )
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert good.count() == 2
    assert {r["id"] for r in good.collect()} == {1, 2}
    assert bad.count() == 2  # malformed line + type-mismatched line
    # The raw text of every rejected line is preserved for quarantine/replay.
    raw = "".join(r["_corrupt_record"] for r in bad.collect())
    assert "this is not json" in raw and "not-an-int" in raw


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream view→purchase join equals the static join
    over the same closed dataset."""
    events = Tables(spark, SF_DIR).events
    from importer_spark.streaming.incremental import stream_stream_view_purchase

    views_b = events.filter(F.col("event_type") == "view")
    purch_b = events.filter(F.col("event_type") == "purchase")
    expect = stream_stream_view_purchase(views_b, purch_b).count()

    staged = str(tmp_path / "events")
    events.write.parquet(staged)
    stream = spark.readStream.schema(events.schema).parquet(staged)
    out = stream_stream_view_purchase(
        stream.filter(F.col("event_type") == "view"),
        stream.filter(F.col("event_type") == "purchase"),
    )
    q = (
        out.writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
        .start()
    )
    q.awaitTermination(180)
    got = spark.table("ssj").count()
    assert got == expect > 0


def test_session_window_streaming(spark, tmp_path):
    """session_window genuinely runs under readStream + watermark (the
    'streaming-ready' claim of session_window_native). Append mode only
    emits sessions sealed below the final watermark, so the streamed result
    must be a subset of the batch sessions — and a large one."""
    events = Tables(spark, SF_DIR).events
    staged = str(tmp_path / "events")
    events.write.parquet(staged)
    stream = spark.readStream.schema(events.schema).parquet(staged)
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("sw.start").alias("session_start"), "n_events")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in spark.table("sess_stream").collect()
    }
    expect = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in (
            events.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
            .agg(F.count("*").alias("n_events"))
            .select("user_id", F.col("sw.start").alias("session_start"), "n_events")
            .collect()
        )
    }
    assert got <= expect
    assert len(got) >= 0.8 * len(expect), (len(got), len(expect))


def test_streaming_incremental_near_dup_via_foreachbatch(spark, tmp_path):
    """End-to-end streaming corpus dedup: document batches arrive as a file
    stream; each foreachBatch probes the PERSISTED band store for near-dups
    against everything seen so far, appends the hits, and merges the batch's
    bands into the store (io.merge_by_key — batch cost, not corpus cost).
    The accumulated pair set must equal the batch answer on the full corpus."""
    from importer_spark.io import Tables, merge_by_key
    from importer_spark.operators.dedup import near_dup_pairs, near_dup_pairs_incremental
    from importer_spark.txn import TxnTable

    docs = Tables(spark, SF_DIR).documents.select("doc_id", "lang", "text")
    corpus_path = str(tmp_path / "corpus")
    store_path = str(tmp_path / "band_store")
    pairs_path = str(tmp_path / "pairs")
    stream_in = tmp_path / "in"
    stream_in.mkdir()

    # three arrival waves, written as separate files so availableNow
    # processes them in one run but through the same batch loop
    for wave in range(3):
        docs.filter(F.col("doc_id") % 3 == wave).coalesce(1).write.mode(
            "append"
        ).parquet(str(stream_in))

    def process_batch(batch_df, batch_id):
        s = batch_df.sparkSession
        batch = batch_df.localCheckpoint(eager=True)  # stable within the batch
        # corpus grows first so verify can read batch-batch pair content
        batch.write.mode("append").parquet(corpus_path)
        corpus = s.read.parquet(corpus_path)
        t = TxnTable(s, store_path)
        if t.latest_version() is None:
            store = s.createDataFrame([], "doc_id bigint, band_idx int, band_key string")
        else:
            store = t.read()
        pairs, new_bands = near_dup_pairs_incremental(
            corpus, batch, store.select("doc_id", "band_idx", "band_key"),
            "doc_id", "text",
        )
        pairs.write.mode("append").parquet(pairs_path)
        merge_by_key(s, new_bands, store_path, keys=["doc_id", "band_idx"])

    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_in))
        .writeStream.foreachBatch(process_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(240)

    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in spark.read.parquet(pairs_path).collect()
    }
    want = {
        (r.id_a, r.id_b, r.jaccard)
        for r in near_dup_pairs(docs, "doc_id", "text").collect()
    }
    assert want  # planted dups exist
    assert got == want


def test_streaming_incremental_substring_via_foreachbatch(spark, tmp_path):
    """Streaming exact-substring dedup: document batches arrive as a file
    stream; each foreachBatch probes the PERSISTED gram store (fixed-width
    capped-count rows), appends the batch's duplicate spans, and merges the
    batch's gram delta in (io.merge_by_key on the 16-byte key — batch cost,
    not corpus cost). Streaming semantics are prefix semantics: a doc's
    spans reflect the corpus as of its arrival (a later-arriving twin makes
    the LATER doc's spans, not retroactive ones) — so the accumulated
    result must equal the union over waves of the full-batch answer on that
    wave's prefix, restricted to the wave."""
    from importer_spark.io import Tables, merge_by_key
    from importer_spark.operators.dedup import (
        duplicate_ngram_spans,
        duplicate_ngram_spans_incremental,
    )
    from importer_spark.txn import TxnTable

    docs = Tables(spark, SF_DIR).documents.select("doc_id", "lang", "text")
    store_path = str(tmp_path / "gram_store")
    spans_path = str(tmp_path / "spans")
    stream_in = tmp_path / "in"
    stream_in.mkdir()

    for wave in range(3):
        docs.filter(F.col("doc_id") % 3 == wave).coalesce(1).write.mode(
            "append"
        ).parquet(str(stream_in))

    def process_batch(batch_df, batch_id):
        s = batch_df.sparkSession
        batch = batch_df.localCheckpoint(eager=True)
        t = TxnTable(s, store_path)
        if t.latest_version() is None:
            store = s.createDataFrame(
                [], "_k1 bigint, _k2 bigint, n_docs int, solo_id bigint"
            )
        else:
            store = t.read()
        spans, delta = duplicate_ngram_spans_incremental(
            batch, store.select("_k1", "_k2", "n_docs", "solo_id"),
            "doc_id", "text",
        )
        spans.write.mode("append").parquet(spans_path)
        # merge_by_key upserts whole rows by key; fold counts first so the
        # store row reflects store ∪ delta, then upsert.
        from importer_spark.operators.dedup import merge_ngram_stores

        merged_delta = merge_ngram_stores(
            store.join(delta.select("_k1", "_k2"), ["_k1", "_k2"], "left_semi"),
            delta,
        )
        merge_by_key(s, merged_delta, store_path, keys=["_k1", "_k2"])

    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_in))
        .writeStream.foreachBatch(process_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(240)

    got = {
        (r.doc_id, r.span_start, r.span_end)
        for r in spark.read.parquet(spans_path).collect()
    }
    want = set()
    for wave in range(3):
        prefix = docs.filter(F.col("doc_id") % 3 <= wave)
        want |= {
            (r.doc_id, r.span_start, r.span_end)
            for r in duplicate_ngram_spans(prefix, "doc_id", "text")
            .filter(F.col("doc_id") % 3 == wave)
            .collect()
        }
    assert want  # planted dups share passages
    assert got == want
