"""Stateful streaming, foreachBatch sink, SCD2 merge, and the seed/
incremental orchestration runner."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from importer_spark.io import Tables
from importer_spark.operators.scd import scd2_apply
from importer_spark.plans.pipeline import run_source_load
from importer_spark.txn import TxnTable
from importer_spark.streaming.stateful import (
    running_user_totals,
    running_user_totals_tws,
    tws_available,
)
from tests.conftest import SF_DIR


def test_stateful_running_totals(spark, tmp_path):
    """applyInPandasWithState totals equal a batch groupBy over the same data."""
    events = Tables(spark, SF_DIR).events
    staged = str(tmp_path / "events")
    events.write.parquet(staged)
    stream = spark.readStream.schema(events.schema).parquet(staged)
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("user_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    # update mode may emit a row per micro-batch; the LAST emission per user
    # is the final state.
    got = spark.sql(
        """SELECT user_id, n_events, total_value FROM (
             SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn
             FROM user_totals) WHERE rn = 1"""
    ).toPandas()
    expect = (
        events.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias(
                "total_value"
            ),
        )
        .toPandas()
    )
    g = got.set_index("user_id").sort_index()
    e = expect.set_index("user_id").sort_index()
    assert (g.n_events == e.n_events).all()
    assert (g.total_value - e.total_value).abs().max() < 0.05


@pytest.mark.skipif(
    not tws_available(),
    reason="transformWithStateInPandas needs protobuf in the Python worker",
)
def test_tws_running_totals(spark, tmp_path):
    """Spark-4 transformWithStateInPandas totals equal the batch groupBy
    (same contract as the applyInPandasWithState test above)."""
    events = Tables(spark, SF_DIR).events
    staged = str(tmp_path / "events")
    events.write.parquet(staged)
    stream = spark.readStream.schema(events.schema).parquet(staged)
    q = (
        running_user_totals_tws(stream)
        .writeStream.format("memory")
        .queryName("user_totals_tws")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        """SELECT user_id, n_events, total_value FROM (
             SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn
             FROM user_totals_tws) WHERE rn = 1"""
    ).toPandas()
    expect = (
        events.groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
        .toPandas()
    )
    g = got.set_index("user_id").sort_index()
    e = expect.set_index("user_id").sort_index()
    assert (g.n_events == e.n_events).all()


def test_foreach_batch_sink(spark, tmp_path):
    """foreachBatch: custom exactly-once-style sink receives each micro-batch
    with its epoch id."""
    events = Tables(spark, SF_DIR).events
    staged = str(tmp_path / "events")
    events.limit(100).write.parquet(staged)
    stream = spark.readStream.schema(events.schema).parquet(staged)
    seen: list[tuple[int, int]] = []

    def sink(df, epoch_id):
        seen.append((epoch_id, df.count()))

    q = (
        stream.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    assert sum(n for _, n in seen) == 100
    assert len({e for e, _ in seen}) == len(seen)  # distinct epochs


def _scd_rows(df):
    return sorted(
        (r.k, r.v, r.valid_from, r.valid_to) for r in df.collect()
    )


def test_scd2_new_and_changed_and_noop(spark):
    current = spark.createDataFrame(
        [
            Row(k=1, v="a", valid_from="2024-01-01", valid_to=None),
            Row(k=9, v="old", valid_from="2023-01-01", valid_to="2023-06-01"),
            Row(k=9, v="now", valid_from="2023-06-01", valid_to=None),
        ],
        schema="k int, v string, valid_from string, valid_to string",
    )
    updates = spark.createDataFrame(
        [
            Row(k=1, v="b", ts="2024-02-01"),   # change → close old, open new
            Row(k=2, v="x", ts="2024-02-01"),   # brand new key
            Row(k=9, v="now", ts="2024-03-01"), # no-op → dropped
        ],
        schema="k int, v string, ts string",
    )
    out = scd2_apply(current, updates, key=["k"], attrs=["v"], effective_col="ts")
    assert _scd_rows(out) == [
        (1, "a", "2024-01-01", "2024-02-01"),
        (1, "b", "2024-02-01", None),
        (2, "x", "2024-02-01", None),
        (9, "now", "2023-06-01", None),
        (9, "old", "2023-01-01", "2023-06-01"),
    ]


def test_scd2_multiple_updates_one_batch(spark):
    current = spark.createDataFrame(
        [], schema="k int, v string, valid_from string, valid_to string"
    )
    updates = spark.createDataFrame(
        [
            Row(k=1, v="a", ts="2024-01-01"),
            Row(k=1, v="a", ts="2024-01-15"),  # dup → dropped
            Row(k=1, v="b", ts="2024-02-01"),
        ],
        schema="k int, v string, ts string",
    )
    out = scd2_apply(current, updates, key=["k"], attrs=["v"], effective_col="ts")
    assert _scd_rows(out) == [
        (1, "a", "2024-01-01", "2024-02-01"),
        (1, "b", "2024-02-01", None),
    ]


def test_seed_then_incremental_orchestration(spark, tmp_path):
    wh = str(tmp_path / "wh")
    v1 = spark.createDataFrame(
        [Row(id=1, val="a", updated_at="2024-01-01"), Row(id=2, val="b", updated_at="2024-01-02")]
    )
    seed = run_source_load(spark, v1, wh, keys=["id"], cursor_col="updated_at", mode="seed")
    assert (seed.rows_loaded, seed.target_rows) == (2, 2)
    # Incremental: one re-delivered update (newer version of id=2) + one new row.
    v2 = spark.createDataFrame(
        [
            Row(id=2, val="b2", updated_at="2024-01-05"),
            Row(id=3, val="c", updated_at="2024-01-06"),
            Row(id=1, val="a", updated_at="2024-01-01"),  # old row: filtered by cursor
        ]
    )
    incr = run_source_load(spark, v2, wh, keys=["id"], cursor_col="updated_at", mode="incremental")
    assert (incr.rows_loaded, incr.target_rows) == (2, 3)
    final = {r.id: r.val for r in TxnTable(spark, wh).read().collect()}
    assert final == {1: "a", 2: "b2", 3: "c"}
    with pytest.raises(ValueError):
        run_source_load(spark, v1, wh, keys=["id"], cursor_col="updated_at", mode="bogus")


def test_stateful_sessions_stitch_across_batches(spark, tmp_path):
    """A session spanning two micro-batches must come out WHOLE when a
    later out-of-gap event closes it — per-user state carries the open
    session across batch boundaries (maxFilesPerTrigger=1 forces the
    split)."""
    import datetime as dt

    from pyspark.sql import Row

    from importer_spark.streaming.stateful import stateful_sessions

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(uid, minutes):
        return Row(user_id=uid, ts=t0 + dt.timedelta(minutes=minutes))

    batch1 = [ev(1, 0), ev(1, 10)]              # session A opens
    batch2 = [ev(1, 20), ev(1, 120), ev(2, 0)]  # A continues, then closes at +120
    src = tmp_path / "stream"
    spark.createDataFrame(batch1).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(batch2).coalesce(1).write.parquet(str(src / "b2"))
    schema = spark.read.parquet(str(src / "b1")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        stateful_sessions(stream, gap_seconds=1800)
        .writeStream.format("memory")
        .queryName("stateful_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM stateful_sessions").collect()
    # Exactly one CLOSED session: user 1's A = [t0, t0+20min], 3 events —
    # stitched across the two batches. (The +120 session and user 2's stay
    # open in state.)
    assert len(rows) == 1
    r = rows[0]
    assert r.user_id == 1 and r.n_events == 3
    assert r.session_start == t0 and r.session_end == t0 + dt.timedelta(minutes=20)


def test_streaming_transition_counts_match_batch(spark, tmp_path):
    """Stream ≡ batch for the Markov transition counts: feed the events
    table in CHRONOLOGICAL micro-batches (maxFilesPerTrigger=1) and sum the
    emitted increments — must equal the batch event_transition_matrix
    counts, including every transition that straddles a batch boundary."""
    from pyspark.sql import functions as F

    from importer_spark.io import Tables
    from importer_spark.queries import QUERIES
    from importer_spark.streaming.stateful import streaming_transition_counts
    from tests.conftest import SF_DIR

    ev = Tables(spark, SF_DIR).events.select("user_id", "event_id", "ts", "event_type")
    # Two chronological halves so transitions straddle the boundary. (split at median ts)
    cut = ev.agg(F.expr("percentile(unix_micros(ts), 0.5)")).collect()[0][0]
    src = tmp_path / "stream"
    ev.filter(F.unix_micros("ts") <= cut).coalesce(1).write.parquet(str(src / "b1"))
    ev.filter(F.unix_micros("ts") > cut).coalesce(1).write.parquet(str(src / "b2"))
    schema = spark.read.parquet(str(src / "b1")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        streaming_transition_counts(stream)
        .writeStream.format("memory")
        .queryName("transition_counts")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = (
        spark.sql("SELECT from_type, to_type, SUM(n) AS n FROM transition_counts GROUP BY 1, 2")
        .collect()
    )
    got_map = {(r.from_type, r.to_type): r.n for r in got}
    want = QUERIES["event_transition_matrix"](spark, SF_DIR).collect()
    want_map = {(r.from_type, r.to_type): r.n_transitions for r in want}
    assert got_map == want_map
