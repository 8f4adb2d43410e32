"""Batch/stream parity (SURVEY §2.11): the streaming window agg over a
finite input equals the batch tumbling_window_agg on the same data."""

from pyspark.sql import functions as F

from metadata_enhanced_pretrain_datapipeline_spark.operators.aggregates import tumbling_window_agg
from metadata_enhanced_pretrain_datapipeline_spark.streaming import events as stream_events


def test_stream_matches_batch(spark, tmp_path):
    rows = [
        (1, "2024-01-01 00:05:00", "click", 1.0),
        (2, "2024-01-01 00:55:00", "click", 2.0),
        (3, "2024-01-01 01:05:00", "view", 3.0),
        (4, "2024-01-01 01:06:00", "click", 4.5),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts string, event_type string, value double")
    df = df.withColumn("ts", F.to_timestamp("ts"))
    src = str(tmp_path / "src")
    df.write.parquet(src)

    batch = tumbling_window_agg(
        spark.read.parquet(src), "ts", ["event_type"], "1 hour",
        [F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value")],
    )
    batch_rows = sorted(
        (str(r.window_start), r.event_type, r.n, r.sum_value) for r in batch.collect()
    )

    stream = stream_events.windowed_counts(
        stream_events.stream_events_from_parquet(spark, src), "ts", "event_type", "1 hour"
    )
    stream_events.drain_complete_to_memory(stream, "stream_out")
    stream_rows = sorted(
        (str(r.window_start), r.event_type, r.n, r.sum_value)
        for r in spark.sql("SELECT * FROM stream_out").collect()
    )
    assert stream_rows == batch_rows


def test_streaming_sessionize_late_rows_extend_backward(spark, tmp_path):
    """A late-but-valid row inside the gap must extend the open session
    backward (start=min, last=max) — moving `last` backward corrupted the
    gap arithmetic and split sessions that belong together."""
    import pandas as pd

    from metadata_enhanced_pretrain_datapipeline_spark.streaming import events as se

    import os

    src = tmp_path / "events_src"
    src.mkdir()

    def write(name, stamps, mtime):
        pd.DataFrame({
            "user_id": [1] * len(stamps), "ts": pd.to_datetime(stamps),
        }).astype({"ts": "datetime64[us]"}).to_parquet(src / name)
        os.utime(src / name, (mtime, mtime))  # deterministic batch order

    # batch 1: 12:00 opens the session (state last=12:00)
    write("a.parquet", ["2024-01-01 12:00:00"], 1_000_000)
    # batch 2 (strictly later mtime): LATE 11:35 (>= start-gap, merges
    # backward) then 12:20. With the fix: start=min=11:35, last stays
    # 12:00, then 12:20-12:00=20min merges -> one session of 3.
    # Regressions caught: start not lowered -> start reads 12:00;
    # last moved backward to 11:35 -> 12:20-11:35=45min>gap wrongly splits.
    write("b.parquet", ["2024-01-01 11:35:00", "2024-01-01 12:20:00"], 1_000_060)
    # batch 3: far-future event closes the session via the gap
    write("c.parquet", ["2024-01-01 20:00:00"], 1_000_120)

    stream = (spark.readStream.schema("user_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    sess = se.streaming_sessionize(stream, gap_seconds=1800, watermark="10 hours")
    q = (sess.writeStream.format("memory").queryName("sess_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    out = {(r.session_start.strftime("%H:%M:%S"), r.n_events)
           for r in spark.table("sess_out").collect()}
    assert ("11:35:00", 3) in out


def _drain_append(stream_df, table):
    q = (stream_df.writeStream.format("memory").queryName(table)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()


def test_streaming_dedup_first_arrival_wins(spark, tmp_path):
    rows = [
        (1, "2024-01-01 00:05:00", "click", 1.0),
        (2, "2024-01-01 00:06:00", "view", 2.0),
        (3, "2024-01-01 00:07:00", "click", 3.0),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts string, event_type string, value double")
    df = df.withColumn("ts", F.to_timestamp("ts"))
    src = str(tmp_path / "dup_src")
    # at-least-once delivery: every event lands twice
    df.write.parquet(src)
    df.write.mode("append").parquet(src)
    assert spark.read.parquet(src).count() == 6

    out = stream_events.streaming_dedup(
        stream_events.stream_events_from_parquet(spark, src), ["event_id", "ts"])
    _drain_append(out, "dedup_out")
    got = spark.sql("SELECT event_id, count(*) AS c FROM dedup_out GROUP BY event_id")
    assert sorted((r.event_id, r.c) for r in got.collect()) == [(1, 1), (2, 1), (3, 1)]


def test_streaming_dedup_within_watermark_retry_with_jitter(spark, tmp_path):
    # the retry carries a FRESH timestamp 1 min later: plain dropDuplicates
    # on (event_id, ts) would keep both; WithinWatermark suppresses it
    a = spark.createDataFrame(
        [(1, "2024-01-01 00:05:00", "click", 1.0)],
        "event_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    b = spark.createDataFrame(
        [(1, "2024-01-01 00:06:00", "click", 1.0)],
        "event_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    src = str(tmp_path / "jitter_src")
    a.write.parquet(src)
    b.write.mode("append").parquet(src)

    out = stream_events.streaming_dedup_within_watermark(
        stream_events.stream_events_from_parquet(spark, src), ["event_id"])
    _drain_append(out, "jitter_out")
    assert spark.sql("SELECT count(*) AS c FROM jitter_out").collect()[0].c == 1


def test_versioned_upsert_order_independent(spark):
    from metadata_enhanced_pretrain_datapipeline_spark.streaming.events import versioned_upsert

    base = spark.createDataFrame(
        [(1, 1, "a"), (2, 1, "b")], "k long, version int, v string")
    upd = spark.createDataFrame(
        [(1, 2, "A"), (3, 1, "c")], "k long, version int, v string")
    fwd = {(r.k): (r.version, r.v)
           for r in versioned_upsert(base, upd, ["k"], "version").collect()}
    rev = {(r.k): (r.version, r.v)
           for r in versioned_upsert(upd, base, ["k"], "version").collect()}
    assert fwd == {1: (2, "A"), 2: (1, "b"), 3: (1, "c")}
    # merging in the opposite order converges to the same table — except
    # the version-TIE rows, which prefer whichever side is 'updates';
    # here versions are unique per key so both orders agree exactly
    assert fwd == rev


def test_versioned_upsert_tie_prefers_update_side(spark):
    from metadata_enhanced_pretrain_datapipeline_spark.streaming.events import versioned_upsert

    base = spark.createDataFrame([(1, 5, "old")], "k long, version int, v string")
    upd = spark.createDataFrame([(1, 5, "new")], "k long, version int, v string")
    out = versioned_upsert(base, upd, ["k"], "version").collect()
    assert out[0].v == "new"


def test_upsert_sink_first_batch_self_reduces_and_survives(spark, tmp_path):
    from metadata_enhanced_pretrain_datapipeline_spark.streaming.events import (
        foreach_batch_versioned_upsert)

    in_dir = str(tmp_path / "in")
    # ONE batch carrying two versions of the same key: the sink must
    # reduce it (review finding: first batch used to skip the upsert)
    spark.createDataFrame(
        [(1, 1, "old"), (1, 2, "new"), (2, 1, "b")],
        "k long, version int, v string").coalesce(1).write.parquet(in_dir)
    stream = spark.readStream.schema("k long, version int, v string").parquet(in_dir)
    out, ck = str(tmp_path / "t"), str(tmp_path / "ck")
    foreach_batch_versioned_upsert(stream, out, ck, ["k"], "version")
    got = {r.k: (r.version, r.v) for r in spark.read.parquet(out).collect()}
    assert got == {1: (2, "new"), 2: (1, "b")}


def test_stream_ivf_append_matches_batch_store(spark, tmp_path):
    from metadata_enhanced_pretrain_datapipeline_spark.operators import similarity

    rows = [(i, [float(i % 3), float((i + 1) % 2)]) for i in range(1, 20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [[1.0, 0.0], [0.0, 1.0], [2.0, 1.0]]
    batch_path = str(tmp_path / "batch")
    similarity.write_ivf_quantized_store(df, batch_path, cents)
    # stream the same rows in two files/batches
    src = str(tmp_path / "src")
    df.filter(F.col("vec_id") < 10).write.parquet(src + "/a")
    df.filter(F.col("vec_id") >= 10).write.parquet(src + "/b")
    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", 1)
              .option("recursiveFileLookup", "true").parquet(src))
    stream_path, ck = str(tmp_path / "stream"), str(tmp_path / "ck")
    stream_events.stream_append_ivf_quantized_store(
        stream, stream_path, cents, ck)
    b = spark.read.parquet(batch_path)
    s = spark.read.parquet(stream_path)
    key = lambda r: (r.vec_id, list(r.qvec), r.qscale, r.list_id)
    assert sorted(map(key, b.collect())) == sorted(map(key, s.collect()))
    # codebook stamp survives the streaming append path too
    assert (s.schema["qvec"].metadata or {})[
        similarity.CODEBOOK_METADATA_KEY] == similarity.codebook_digest(cents)


def test_widen_micro_batch_always_widens(spark):
    """Every batch gets one round-robin exchange to the target width: a
    scan's partition count measures bytes, not rows, so an already-wide
    count is no sign the rows are spread."""
    for parts in (1, 8):
        out = stream_events.widen_micro_batch(
            spark.range(0, 64, numPartitions=parts), min_parts=4)
        assert "RoundRobinPartitioning(4)" in out._jdf.queryExecution().executedPlan().toString()
