"""Structured Streaming drift monitor: end-to-end with a file-source
stream — windows close past the watermark, drift matches the batch KL
(0 for identical windows, large for a flip) with bounded state."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from reviews_quality_check_spark.oracle import reference as O
from reviews_quality_check_spark.streaming.drift_stream import (
    start_incremental_drift_monitor,
)


def test_streaming_drift_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    hist = str(tmp_path / "hist")

    rows = []
    for h, (na, nb) in enumerate([(90, 10), (90, 10), (10, 90)]):
        ts = f"2024-01-01 0{h}:30:00"
        rows += [(ts, "a")] * na + [(ts, "b")] * nb
    df = spark.createDataFrame(rows, "ts string, cat string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    df.write.mode("append").parquet(src)

    schema = T.StructType(
        [T.StructField("ts", T.TimestampType()), T.StructField("cat", T.StringType())]
    )
    stream = spark.readStream.schema(schema).parquet(src)
    q = start_incremental_drift_monitor(stream, "ts", "cat", ckpt, hist, "1 hour", "1 hour")
    try:
        q.processAllAvailable()
        # advance the watermark so the first three windows close
        late = spark.createDataFrame(
            [("2024-01-01 09:00:00", "a")], "ts string, cat string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        late.write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    drift = {
        str(r["window_start"]): r["drift"]
        for r in spark.read.parquet(hist + "_drift").collect()
    }
    assert drift["2024-01-01 01:00:00"] == pytest.approx(0.0, abs=1e-9)
    want = O.kl_divergence({"a": 0.1, "b": 0.9}, {"a": 0.9, "b": 0.1})
    assert drift["2024-01-01 02:00:00"] == pytest.approx(want, rel=1e-6)


def test_incremental_drift_bounded_state(spark, tmp_path):
    """Incremental monitor: same drift values as the full-history
    recompute, but per-batch state is capped at state_windows x
    |categories| rows — the SCALE.md 'stateful incremental variant'."""
    from reviews_quality_check_spark.streaming.drift_stream import (
        start_incremental_drift_monitor,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")

    rows = []
    # 5 hourly windows: steady, steady, flip, steady, half-half
    dists = [(90, 10), (90, 10), (10, 90), (10, 90), (50, 50)]
    for h, (na, nb) in enumerate(dists):
        ts = f"2024-01-01 0{h}:30:00"
        rows += [(ts, "a")] * na + [(ts, "b")] * nb
    df = spark.createDataFrame(rows, "ts string, cat string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    # two source files -> at least two micro-batches exercise the
    # state handoff (predecessor from state, not from the same batch)
    df.filter(F.hour("ts") < 2).write.mode("append").parquet(src)

    schema = T.StructType(
        [T.StructField("ts", T.TimestampType()), T.StructField("cat", T.StringType())]
    )
    stream = spark.readStream.schema(schema).parquet(src)
    q = start_incremental_drift_monitor(
        stream, "ts", "cat", ckpt, state, "1 hour", "1 hour", state_windows=2
    )
    try:
        q.processAllAvailable()
        df.filter(F.hour("ts") >= 2).write.mode("append").parquet(src)
        q.processAllAvailable()
        late = spark.createDataFrame(
            [("2024-01-01 09:00:00", "a")], "ts string, cat string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        late.write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    drift = {
        str(r["window_start"]): r["drift"]
        for r in spark.read.parquet(state + "_drift").collect()
    }
    flip = O.kl_divergence({"a": 0.1, "b": 0.9}, {"a": 0.9, "b": 0.1})
    half = O.kl_divergence({"a": 0.5, "b": 0.5}, {"a": 0.1, "b": 0.9})
    assert drift["2024-01-01 01:00:00"] == pytest.approx(0.0, abs=1e-9)
    assert drift["2024-01-01 02:00:00"] == pytest.approx(flip, rel=1e-6)
    assert drift["2024-01-01 03:00:00"] == pytest.approx(0.0, abs=1e-9)
    assert drift["2024-01-01 04:00:00"] == pytest.approx(half, rel=1e-6)
    # bounded state: at most state_windows x |categories| rows in the
    # latest committed version (state is versioned per batch for exact
    # failure-replay; at most the two newest versions are retained)
    import os

    versions = sorted(
        int(d[2:]) for d in os.listdir(state) if d.startswith("v=")
    )
    assert len(versions) <= 2
    assert spark.read.parquet(f"{state}/v={versions[-1]}").count() <= 2 * 2


def test_streaming_dedup_drops_repeats_within_watermark(spark, tmp_path):
    """First arrival of each url survives; repeats within the watermark
    horizon are dropped; output preserved across micro-batches."""
    from pyspark.sql import functions as F

    from reviews_quality_check_spark.streaming.drift_stream import streaming_dedup

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    rows1 = [("u1", "2024-01-01 00:00:00"), ("u2", "2024-01-01 00:01:00"),
             ("u1", "2024-01-01 00:02:00")]
    rows2 = [("u1", "2024-01-01 00:03:00"), ("u3", "2024-01-01 00:04:00")]
    schema = "url string, warc_ts string"

    def write_batch(rows, n):
        spark.createDataFrame(rows, schema).withColumn(
            "warc_ts", F.to_timestamp("warc_ts")
        ).write.mode("append").parquet(src)

    write_batch(rows1, 1)
    stream = spark.readStream.schema("url string, warc_ts timestamp").parquet(src)
    q = (
        streaming_dedup(stream, ts_col="warc_ts", key_cols=("url",), watermark="10 minutes")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    write_batch(rows2, 2)
    q2 = (
        streaming_dedup(stream, ts_col="warc_ts", key_cols=("url",), watermark="10 minutes")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    got = sorted(r["url"] for r in spark.read.parquet(out).collect())
    assert got == ["u1", "u2", "u3"]  # u1 repeats (batch 1 AND batch 2) dropped


def test_sessionize_stream_session_windows(spark, tmp_path):
    """session_window sessions: events within the gap merge into one
    session per user; a gap larger than 30min opens a new session."""
    from pyspark.sql import functions as F

    from reviews_quality_check_spark.streaming.drift_stream import sessionize_stream

    src, out, ck = str(tmp_path / "s"), str(tmp_path / "o"), str(tmp_path / "c")
    rows = [
        (1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:10:00"),  # session A (2)
        (1, "2024-01-01 02:00:00"),                               # session B (1)
        (2, "2024-01-01 00:05:00"),                               # session C (1)
    ]
    spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    ).write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
        q = (
            sessionize_stream(stream, gap="30 minutes", watermark="10 minutes")
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    run_once()
    # sessions only emit once the watermark passes their close: append a
    # late flush event so batch 2's watermark (03:50) closes session B
    spark.createDataFrame([(99, "2024-01-01 04:00:00")], "user_id long, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    ).write.mode("append").parquet(src)
    run_once()
    got = {
        (r["user_id"], str(r["session_start"])): r["n_events"]
        for r in spark.read.parquet(out).collect()
    }
    assert got[(1, "2024-01-01 00:00:00")] == 2
    assert got[(1, "2024-01-01 02:00:00")] == 1
    assert got[(2, "2024-01-01 00:05:00")] == 1


def test_incremental_drift_fresh_checkpoint_over_stale_state_raises(spark, tmp_path):
    """Restarting a stream with a fresh checkpoint dir (batch ids reset
    to 0) over a previous run's state/drift dirs must RAISE loudly, not
    silently restart drift history (ADVICE r3 #1)."""
    import pytest
    from pyspark.sql import functions as F

    from reviews_quality_check_spark.streaming.drift_stream import (
        incremental_drift_foreach_batch,
    )

    state_path = str(tmp_path / "state")
    batch = spark.range(3).select(
        F.lit("2024-03-01 00:00:00").cast("timestamp").alias("window_start"),
        F.concat(F.lit("c"), F.col("id")).alias("category"),
        F.lit(5).cast("long").alias("cnt"),
    )
    # previous run committed state version v=7
    batch.write.parquet(f"{state_path}/v=7")
    cb, drift_path = incremental_drift_foreach_batch(state_path, metric="kl")
    with pytest.raises(RuntimeError, match="fresh checkpoint"):
        cb(batch, 0)
    # stale drift-only leftovers (state purged, drift dir not) also raise
    state2 = str(tmp_path / "state2")
    cb2, drift2 = incremental_drift_foreach_batch(state2, metric="kl")
    batch.write.parquet(f"{drift2}/batch=3")
    with pytest.raises(RuntimeError, match="previous run"):
        cb2(batch, 0)


def test_incremental_drift_batch0_replay_rewrites_not_raises(spark, tmp_path):
    """The legitimate same-checkpoint replay of batch 0 — the crashed
    attempt committed state v=0 BEFORE the streaming offset commit —
    must proceed (overwrite v=0) rather than raise (ADVICE r4 #1). The
    guard still raises when any version exceeds batch_id."""
    import pytest
    from pyspark.sql import functions as F

    from reviews_quality_check_spark.streaming.drift_stream import (
        incremental_drift_foreach_batch,
    )

    state_path = str(tmp_path / "state")
    batch = spark.range(3).select(
        F.lit("2024-03-01 00:00:00").cast("timestamp").alias("window_start"),
        F.concat(F.lit("c"), F.col("id")).alias("category"),
        F.lit(5).cast("long").alias("cnt"),
    )
    cb, drift_path = incremental_drift_foreach_batch(state_path, metric="kl")
    # first (crashed-after-state-commit) attempt of batch 0
    cb(batch, 0)
    assert spark.read.parquet(f"{state_path}/v=0").count() == 3
    clean_state = spark.read.parquet(f"{state_path}/v=0").collect()
    clean_drift = spark.read.parquet(f"{drift_path}/batch=0").collect()
    # replay of batch 0 over its own committed v=0: rewrite, not raise
    cb(batch, 0)
    assert sorted(map(str, spark.read.parquet(f"{state_path}/v=0").collect())) == sorted(
        map(str, clean_state)
    )
    assert sorted(map(str, spark.read.parquet(f"{drift_path}/batch=0").collect())) == sorted(
        map(str, clean_drift)
    )
    # versions beyond batch_id still raise (v=0 AND v=1 present at batch 0)
    spark.read.parquet(f"{state_path}/v=0").write.parquet(f"{state_path}/v=1")
    with pytest.raises(RuntimeError, match="fresh checkpoint"):
        cb(batch, 0)
