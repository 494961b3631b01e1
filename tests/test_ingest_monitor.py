"""Streaming ingest monitor: per-batch metric history, replay
idempotency, and anomaly flags over the committed history."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import types as T

from reviews_quality_check_spark.streaming.ingest_monitor import (
    batch_metrics,
    ingest_anomalies,
    metrics_foreach_batch,
    start_ingest_monitor,
)

SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
    ]
)


def _write_file(spark, src, n, etype_mod=2, offset=0):
    (
        spark.range(offset, offset + n)
        .select(
            F.col("id").alias("event_id"),
            F.concat(F.lit("t"), (F.col("id") % etype_mod).cast("string")).alias(
                "event_type"
            ),
        )
        .coalesce(1)
        .write.mode("append")
        .parquet(src)
    )


def _run(spark, src, ckpt, metrics):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_ingest_monitor(stream, metrics, ckpt, series_col="event_type")
    q.awaitTermination(180)


def test_volume_spike_flagged_within_one_batch(spark, tmp_path):
    src, ckpt, metrics = (str(tmp_path / d) for d in ("src", "ckpt", "m"))
    for i in range(4):
        _write_file(spark, src, 100, offset=i * 100)  # stable 100/batch
    _write_file(spark, src, 500, offset=1000)         # the crawler loop
    _run(spark, src, ckpt, metrics)

    flags = {
        (r["metric"], r["window_id"]): r
        for r in ingest_anomalies(spark, metrics).collect()
    }
    # 5 batches committed for the __all volume series: 100x4 then 500
    vols = [flags["__all", b] for b in range(5)]
    assert [r["value"] for r in vols] == [100] * 4 + [500]
    assert vols[4]["rel_anomaly"] and vols[4]["z_anomaly"]
    assert all(not r["rel_anomaly"] and not r["z_anomaly"] for r in vols[:4])
    # per-type series flagged too (each type spikes 50 -> 250)
    assert flags["t0", 4]["rel_anomaly"]


def test_restart_without_new_data_appends_nothing(spark, tmp_path):
    src, ckpt, metrics = (str(tmp_path / d) for d in ("src", "ckpt", "m"))
    _write_file(spark, src, 50)
    _write_file(spark, src, 50, offset=50)
    _run(spark, src, ckpt, metrics)
    n1 = spark.read.parquet(metrics).count()
    _run(spark, src, ckpt, metrics)  # same checkpoint, no new files
    assert spark.read.parquet(metrics).count() == n1


def test_batch_replay_rewrites_not_duplicates(spark, tmp_path):
    metrics = str(tmp_path / "m")
    d = spark.range(10).select(
        F.col("id").alias("event_id"),
        F.lit("t0").alias("event_type"),
    )
    cb = metrics_foreach_batch(metrics, "event_type")
    cb(d, 0)
    cb(d, 0)  # foreachBatch redelivery of the SAME batch id
    rows = spark.read.parquet(metrics).collect()
    assert len(rows) == 2  # t0 + __all, once each
    assert {r["metric"]: r["value"] for r in rows} == {"t0": 10, "__all": 10}


def test_batch_metrics_shape(spark):
    d = spark.range(7).select(
        F.col("id").alias("event_id"),
        F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias("event_type"),
    )
    got = {r["metric"]: r["value"] for r in batch_metrics(d, "event_type").collect()}
    assert got == {"t0": 3, "t1": 2, "t2": 2, "__all": 7}


def test_dead_feed_flagged_within_one_batch(spark, tmp_path):
    """ADVICE r5 #3: a per-key feed that dies must produce an explicit
    value=0 history point (densified against the committed series set)
    so the per-series detector sees the crash — not just __all."""
    src, ckpt, metrics = (str(tmp_path / d) for d in ("src", "ckpt", "m"))
    for i in range(4):
        _write_file(spark, src, 100, offset=i * 100)   # t0+t1 alive
    # batch 5: only t0 rows — the t1 feed died
    (
        spark.range(1000, 1100)
        .select(
            F.col("id").alias("event_id"),
            F.lit("t0").alias("event_type"),
        )
        .coalesce(1)
        .write.mode("append")
        .parquet(src)
    )
    _run(spark, src, ckpt, metrics)
    hist = {
        (r["metric"], r["batch_id"]): r["value"]
        for r in spark.read.parquet(metrics).collect()
    }
    assert hist["t1", 4] == 0          # densified zero point exists
    flags = {
        (r["metric"], r["window_id"]): r
        for r in ingest_anomalies(spark, metrics).collect()
    }
    assert flags["t1", 4]["rel_anomaly"]  # dead feed flagged


def test_corrupt_metrics_history_fails_the_batch(spark, tmp_path):
    """Only a metrics dir with nothing committed means "first batch";
    an unreadable history fails the callback instead of silently
    skipping the densification that makes dead feeds visible."""
    import pytest

    metrics = tmp_path / "m"
    d = spark.range(10).select(
        F.col("id").alias("event_id"),
        F.lit("t0").alias("event_type"),
    )
    cb = metrics_foreach_batch(str(metrics), "event_type")
    cb(d, 0)
    files = list(metrics.rglob("*.parquet"))
    assert files
    for f in files:
        f.write_bytes(b"not parquet at all")
    with pytest.raises(Exception, match="(?i)parquet|footer"):
        cb(d, 1)
