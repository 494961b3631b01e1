"""Streaming ingest monitor: per-micro-batch metric history + anomaly flags.

The batch-side metric-history pass (plans/anomaly.py over the runner's
metrics sink) has a streaming twin for live ingestion: each micro-batch
appends its per-series metrics (row count, per-key counts) to the same
append-only metrics layout, and the anomaly detectors re-evaluate over
the committed history — so a crawler loop (volume spike) or a dead
feed (volume crash) is flagged within one micro-batch of happening.

Exactly-once discipline: the metrics append is keyed by batch_id, and
a replayed batch (foreachBatch redelivery after a crash) OVERWRITES
its own batch_id rows instead of appending duplicates — same
idempotency contract as the batch runner's metrics sink (whose reader
keeps the last row per (series, seq); here replay rewrites in place,
so even the raw table stays duplicate-free). Detector state is ZERO:
anomaly flags are a pure function of the committed history, so there
is no streaming state to checkpoint, bound, or expire — the bounded
thing is the history table itself (one row per series per batch).

Scale: per-batch metrics are combine-effective aggregates of the
micro-batch only; the history scan is O(batches x series) rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reviews_quality_check_spark import sinks


def batch_metrics(batch_df: DataFrame, series_col: str) -> DataFrame:
    """Per-series row counts for one micro-batch plus an __all series
    (total volume — the ingestion-drop detector's input)."""
    per = batch_df.groupBy(F.col(series_col).cast("string").alias("metric")).agg(
        F.count(F.lit(1)).alias("value")
    )
    total = batch_df.agg(F.count(F.lit(1)).alias("value")).select(
        F.lit("__all").alias("metric"), "value"
    )
    return per.unionByName(total)


def metrics_foreach_batch(metrics_dir: str, series_col: str):
    """foreachBatch callback: idempotently commit this batch's metric
    rows under batch_id (dynamic partition overwrite on batch_id =
    replay rewrites, never duplicates).

    Densification (ADVICE r5 #3): a per-key feed that DIES produces no
    rows at all, so a batch's metrics alone would simply omit the dead
    series and detect_anomalies would never see the crash (only __all
    catches total-volume drops). Each batch is therefore densified
    against the series set already committed to the history: known
    series absent from this batch get an explicit value=0 row, making
    the dead feed visible to the per-series detectors within one
    micro-batch — the docstring's contract. The known-series read is
    O(batches x series) metadata, not data, and only a history with
    nothing committed yet skips it: an unreadable one fails the batch
    instead of silently dropping the dead-feed points."""

    def callback(batch_df: DataFrame, batch_id: int) -> None:
        m = batch_metrics(batch_df, series_col)
        known = sinks.read_committed(batch_df.sparkSession, metrics_dir)
        if known is not None:
            zeros = (
                known.select("metric").distinct()
                .join(m.select("metric"), "metric", "left_anti")
                .select("metric", F.lit(0).cast("long").alias("value"))
            )
            m = m.unionByName(zeros)
        sinks.commit_partitions(
            m.withColumn("batch_id", F.lit(int(batch_id)).cast("long")).repartition(1),
            metrics_dir,
            "batch_id",
        )

    return callback


def start_ingest_monitor(
    stream: DataFrame,
    metrics_dir: str,
    checkpoint_dir: str,
    series_col: str = "event_type",
    available_now: bool = True,
):
    """Attach the monitor to a streaming DataFrame; returns the query."""
    writer = (
        stream.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(metrics_foreach_batch(metrics_dir, series_col))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def ingest_anomalies(
    spark: SparkSession,
    metrics_dir: str,
    rel_pct: int = 25,
    z_k: int = 3,
    min_hist: int = 3,
) -> DataFrame:
    """Anomaly flags over the committed batch-metric history — a pure
    function of the metrics table (no streaming state)."""
    from reviews_quality_check_spark.plans.anomaly import detect_anomalies

    m = spark.read.parquet(metrics_dir)
    return detect_anomalies(
        m.select("metric", F.col("batch_id").alias("window_id"), "value"),
        series_col="metric",
        order_col="window_id",
        value_col="value",
        rel_pct=rel_pct,
        z_k=z_k,
        min_hist=min_hist,
    )
