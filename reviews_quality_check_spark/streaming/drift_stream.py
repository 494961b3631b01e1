"""Structured Streaming drift monitoring (§2.9).

The reference is strictly batch; the north_star adds drift across
``warc_ts`` windows. The batch form lives in operators/drift.py; this
module provides the streaming counterpart: a watermark-bounded windowed
histogram stream plus an ``applyInPandasWithState``-free drift stage
(foreachBatch merges each micro-batch's closed windows with a bounded,
versioned state of the most recent windows — deterministic and
restart-safe via checkpointLocation and the numbered commits of
``sinks.py``).

Design: windowed aggregation is the ONLY stateful streaming operator
used; KL against the previous window is computed per micro-batch from
the (tiny) aggregated sink — no custom state store needed, so the
pipeline survives Spark version upgrades and scales with executor
count, not state size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reviews_quality_check_spark import sinks


def windowed_histogram_stream(
    stream: DataFrame,
    ts_col: str,
    cat_col: str,
    window_expr: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """readStream side: per-window per-category counts with late-data
    bound = ``watermark`` (append-mode-compatible: windows close once
    the watermark passes)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), window_expr).alias("win"),
            F.col(cat_col).alias("category"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("win").getField("start").alias("window_start"),
            "category",
            "cnt",
        )
    )


def incremental_drift_foreach_batch(
    state_path: str,
    metric: str = "kl",
    eps: float = 1e-6,
    state_windows: int = 4,
    window_expr: str = "1 hour",
):
    """Incremental drift (SCALE.md 'next steps' item): per-batch work is
    O(state + new windows), NOT O(full history).

    State = the histograms of only the ``state_windows`` most recent
    closed windows — bounded by state_windows × |categories| rows,
    regardless of how long the stream has run. Each micro-batch:

    1. union state with the newly closed windows (append-mode windows
       carry FINAL counts exactly once, so a dropDuplicates on
       (window_start, category) makes failure-replay a no-op);
    2. compute drift only for the batch's windows (their predecessors
       are either in the batch or in state);
    3. write those drift rows to a per-batch subdirectory with overwrite
       (idempotent under foreachBatch replay);
    4. write the most recent ``state_windows`` windows to a VERSIONED
       state dir ``{state}/v=<batch_id>``.

    Drift subdirs and state versions are numbered commits
    (sinks.commit_numbered): one counts as committed only once its
    ``_SUCCESS`` marker exists.

    State versioning is what makes failure-replay exact: a replayed
    batch re-reads the previous batch's state version (untouched by the
    crashed attempt), so even a batch that closed more than
    state_windows windows re-derives identical drift rows; and a crash
    mid state-write corrupts only the version the replay is about to
    rewrite. A missing state dir is only treated as "first batch" when
    the directory genuinely has no committed versions — any other read
    failure RAISES instead of silently restarting drift history, and so
    does restarting with a FRESH checkpoint dir (batch ids reset) over a
    previous run's state/drift dirs (committed versions > batch_id,
    multiple stale versions, or stale batch=N drift subdirs). The one
    non-raising overlap is ``versions == [batch_id]``: that state is
    either this batch's own crashed attempt (state committed before the
    streaming offset commit) or a batch-``batch_id``-only prior run
    restarted fresh — in BOTH cases proceeding with no prior state and
    overwriting ``v=batch_id`` (and the batch's drift subdir, written
    with overwrite) reproduces exactly what a clean first run writes,
    so the replay path stays idempotent instead of raising on its own
    crash recovery. Give each query run its own state_path regardless —
    it keeps histories separate for reads.

    Returns (callback, drift_path); read drift with
    ``spark.read.parquet(drift_path)`` (partition discovery unions the
    per-batch dirs).
    """
    drift_path = state_path.rstrip("/") + "_drift"

    def callback(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # replay reads the PREVIOUS batch's version — the crashed
        # attempt may have written (even corrupted) v=<batch_id> itself
        versions = sinks.committed_numbers(spark, state_path, "v=")
        prior = [v for v in versions if v < batch_id]
        prev = max(prior) if prior else None
        if prev is None:
            # Restart-with-fresh-checkpoint guard: batch ids reset to 0
            # when a stream starts on a NEW checkpoint dir, but
            # state/drift dirs from a previous run would (a) silently
            # restart drift history (prior=[] at batch 0) and (b) leave
            # stale batch=N drift subdirs that partition discovery
            # unions into reads. Both are loud errors, not first-batch.
            # EXCEPT versions == [batch_id]: a crashed attempt of THIS
            # batch commits state v=batch_id before the streaming offset
            # commit, so the legitimate same-checkpoint replay of batch
            # 0 arrives here with versions=[0], prior=[] — raising would
            # break the module's advertised exact failure-replay. The
            # rewrite (state=None, overwrite v=batch_id + the drift
            # subdir) is also correct for a fresh restart over a
            # batch-0-only prior run: it reproduces a clean first batch.
            if versions and versions != [batch_id]:
                raise RuntimeError(
                    f"incremental drift state at {state_path} already has "
                    f"committed versions {versions} (batch_id={batch_id}): "
                    "the stream was restarted with a fresh checkpoint dir "
                    "over a previous run's state. Use a new state_path per "
                    "query run (or delete the old state + drift dirs) — "
                    "silently treating this as first-batch would restart "
                    "drift history and union stale drift rows into reads"
                )
            stale_batches = [
                b
                for b in sinks.committed_numbers(spark, drift_path, "batch=")
                if b > batch_id
            ]
            if stale_batches:
                raise RuntimeError(
                    f"drift dir {drift_path} holds batch subdirs "
                    f"{stale_batches} from a previous run (current "
                    f"batch_id={batch_id}): restarting with a fresh "
                    "checkpoint over an old drift dir would union stale "
                    "rows into every read. Use a new state_path per query "
                    "run or delete the old drift dir"
                )
            state = None
        else:
            # no try/except: an unreadable committed version is a real
            # error — silently restarting drift history would corrupt
            # every subsequent drift row
            state = spark.read.parquet(f"{state_path}/v={prev}").select(
                "window_start", "category", "cnt"
            )
        batch = batch_df.select("window_start", "category", "cnt")
        uni = (
            state.unionByName(batch) if state is not None else batch
        ).dropDuplicates(["window_start", "category"]).localCheckpoint()

        from reviews_quality_check_spark.operators.drift import (
            categorical_window_drift,
        )

        new_windows = [r["window_start"] for r in batch.select("window_start").distinct().collect()]
        drift = categorical_window_drift(
            uni.select(
                F.col("window_start").cast("timestamp").alias("ts"),
                "category",
                "cnt",
            ),
            "ts", "category", window_expr, metric=metric, eps=eps, count_col="cnt",
        ).filter(F.col("window_start").isin(new_windows))
        sinks.commit_numbered(drift, drift_path, "batch=", batch_id)

        keep = [
            r["window_start"]
            for r in uni.select("window_start")
            .distinct()
            .orderBy(F.desc("window_start"))
            .limit(state_windows)
            .collect()
        ]
        # versioned state commit: replay rewrites v=<batch_id> only; the
        # previous version survives for the replay's own read
        sinks.commit_numbered(
            uni.filter(F.col("window_start").isin(keep)), state_path, "v=", batch_id
        )
        # prune versions older than the previous one (only the latest
        # uncommitted batch can ever be replayed)
        older = [v for v in sinks.committed_numbers(spark, state_path, "v=") if v < batch_id]
        for v in older[:-1]:
            sinks.delete(spark, f"{state_path}/v={v}")

    return callback, drift_path


def start_incremental_drift_monitor(
    stream: DataFrame,
    ts_col: str,
    cat_col: str,
    checkpoint_dir: str,
    state_path: str,
    window_expr: str = "1 hour",
    watermark: str = "1 hour",
    metric: str = "kl",
    state_windows: int = 4,
):
    """Wire the streaming drift pipeline: windowed histograms into the
    bounded incremental drift stage; returns the StreamingQuery."""
    hist_stream = windowed_histogram_stream(stream, ts_col, cat_col, window_expr, watermark)
    callback, _ = incremental_drift_foreach_batch(
        state_path, metric=metric, state_windows=state_windows,
        window_expr=window_expr,
    )
    return (
        hist_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(callback)
        .start()
    )


def streaming_dedup(
    stream: DataFrame,
    ts_col: str = "warc_ts",
    key_cols: tuple[str, ...] = ("url",),
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival of each key within
    the watermark horizon (`dropDuplicatesWithinWatermark`) — the
    streaming counterpart of W1 keep-first / the uniqueness check, and
    the standard ingestion-dedup stage of a training-data pipeline.

    State size is bounded by (keys seen within the watermark), not the
    full history — the property that makes this viable on an unbounded
    10^12-row crawl stream. Exactly-once duplicates SINCE the job start
    beyond the horizon require the batch dedup pass (dedup_keep_first)
    downstream; the split is deliberate: unbounded-state streaming dedup
    does not scale.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def sessionize_stream(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming sessionization via session_window: per-key sessions
    close after ``gap`` of inactivity, state bounded by the watermark.
    The streaming twin of the batch events_sessionize query (which uses
    a lag-window gap test); on a 10^12-event crawl log this is the shape
    that holds — session state is per open session, not per event.

    Output (append mode once sessions close): key, session_start,
    session_end, n_events."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(key_col),
            F.col("w").getField("start").alias("session_start"),
            F.col("w").getField("end").alias("session_end"),
            "n_events",
        )
    )
