"""Incremental column statistics via mergeable per-partition states.

At 10^12 rows a rolling crawl cannot recompute table-level profile
metrics by rescanning history every snapshot. This module persists a
small MERGEABLE state per (partition, column) — count / nulls / min /
max / sum plus a Datasketches HLL sketch for distinct counts
(hll_sketch_agg, the binary-mergeable form of the north_star's named
HLL path) — and reconstitutes table-level (or any partition-subset)
metrics by merging states only:

  compute_states(df, partition)  -> one state row per partition x column
                                    (scans ONLY the partitions given)
  merge_states(states)           -> per-column table-level metrics
                                    (count/null_rate/min/max/mean exact;
                                    distinct_estimate via hll_union_agg)

so ingesting snapshot N+1 costs one scan of snapshot N+1, never of
snapshots 0..N. Every aggregate here is algebraic (merge = sum / min /
max / HLL union) — the same decomposition Spark itself uses for
map-side partial aggregation, lifted to persistent storage.

The state sink is parquet, appended per ingest with dynamic partition
overwrite on the partition key (same idempotent-commit discipline as
plans/runner). Exactness contract: everything except distinct is
integer/exact-decimal arithmetic and merges losslessly; distinct is a
sketch estimate (lgConfigK=12, ~2% rsd) whose union is exactly the
sketch of the union — pytest pins merged-vs-direct equality and the
estimate's error band vs exact distinct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reviews_quality_check_spark import sinks

#: state schema: partition_id, col_name, n, nulls, mn, mx, total (sum as
#: decimal string for exactness across double ranges), hll (binary)
_LG_K = 12


def compute_states(
    df: DataFrame,
    partition_col: str,
    numeric_cols: tuple[str, ...] = (),
    string_cols: tuple[str, ...] = (),
) -> DataFrame:
    """One scan -> one mergeable state row per partition x column.

    Numeric columns carry min/max/sum (sum in decimal(38,6) so merges
    are exact); string columns carry min/max lexicographic and a null
    sum only. Every column carries an HLL sketch for distinct.

    SUPPORTED NUMERIC RANGE (ADVICE r5 #1): the exact-merge contract
    holds for values with |v| < 10^32 and a 6-decimal-place grid
    (decimal(38,6)). Outside that range the non-ANSI cast degrades
    silently — |v| >= ~1e32 becomes NULL (excluded from sum/min/max)
    and magnitudes below 1e-6 truncate to 0. Profile such columns
    through operators/column_stats (double min/max + sketch quantiles)
    instead; this store targets count-like / money-like pipeline
    metrics where the decimal grid is the point (exact cross-engine
    merges).
    """
    parts = []
    for c in tuple(numeric_cols) + tuple(string_cols):
        is_num = c in numeric_cols
        parts.append(
            df.groupBy(F.col(partition_col).cast("string").alias("partition_id"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col(c).isNull().cast("long")).alias("nulls"),
                F.min(c).cast("string").alias("mn"),
                F.max(c).cast("string").alias("mx"),
                (
                    F.sum(F.col(c).cast("decimal(38,6)")).cast("string")
                    if is_num
                    else F.lit(None).cast("string")
                ).alias("total"),
                F.hll_sketch_agg(F.col(c).cast("string"), F.lit(_LG_K)).alias("hll"),
            )
            .select(
                "partition_id",
                F.lit(c).alias("col_name"),
                F.lit(is_num).alias("is_numeric"),
                "n",
                "nulls",
                "mn",
                "mx",
                "total",
                "hll",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def append_states(states: DataFrame, out_dir: str) -> None:
    """Idempotent per-partition commit of state rows (dynamic overwrite
    on partition_id — re-ingesting a partition replaces its states)."""
    sinks.commit_partitions(states.repartition("partition_id"), out_dir, "partition_id")


def merge_states(states: DataFrame) -> DataFrame:
    """Merge state rows (any partition subset) into per-column metrics:
    row_count / null_count / null_rate / min / max / mean (exact for
    numerics) / distinct_estimate (HLL union). Runs on the state table
    only — O(partitions x columns) rows, never the corpus."""
    merged = states.groupBy("col_name").agg(
        F.first("is_numeric").alias("is_numeric"),
        F.sum("n").alias("row_count"),
        F.sum("nulls").alias("null_count"),
        F.min(
            F.when(
                F.col("is_numeric"), F.col("mn").cast("decimal(38,6)")
            )
        ).cast("string").alias("num_mn"),
        F.max(
            F.when(F.col("is_numeric"), F.col("mx").cast("decimal(38,6)"))
        ).cast("string").alias("num_mx"),
        F.min(F.when(~F.col("is_numeric"), F.col("mn"))).alias("str_mn"),
        F.max(F.when(~F.col("is_numeric"), F.col("mx"))).alias("str_mx"),
        F.sum(F.col("total").cast("decimal(38,6)")).alias("total"),
        F.hll_sketch_estimate(F.hll_union_agg("hll", F.lit(True))).alias(
            "distinct_estimate"
        ),
    )
    nn = F.col("row_count") - F.col("null_count")
    return merged.select(
        "col_name",
        "row_count",
        "null_count",
        F.round(F.col("null_count") / F.col("row_count") + 1e-9, 4).alias("null_rate"),
        F.coalesce(F.col("num_mn"), F.col("str_mn")).alias("min_value"),
        F.coalesce(F.col("num_mx"), F.col("str_mx")).alias("max_value"),
        # exact decimal total, ONE double division, +1e-9 nudge before
        # round(4) — the cross-engine mean discipline (queries._avg4)
        F.when(
            F.col("is_numeric") & (nn > 0),
            F.round(F.col("total").cast("double") / nn + 1e-9, 4),
        ).alias("mean_value"),
        "distinct_estimate",
    )
