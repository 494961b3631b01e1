"""Declarative constraint DSL.

A Suite is a list of Checks over one input DataFrame. Two check
families, chosen by plan shape (not by semantics):

- RowCheck: a per-row violation predicate (null guard, set membership,
  range, regex, readability floor, sentiment mismatch...). All RowChecks
  in a suite compile into ONE projection over ONE scan; per-partition
  violation counts fall out of a single groupBy.

- AggCheck: a per-partition aggregate metric compared to a threshold
  (uniqueness, null-rate ceilings, distinct floors, drift ceilings).
  Each provides its own (partition_id, metric_value[, violations])
  plan; the runner unions verdicts.

This mirrors what the reference hand-codes imperatively per file
(review_analysis.py:228-344: one metrics dict + detail lists per input
file) as a compiled declarative plan per partition.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

@dataclass(frozen=True)
class RowCheck:
    """A named per-row violation predicate."""

    name: str
    violation: Column  # True → this row violates the check
    detail: Column | None = None  # optional human-readable detail column
    max_violation_rate: float = 0.0  # partition passes if rate <= this

    def detail_col(self) -> Column:
        return self.detail if self.detail is not None else F.lit(None).cast("string")


@dataclass(frozen=True)
class AggCheck:
    """A per-partition aggregate metric with a pass threshold.

    ``plan(df, partition_col)`` must return a DataFrame with columns
    (partition_id: string, metric_value: double) and may include a
    ``violation_count`` column (defaults to 0).
    """

    name: str
    plan: Callable[[DataFrame, str], DataFrame]
    op: str = "<="
    threshold: float = 0.0
    # input columns the plan reads (beyond the partition column): the
    # runner includes exactly these in its narrow flagged projection
    requires: tuple[str, ...] = ()

    def passes(self) -> Column:
        return _OPS_COL[self.op](F.col("metric_value"), F.lit(self.threshold))


_OPS_COL: dict[str, Callable[[Column, Column], Column]] = {
    "<=": lambda a, b: a <= b,
    "<": lambda a, b: a < b,
    ">=": lambda a, b: a >= b,
    ">": lambda a, b: a > b,
    "==": lambda a, b: a == b,
}


@dataclass
class Suite:
    name: str
    row_checks: list[RowCheck] = field(default_factory=list)
    agg_checks: list[AggCheck] = field(default_factory=list)
    row_key: str = "url"  # column used to identify violating rows

    def add(self, check: RowCheck | AggCheck) -> "Suite":
        if isinstance(check, RowCheck):
            self.row_checks.append(check)
        else:
            self.agg_checks.append(check)
        return self


# --------------------------------------------------------------------------
# Common check constructors
# --------------------------------------------------------------------------


def not_null(column: str, max_rate: float = 0.0) -> RowCheck:
    return RowCheck(
        name=f"not_null_{column}",
        violation=F.col(column).isNull(),
        detail=F.lit(f"{column} is null"),
        max_violation_rate=max_rate,
    )


def not_blank(column: str, max_rate: float = 0.0) -> RowCheck:
    """Null/empty/whitespace-only guard — reference review_analysis.py:502-503."""
    return RowCheck(
        name=f"not_blank_{column}",
        violation=F.col(column).isNull() | (F.length(F.trim(F.col(column))) == 0),
        detail=F.lit(f"{column} is blank"),
        max_violation_rate=max_rate,
    )


def in_set(column: str, allowed: tuple[str, ...], max_rate: float = 0.0) -> RowCheck:
    return RowCheck(
        name=f"in_set_{column}",
        violation=~F.col(column).isin(list(allowed)) | F.col(column).isNull(),
        detail=F.concat(F.lit(f"{column}="), F.coalesce(F.col(column), F.lit("<null>"))),
        max_violation_rate=max_rate,
    )


def in_range(column: str, lo: float, hi: float, max_rate: float = 0.0) -> RowCheck:
    return RowCheck(
        name=f"in_range_{column}",
        violation=F.col(column).isNull() | (F.col(column) < lo) | (F.col(column) > hi),
        detail=F.concat(F.lit(f"{column}="), F.col(column).cast("string")),
        max_violation_rate=max_rate,
    )


def matches_regex(column: str, pattern: str, max_rate: float = 0.0) -> RowCheck:
    return RowCheck(
        name=f"regex_{column}",
        violation=F.col(column).isNull() | ~F.col(column).rlike(pattern),
        detail=F.col(column).substr(1, 80),
        max_violation_rate=max_rate,
    )


def expression_floor(name: str, expr: Column, floor: float, max_rate: float = 0.0) -> RowCheck:
    """Generic 'derived score must be >= floor' check (e.g. Flesch floor,
    quality-score floor — reference flags low-readability rows)."""
    return RowCheck(
        name=name,
        violation=expr.isNull() | (expr < floor),
        detail=expr.cast("string"),
        max_violation_rate=max_rate,
    )


def byte_parity(name: str, left: Column, right: Column, max_rate: float = 0.0) -> RowCheck:
    """Byte-identity invariant between two derivations of the same
    content — the north_star's 'byte-identical extracted text per url'
    check in the shape production runs it: a per-partition RowCheck
    inside the validation suite (md5 over the bytes, computed JVM-side;
    the extraction itself may be an Arrow UDF upstream). NULL on either
    side is a violation unless BOTH are null (same content by
    definition)."""
    lh = F.md5(left.cast("binary"))
    rh = F.md5(right.cast("binary"))
    # NULL discipline matters: (lh == rh) is NULL when exactly one side
    # is null, and a NULL violation flag silently vanishes from the
    # runner's sum() — coalesce forces one-null to a hard violation
    return RowCheck(
        name=name,
        violation=~((lh.isNull() & rh.isNull()) | F.coalesce(lh == rh, F.lit(False))),
        detail=F.concat(
            F.lit("md5 "),
            F.coalesce(F.substring(lh, 1, 8), F.lit("<null>")),
            F.lit(" != "),
            F.coalesce(F.substring(rh, 1, 8), F.lit("<null>")),
        ),
        max_violation_rate=max_rate,
    )


def predicate(name: str, keep: Column, max_rate: float = 0.0) -> RowCheck:
    """Generic 'row must satisfy this boolean' check — the adapter that
    lets any per-row cleaning rule (Gopher/C4 flag conjunctions,
    functions/quality.gopher_flags) run as a suite member: violation =
    NOT keep (nulls violate). Pure Column expressions evaluate on the
    same single scan/projection as every other RowCheck."""
    return RowCheck(
        name=name,
        violation=keep.isNull() | ~keep,
        detail=F.lit(f"failed {name}"),
        max_violation_rate=max_rate,
    )


def uniqueness(column: str, salt_buckets: int = 64) -> AggCheck:
    """Uniqueness via two-phase hash aggregate: metric = duplicated-key
    count per partition.

    Skew note (r6): the count aggregate is algebraic, so Spark's
    map-side partial aggregation IS the salt phase — a key duplicated a
    billion times reduces to at most one partial row per map task
    before the exchange, which bounds any reducer's input to
    n_map_tasks rows per key. The previous explicit
    (key, random-salt) pre-aggregation added a full extra shuffle of
    every row for protection the hash aggregate already provides
    (explicit salting remains the right tool for NON-algebraic
    aggregates — see operators/dedup.salted_uniqueness_violations).
    ``salt_buckets`` is kept for signature compatibility."""

    def plan(df: DataFrame, partition_col: str) -> DataFrame:
        return (
            df.select(F.col(partition_col).alias("partition_id"), F.col(column).alias("key"))
            .groupBy("partition_id", "key")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .groupBy("partition_id")
            .agg(
                F.coalesce(
                    F.sum(F.when(F.col("cnt") >= 2, F.col("cnt") - 1)), F.lit(0)
                ).cast("double").alias("metric_value"),
            )
            .withColumn("violation_count", F.col("metric_value").cast("long"))
        )

    return AggCheck(name=f"unique_{column}", plan=plan, op="<=", threshold=0.0,
                    requires=(column,))


def max_drift(ts_col: str, cat_col: str, window_expr: str, threshold: float,
              metric: str = "kl") -> AggCheck:
    """Window-over-window drift ceiling; partition_id = window start."""

    def plan(df: DataFrame, partition_col: str) -> DataFrame:
        from reviews_quality_check_spark.operators.drift import categorical_window_drift

        d = categorical_window_drift(df, ts_col, cat_col, window_expr, metric=metric)
        return d.select(
            F.col("window_start").cast("string").alias("partition_id"),
            F.col("drift").alias("metric_value"),
        ).withColumn("violation_count", F.lit(0).cast("long"))

    return AggCheck(name=f"drift_{metric}_{cat_col}", plan=plan, op="<=",
                    threshold=threshold, requires=(ts_col, cat_col))


def referential(column: str, dim: DataFrame, dim_col: str,
                max_count: float = 0.0, broadcast: bool = True) -> AggCheck:
    """Referential-integrity check (north_rule: 'referential checks via
    broadcast or sort-merge joins against dimension tables'): metric =
    count of rows whose ``column`` value has no match in the dimension.
    NULL foreign keys are NOT violations (compose with not_null for
    that). ``broadcast=True`` hints the (deduped) dim build side — the
    small-dimension default; pass False for large dims and let the
    planner pick sort-merge. No pre-filter on the fact side, so every
    partition keeps a verdict row even when all its keys are null."""

    def plan(df: DataFrame, partition_col: str) -> DataFrame:
        d = dim.select(F.col(dim_col).alias("__ref")).distinct()
        if broadcast:
            d = F.broadcast(d)
        return (
            df.select(
                F.col(partition_col).alias("partition_id"),
                F.col(column).alias("__fk"),
            )
            .join(d, F.col("__fk") == F.col("__ref"), "left")
            .groupBy("partition_id")
            .agg(
                F.sum(
                    (F.col("__fk").isNotNull() & F.col("__ref").isNull()).cast("long")
                ).cast("double").alias("metric_value")
            )
            .withColumn("violation_count", F.col("metric_value").cast("long"))
        )

    return AggCheck(name=f"referential_{column}", plan=plan, op="<=",
                    threshold=float(max_count), requires=(column,))


def distinct_count_min(column: str, floor: float, approx: bool = False,
                       rsd: float = 0.05) -> AggCheck:
    """Per-partition distinct-count floor. Default path is EXACT via the
    two-phase shape (dedup keyed on (partition, value) — map-side
    partial dedup, balanced shuffle even when one partition is hot),
    so the DuckDB oracle matches bit-for-bit. ``approx=True`` switches
    to the HyperLogLog sketch (approx_count_distinct, the north_star's
    named path for 10^12-row profiles) — an estimate, pytest-pinned
    within rsd of exact rather than oracle-certified. Nulls don't
    count as a value (both engines' count-distinct convention)."""

    def plan(df: DataFrame, partition_col: str) -> DataFrame:
        base = df.select(
            F.col(partition_col).alias("partition_id"), F.col(column).alias("__k")
        ).filter(F.col("__k").isNotNull())
        if approx:
            out = base.groupBy("partition_id").agg(
                F.approx_count_distinct("__k", rsd).cast("double").alias("metric_value")
            )
        else:
            out = (
                base.distinct()
                .groupBy("partition_id")
                .agg(F.count(F.lit(1)).cast("double").alias("metric_value"))
            )
        return out.withColumn("violation_count", F.lit(0).cast("long"))

    name = f"distinct_min_{column}" + ("_approx" if approx else "")
    return AggCheck(name=name, plan=plan, op=">=", threshold=float(floor),
                    requires=(column,))


def quantile_min(column: str, pct: int, floor: float) -> AggCheck:
    """Per-partition percentile floor, integer-exact: metric = the
    type-1 pct-th percentile (smallest v with 100*cum_count >= pct*n
    over the per-partition distinct-value CDF) — no float quantile
    interpolation, so a SQL oracle matches bit-for-bit. Scale: the
    cumulative window runs over DISTINCT values per partition, bounded
    by value cardinality (right for discrete profile columns like
    lengths/counts; for unbounded continuous columns use the t-digest
    sketch path in operators/column_stats instead). Null values are
    excluded from the CDF."""

    def plan(df: DataFrame, partition_col: str) -> DataFrame:
        from pyspark.sql.window import Window

        dist = (
            df.select(
                F.col(partition_col).alias("partition_id"), F.col(column).alias("__v")
            )
            .filter(F.col("__v").isNotNull())
            .groupBy("partition_id", "__v")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        w = (
            Window.partitionBy("partition_id")
            .orderBy("__v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        nw = Window.partitionBy("partition_id")
        cum = dist.withColumn("__cum", F.sum("__c").over(w)).withColumn(
            "__n", F.sum("__c").over(nw)
        )
        return (
            cum.filter(F.col("__cum") * 100 >= F.lit(int(pct)) * F.col("__n"))
            .groupBy("partition_id")
            .agg(F.min("__v").cast("double").alias("metric_value"))
            .withColumn("violation_count", F.lit(0).cast("long"))
        )

    return AggCheck(name=f"p{int(pct)}_min_{column}", plan=plan, op=">=",
                    threshold=float(floor), requires=(column,))


def freshness(ts_col: str, max_age_days: int, asof: str) -> AggCheck:
    """Per-partition staleness ceiling: metric = whole days between the
    partition's newest ``ts_col`` value and the ``asof`` date (the
    run's logical date — an explicit parameter, never wall-clock, so
    verdicts are deterministic and replayable). Passes when the
    partition has data at most ``max_age_days`` old — the
    ingestion-stopped detector for a rolling crawl: a partition whose
    upstream feed died keeps passing every row-level check forever
    while silently going stale. Integer day arithmetic on both
    engines (datediff over date casts), so the oracle matches exactly.
    Scale: one max() per partition — combine-effective, one narrow
    shuffle, no window."""

    def plan(df: DataFrame, partition_col: str) -> DataFrame:
        return (
            df.select(
                F.col(partition_col).alias("partition_id"),
                F.col(ts_col).alias("__ts"),
            )
            .groupBy("partition_id")
            .agg(
                F.datediff(
                    F.to_date(F.lit(asof)), F.to_date(F.max("__ts"))
                ).cast("double").alias("metric_value")
            )
            .withColumn("violation_count", F.lit(0).cast("long"))
        )

    return AggCheck(
        name=f"freshness_{ts_col}",
        plan=plan,
        op="<=",
        threshold=float(max_age_days),
        requires=(ts_col,),
    )


def functional_dependency(key_col: str, dep_col: str,
                          max_violations: int = 0) -> AggCheck:
    """Cross-column contract: ``key_col`` functionally determines
    ``dep_col`` — metric = number of key values that map to MORE than
    one distinct dependent value per partition (url -> canonical host,
    doc_id -> source, product_id -> category...). The violation class
    row-level checks cannot see: every row is individually fine, the
    INCONSISTENCY is only visible across rows sharing a key.
    Scale: two-phase distinct on (partition, key, dep) — map-side
    partial dedup, then a key-grouped count bounded by key cardinality,
    never a self-join. Null keys are excluded; null dependents don't
    count as a value (both engines' count-distinct convention)."""

    def plan(df: DataFrame, partition_col: str) -> DataFrame:
        pairs = (
            df.select(
                F.col(partition_col).alias("partition_id"),
                F.col(key_col).alias("__k"),
                F.col(dep_col).alias("__d"),
            )
            .filter(F.col("__k").isNotNull())
            .distinct()
        )
        per_key = pairs.groupBy("partition_id", "__k").agg(
            F.count("__d").alias("__nd")  # count skips null deps
        )
        return (
            per_key.groupBy("partition_id")
            .agg(
                F.sum((F.col("__nd") > 1).cast("long")).alias("__viol")
            )
            .select(
                "partition_id",
                F.col("__viol").cast("double").alias("metric_value"),
                F.col("__viol").cast("long").alias("violation_count"),
            )
        )

    return AggCheck(
        name=f"fd_{key_col}_{dep_col}",
        plan=plan,
        op="<=",
        threshold=float(max_violations),
        requires=(key_col, dep_col),
    )
