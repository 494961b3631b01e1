"""Constraint suggestion: profile a table, propose a constraint suite.

The reference hard-codes its quality gates per analyzer (thresholds in
configs/config.py:11-23, per-metric checks in review_analysis.py:228-344).
This module closes the loop the other way — the Deequ-style
"suggestion" pass a validation engine needs when onboarding a brand-new
10^12-row table nobody has written checks for yet: ONE profiling scan
derives per-column facts (row count, null count, exact distinct count,
numeric min/max), a second tiny scan materializes the value set of the
columns that turned out to be low-cardinality, and deterministic rules
turn those facts into a proposed suite:

  null count == 0            -> not_null(col)
  0 < null count             -> null_rate_max(col, ceil(rate, 2dp))
  complete & distinct == n   -> unique(col)
  string & distinct <= cap   -> in_set(col, sorted observed values)
  numeric                    -> in_range(col, observed min, observed max)
  numeric & min >= 0         -> non_negative(col)

``build_suite`` then compiles the suggestion rows back into a
:class:`~reviews_quality_check_spark.plans.checks.Suite`, so the
suggested constraints are runnable as-is — and, by construction, pass
on the data they were profiled from (the round-trip property pinned in
tests/test_suggest_anomaly.py).

Scale notes (10^12 rows): pass 1 is a single whole-table aggregate —
null/min/max are combine-effective partial aggregates; the exact
multi-column count(DISTINCT) compiles to one Expand + two-phase
aggregate (C x row multiplier map-side, combine before the exchange).
For frames where exact distinct is too hot, ``approx=True`` swaps in
approx_count_distinct (HLL sketch, rsd 1%) for the SAME plan shape
minus the Expand — the suggestion thresholds only need cardinality to
the nearest power of ten. Pass 2 touches only columns whose distinct
count <= max_card, so each collect_set is bounded by max_card entries
per partial aggregate. Both collects are bounded metadata (one row /
<= max_card values per qualifying column), never corpus rows. The
suggestion rows themselves are assembled as a pure-JVM literal plan
(spark.range(1) + explode(array(structs)) — never createDataFrame over
a Python list, which would drag a Python-RDD scan into every consumer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def profile_columns(
    df: DataFrame,
    numeric_cols: tuple[str, ...],
    string_cols: tuple[str, ...],
    max_card: int = 20,
    approx: bool = False,
) -> dict:
    """Two bounded passes -> per-column profile dict.

    Returns {col: {n, nulls, distinct, mn, mx, values}} where ``values``
    is the sorted observed value list for low-cardinality string
    columns (else None) and mn/mx are None for string columns.
    """
    cols = tuple(numeric_cols) + tuple(string_cols)
    dcount = (
        (lambda c: F.approx_count_distinct(c, rsd=0.01))
        if approx
        else (lambda c: F.count_distinct(F.col(c)))
    )
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"z_{c}"))
        aggs.append(dcount(c).alias(f"d_{c}"))
    for c in numeric_cols:
        aggs.append(F.min(c).alias(f"mn_{c}"))
        aggs.append(F.max(c).alias(f"mx_{c}"))
    row = df.agg(*aggs).collect()[0]  # ONE row — bounded metadata

    prof: dict = {}
    for c in cols:
        prof[c] = {
            "n": row["__n"],
            "nulls": row[f"z_{c}"],
            "distinct": row[f"d_{c}"],
            "mn": row[f"mn_{c}"] if c in numeric_cols else None,
            "mx": row[f"mx_{c}"] if c in numeric_cols else None,
            "values": None,
        }
    # pass 2: value sets for the string columns that qualified.
    # collect_set partial aggregates are bounded by <= max_card entries
    # once the cardinality check passed; sort_array makes it canonical.
    small = [c for c in string_cols if 0 < prof[c]["distinct"] <= max_card]
    if small:
        vrow = df.agg(
            *[F.sort_array(F.collect_set(c)).alias(c) for c in small]
        ).collect()[0]
        for c in small:
            prof[c]["values"] = list(vrow[c])
    return prof


def suggest_constraints(
    spark: SparkSession,
    df: DataFrame,
    numeric_cols: tuple[str, ...],
    string_cols: tuple[str, ...],
    max_card: int = 20,
    approx: bool = False,
) -> DataFrame:
    """Profile ``df`` and return suggestion rows. All columns are
    scalars (driver-canonicalizer safe): col_name, rule, params (string
    list or ''), param_lo/param_hi (numeric rule bounds, NULL when n/a),
    observed (rule-specific metric)."""
    prof = profile_columns(df, numeric_cols, string_cols, max_card, approx)
    rows: list[tuple] = []  # (col, rule, params, lo, hi, observed)
    for c in tuple(numeric_cols) + tuple(string_cols):
        p = prof[c]
        n, z, d = p["n"], p["nulls"], p["distinct"]
        if z == 0:
            rows.append((c, "not_null", "", None, None, 0.0))
        else:
            # integer ceiling of the rate at 2dp: exact, no float ceil
            hi = ((100 * z + n - 1) // n) / 100.0
            rows.append(
                (c, "null_rate_max", "", None, hi, round(z / n + 1e-9, 4))
            )
        # 'unique' only from the EXACT profile (ADVICE r5 #4): with
        # approx=True, d is an HLL estimate that can equal n while the
        # true distinct count is lower, and the suggested suite would
        # then FAIL on the very data it was profiled from — breaking
        # the documented round-trip guarantee. The approx profile still
        # suggests every threshold-style rule.
        if z == 0 and d == n and not approx:
            rows.append((c, "unique", "", None, None, 1.0))
        if c in string_cols and p["values"] is not None:
            # params is comma-joined: a member containing the separator
            # would silently split into wrong set members at build_suite
            # time — refuse at emission rather than enforce a corrupted
            # set (pathological for categorical columns; callers with
            # comma-bearing categories should read the profile directly)
            if any("," in v for v in p["values"]):
                raise ValueError(
                    f"in_set members for {c!r} contain the ',' separator; "
                    "use profile_columns(...)['values'] directly"
                )
            rows.append((c, "in_set", ",".join(p["values"]), None, None, float(d)))
        if c in numeric_cols and p["mn"] is not None:
            rows.append(
                (c, "in_range", "", float(p["mn"]), float(p["mx"]),
                 round((n - z) / n + 1e-9, 4))
            )
            if p["mn"] >= 0:
                rows.append((c, "non_negative", "", None, None, float(p["mn"])))
    rows.sort(key=lambda r: (r[0], r[1]))
    structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.lit(rule).alias("rule"),
                F.lit(params).alias("params"),
                F.lit(lo).cast("double").alias("param_lo"),
                F.lit(hi).cast("double").alias("param_hi"),
                F.lit(obs).cast("double").alias("observed"),
            )
            for c, rule, params, lo, hi, obs in rows
        ]
    )
    return spark.range(1).select(F.explode(structs).alias("r")).select("r.*")


def build_suite(suggestion_rows, name: str = "suggested", row_key: str = "doc_id"):
    """Compile suggestion rows (as returned by ``suggest_constraints``
    ``.collect()``) back into a runnable Suite — Deequ's round-trip
    promise: the suggested suite passes on the profiled data."""
    from reviews_quality_check_spark.plans import checks as C

    suite = C.Suite(name=name, row_key=row_key)
    for r in suggestion_rows:
        c, rule = r["col_name"], r["rule"]
        if rule == "not_null":
            suite.add(C.not_null(c))
        elif rule == "null_rate_max":
            suite.add(C.not_null(c, max_rate=r["param_hi"]))
        elif rule == "unique":
            suite.add(C.uniqueness(c))
        elif rule == "in_set":
            suite.add(C.in_set(c, tuple(r["params"].split(","))))
        elif rule == "in_range":
            suite.add(C.in_range(c, r["param_lo"], r["param_hi"]))
        elif rule == "non_negative":
            suite.add(
                C.RowCheck(
                    name=f"non_negative_{c}",
                    violation=F.col(c) < 0,
                    detail=F.lit(f"{c} negative"),
                )
            )
    return suite
