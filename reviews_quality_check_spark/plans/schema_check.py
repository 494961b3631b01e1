"""Declarative schema validation: expected vs actual column contract.

The "schema" half of a schema + constraint validation engine: before
any row-level check runs, assert the table's column contract — every
expected column present with the expected type, no unexpected columns
(a crawl pipeline's classic silent failure: an upstream writer adds,
drops, or retypes a column and every downstream consumer keeps
"succeeding" on garbage). The reference assumes its CSV columns
implicitly (utils/data_loader.py builds dicts by key and crashes or
mis-scores on drift); here the contract is explicit and versionable.

Cost model: schema lives in parquet footers / the catalog — this check
reads ZERO data rows at any scale. The verdict frame is built as a
pure-JVM literal plan (O(columns) rows), so it composes with suite
verdicts without touching the corpus.

Types are compared on Spark's ``simpleString`` grammar ("bigint",
"string", "array<float>", ...), which the DuckDB oracle mirrors by
canonicalizing DESCRIBE output (BIGINT -> bigint, VARCHAR -> string,
FLOAT[] -> array<float>, ...).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def schema_verdicts(
    df: DataFrame, expected: tuple[tuple[str, str], ...]
) -> list[tuple[str, str | None, str | None, str]]:
    """Compare ``df``'s schema against (name, simpleString-type) pairs.

    Returns (col_name, expected_type, actual_type, status) rows sorted
    by column name: ``ok`` / ``type_mismatch`` for shared columns,
    ``missing`` for expected-only, ``extra`` for actual-only.
    """
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    exp = dict(expected)
    rows: list[tuple[str, str | None, str | None, str]] = []
    for name, etype in exp.items():
        atype = actual.get(name)
        if atype is None:
            rows.append((name, etype, None, "missing"))
        elif atype == etype:
            rows.append((name, etype, atype, "ok"))
        else:
            rows.append((name, etype, atype, "type_mismatch"))
    for name, atype in actual.items():
        if name not in exp:
            rows.append((name, None, atype, "extra"))
    rows.sort(key=lambda r: r[0])
    return rows


def check_schema(
    spark: SparkSession,
    df: DataFrame,
    expected: tuple[tuple[str, str], ...],
) -> DataFrame:
    """``schema_verdicts`` as a pure-JVM literal DataFrame — zero scans
    of ``df``'s data; safe to union into any verdict pipeline."""
    rows = schema_verdicts(df, expected)
    structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.lit(e).cast("string").alias("expected_type"),
                F.lit(a).cast("string").alias("actual_type"),
                F.lit(s).alias("status"),
            )
            for c, e, a, s in rows
        ]
    )
    return spark.range(1).select(F.explode(structs).alias("r")).select("r.*")


def schema_passes(df: DataFrame, expected: tuple[tuple[str, str], ...],
                  allow_extra: bool = False) -> bool:
    """Gate form: True iff no missing/type_mismatch (and, unless
    ``allow_extra``, no unexpected columns)."""
    bad = {"missing", "type_mismatch"} | (set() if allow_extra else {"extra"})
    return not any(s in bad for *_, s in schema_verdicts(df, expected))
