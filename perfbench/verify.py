"""Output verification: DuckDB recomputations, registry oracles and the
canonical digests every timed job is compared against."""

from __future__ import annotations

import hashlib
from pathlib import Path

import duckdb

# row checks of the flagship suite (the agg checks are unique_url,
# unique_fp and drift_kl_lang)
ROW_CHECKS = ("not_blank_text", "in_set_lang", "flesch_floor", "gopher_core")


class VerificationError(Exception):
    """The program's output differs from the reference."""


def _con(tmp: Path) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp}'")
    return con


def _sink(out_dir: Path, name: str) -> str:
    return (
        f"read_parquet('{out_dir}/{name}/**/*.parquet', "
        "hive_partitioning = true, hive_types_autocast = false)"
    )


def check_suite_counts(pages: Path, out_dir: Path, tmp: Path) -> None:
    """The committed per-day violation counts of the SQL-expressible
    checks (not_blank, in_set(lang), uniqueness(url)) must equal DuckDB's
    recomputation over the same pages parquet."""
    from reviews_quality_check_spark.sources.pages import VALID_LANGS

    langs = ", ".join(f"'{v}'" for v in VALID_LANGS)
    con = _con(tmp)
    try:
        expected = set(
            con.execute(
                f"""
                WITH p AS (
                  SELECT strftime(CAST(warc_ts AS DATE), '%Y-%m-%d') AS d, *
                  FROM read_parquet('{pages}/*.parquet'))
                SELECT d, 'not_blank_text',
                       count(*) FILTER (WHERE text IS NULL OR length(trim(text)) = 0)
                FROM p GROUP BY d
                UNION ALL
                SELECT d, 'in_set_lang',
                       count(*) FILTER (WHERE lang IS NULL OR lang NOT IN ({langs}))
                FROM p GROUP BY d
                UNION ALL
                SELECT d, 'unique_url', coalesce(sum(c - 1) FILTER (WHERE c >= 2), 0)
                FROM (SELECT d, url, count(*) AS c FROM p GROUP BY d, url)
                GROUP BY d
                """
            ).fetchall()
        )
        got = set(
            con.execute(
                f"""
                SELECT partition_id, check_name, violation_count
                FROM {_sink(out_dir, 'verdicts')}
                WHERE check_name IN ('not_blank_text', 'in_set_lang', 'unique_url')
                """
            ).fetchall()
        )
    finally:
        con.close()
    if got != expected:
        raise VerificationError(
            f"suite counts differ from DuckDB: missing {sorted(expected - got)[:5]}, "
            f"unexpected {sorted(got - expected)[:5]}"
        )


def out_dir_digest(out_dir: Path, tmp: Path) -> str:
    """Canonical digest of a committed suite out_dir: every verdict, an
    order-insensitive hash of every violation row, and the lineage and
    metrics rows minus run ids and commit timestamps."""
    con = _con(tmp)
    try:
        parts = [
            con.execute(
                f"""SELECT partition_id, check_name, passed, violation_count,
                           round(metric_value, 9), threshold
                    FROM {_sink(out_dir, 'verdicts')} ORDER BY ALL"""
            ).fetchall(),
            con.execute(
                f"""SELECT count(*), sum(hash(partition_id, check_name, row_key, detail))
                    FROM {_sink(out_dir, 'violations')}"""
            ).fetchall(),
            con.execute(
                f"""SELECT partition_id, suite_name, rows_scanned, checks_run
                    FROM {_sink(out_dir, 'lineage')} ORDER BY ALL"""
            ).fetchall(),
            con.execute(
                f"""SELECT run_seq, partition_id, check_name, value,
                           round(metric_value, 9)
                    FROM {_sink(out_dir, 'metrics')} ORDER BY ALL"""
            ).fetchall(),
        ]
    finally:
        con.close()
    return hashlib.sha256(repr(parts).encode()).hexdigest()


def violation_counts(out_dir: Path, tmp: Path) -> tuple[int, int]:
    """(row-check violations found, violation rows written after the cap)."""
    checks = ", ".join(f"'{c}'" for c in ROW_CHECKS)
    con = _con(tmp)
    try:
        found = con.execute(
            f"""SELECT coalesce(sum(violation_count), 0) FROM {_sink(out_dir, 'verdicts')}
                WHERE check_name IN ({checks})"""
        ).fetchone()[0]
        written = con.execute(
            f"SELECT count(*) FROM {_sink(out_dir, 'violations')}"
        ).fetchone()[0]
    finally:
        con.close()
    return int(found), int(written)


def arrow_digest(tbl) -> str:
    """Order-insensitive digest of a query result, canonicalised as the
    oracle harness does (columns by name, rows sorted, floats at 9dp)."""
    from tools.compare_oracle import arrow_types, canon

    cols = tbl.column_names
    rows = list(zip(*(c.to_pylist() for c in tbl.columns))) if cols else []
    canon_rows, canon_cols = canon(rows, cols)
    payload = repr((canon_cols, arrow_types(tbl, cols), canon_rows))
    return hashlib.sha256(payload.encode()).hexdigest()


def oracle_digest(sql: str, sf_dir: Path, tmp: Path) -> str:
    """Digest of a registry query's DuckDB oracle over the same tables."""
    con = _con(tmp)
    try:
        for t in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        return arrow_digest(con.execute(sql).arrow())
    finally:
        con.close()
