"""Durable sinks: the one commit protocol every writer in the engine shares.

All sinks are parquet directories on any Hadoop filesystem:

- a per-partition commit (``commit_partitions``): dynamic partition
  overwrite on a key, so re-writing a partition replaces exactly its
  rows and a replayed write is idempotent (suite verdicts/violations,
  ingest-monitor batches, incremental column states);
- a history read (``read_committed``): a missing or data-less sink
  means "no history", any other read error propagates;
- numbered commits (``commit_numbered``): ``<root>/<prefix><k>``
  directories (connected-components ``round=<k>``, drift state ``v=<k>``
  and drift ``batch=<k>``). A numbered commit counts only once its
  ``_SUCCESS`` marker exists, so a write killed half-way is never
  resumed from.

This module is the only place that reaches the Hadoop ``FileSystem``
through py4j; callers get paths and numbers, never JVM handles.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

# Read errors that mean "nothing committed yet": the sink directory is
# absent, or holds no data files (a write of zero rows leaves only
# _SUCCESS). Any other read error is a broken history and propagates.
_NO_HISTORY = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def commit_partitions(df: DataFrame, path: str, key: str) -> None:
    """Idempotent per-partition commit: replace the ``key`` partitions
    ``df`` holds and leave every other partition of ``path`` alone. The
    overwrite mode is a per-write option; the session setting other
    writers see is untouched."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(key)
        .parquet(path)
    )


def read_committed(spark: SparkSession, path: str) -> DataFrame | None:
    """The committed sink at ``path``, or None when nothing is committed
    there yet. Any other read error (a corrupt or unreadable sink)
    propagates: treating it as "no history" would silently recompute
    committed work or lose history points."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if e.getCondition() in _NO_HISTORY:
            return None
        raise


def commit_numbered(df: DataFrame, root: str, prefix: str, k: int) -> str:
    """Overwrite the numbered commit ``<root>/<prefix><k>``; returns its
    path. It counts in ``committed_numbers`` once the write succeeds."""
    path = f"{root}/{prefix}{k}"
    df.write.mode("overwrite").parquet(path)
    return path


def _fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Hadoop Path) for ``path``."""
    sc = spark.sparkContext
    p = sc._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(sc._jsc.hadoopConfiguration()), p


def children(spark: SparkSession, path: str) -> list[str]:
    """Full paths of the entries directly under ``path`` ([] if absent)."""
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return []
    return [st.getPath().toString() for st in fs.listStatus(p)]


def committed_numbers(spark: SparkSession, root: str, prefix: str) -> list[int]:
    """Sorted ``k`` of every ``<root>/<prefix><k>`` carrying a _SUCCESS
    marker."""
    out = []
    for child in children(spark, root):
        name = child.rstrip("/").rsplit("/", 1)[-1]
        if name.startswith(prefix) and name[len(prefix):].isdecimal():
            if has_marker(spark, f"{child}/_SUCCESS"):
                out.append(int(name[len(prefix):]))
    return sorted(out)


def has_marker(spark: SparkSession, path: str) -> bool:
    fs, p = _fs(spark, path)
    return bool(fs.exists(p))


def put_marker(spark: SparkSession, path: str) -> None:
    """Create the empty marker file ``path`` (overwriting one)."""
    fs, p = _fs(spark, path)
    fs.create(p, True).close()


def delete(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path`` (a no-op when it is absent)."""
    fs, p = _fs(spark, path)
    fs.delete(p, True)
