"""Loaders for the driver-generated parquet tables (/root/testdata/sf*).

All reads are plain ``spark.read.parquet`` so Catalyst gets full
predicate pushdown / column pruning; never infer-scan JSON here.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    d = sf_dir or DEFAULT_SF_DIR
    return spark.read.parquet(str(Path(d) / f"{name}.parquet"))
