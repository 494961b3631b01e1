"""Seeded inputs for the benchmark workloads.

Everything here derives from the ``--seed`` argument: the pages table
comes from the engine's own ``sources.pages.synth_pages`` generator and
the corpus tables (``documents``, ``embeddings``) from a NumPy generator
that reproduces the shape of the engine's sf tables (30-word technical
vocabulary, 10-100 words per document, 5% ``dup``-marked rows of which
half are exact duplicates, 64-dim unit embeddings with 10 labels).
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# pages in the suite table: seven daily partitions; sized so one suite
# job stays a few seconds on 4 cores while every check still has rows
# to flag (planted blank/duplicate/invalid-lang rows are ~1% each)
N_PAGES = 30_000
N_DAYS = 7

N_DOCS = 500
N_VECS = 500
EMB_DIM = 64
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.40, 0.15, 0.15, 0.15, 0.15)


def write_pages(spark, path: Path, seed: int) -> int:
    """Write the seeded pages table to parquet; returns its row count."""
    from reviews_quality_check_spark.sources.pages import synth_pages

    synth_pages(spark, N_PAGES, n_days=N_DAYS, seed=seed).write.mode(
        "overwrite"
    ).parquet(str(path))
    return N_PAGES


def suite_input(spark, path: Path):
    """The stored pages table plus the exact-dup fingerprint column, as
    ``bench.py`` feeds the flagship suite."""
    from pyspark.sql import functions as F

    from reviews_quality_check_spark.functions.text import norm_text

    return spark.read.parquet(str(path)).withColumn(
        "fp", F.md5(norm_text(F.col("text")))
    )


def partition_expr():
    from pyspark.sql import functions as F

    return F.to_date("warc_ts").cast("string")


def flagship_suite():
    """The 7-check pages suite of ``bench.py`` (same checks, same order)."""
    from pyspark.sql import functions as F

    from reviews_quality_check_spark.functions.quality import gopher_flags
    from reviews_quality_check_spark.functions.readability import (
        flesch_reading_ease_fast,
    )
    from reviews_quality_check_spark.plans import checks as C
    from reviews_quality_check_spark.sources.pages import VALID_LANGS

    suite = C.Suite(name="pages_suite", row_key="url")
    suite.add(C.not_blank("text"))
    suite.add(C.in_set("lang", VALID_LANGS))
    suite.add(C.expression_floor("flesch_floor", flesch_reading_ease_fast("text"), 5.0))
    gf = gopher_flags(F.col("text"))
    suite.add(
        C.predicate(
            "gopher_core",
            gf["mean_word_len_ok"] & gf["symbol_ratio_ok"]
            & gf["alpha_ratio_ok"] & gf["no_brace"] & gf["no_lorem"],
        )
    )
    suite.add(C.uniqueness("url"))
    suite.add(C.uniqueness("fp"))
    suite.add(C.max_drift("warc_ts", "lang", "1 day", threshold=5.0))
    return suite


def corpus_tables(seed: int) -> tuple[pa.Table, pa.Table]:
    """(documents, embeddings) with the engine's sf-table schemas.

    The seed draws the words, vectors and the assignment of languages
    and labels; the cost-relevant structure is the same for every seed:
    document lengths follow a fixed schedule, every 20th document is
    ``dup``-marked (every other one an exact copy of the previous one),
    and the language and label counts are fixed.
    """
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(N_DOCS):
        n_words = 10 + (i * 37) % 91  # 10..100 words, uniform over any 91 rows
        text = " ".join(rng.choice(_VOCAB, size=n_words).tolist())
        if i % 20 == 19:
            text = texts[i - 20] if i % 40 == 39 else text + " dup"
        texts.append(text)
    langs = np.repeat(_LANGS, [int(N_DOCS * p) for p in _LANG_P])
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.permutation(langs).tolist()),
            "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    vecs = rng.standard_normal((N_VECS, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    labels = np.arange(N_VECS, dtype=np.int32) % 10
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.permutation(labels), pa.int32()),
        }
    )
    return documents, embeddings


def write_corpus(sf_dir: Path, seed: int) -> int:
    """Write ``documents.parquet`` and ``embeddings.parquet`` under
    ``sf_dir`` (the layout every registry query reads); returns the
    document count."""
    sf_dir.mkdir(parents=True, exist_ok=True)
    documents, embeddings = corpus_tables(seed)
    pq.write_table(documents, sf_dir / "documents.parquet")
    pq.write_table(embeddings, sf_dir / "embeddings.parquet")
    return documents.num_rows
