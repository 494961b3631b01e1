"""Approximate-nearest-neighbor search over embedding columns.

Two paths:
  - brute-force cosine top-k: exact baseline; cross-join bounded by a
    broadcast query side — correct at any corpus size as long as the
    QUERY set is small (the common batch-scoring shape).
  - LSH-bucketed (random hyperplane signs): scale path — candidates
    share a sign-pattern bucket, turning the n×m cross product into
    per-bucket joins. Hyperplanes are derived deterministically from
    md5, so results are reproducible with no stored model.

Dot products run through native higher-order functions
(zip_with + aggregate) — JVM-side, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from reviews_quality_check_spark.functions.arrays import lit_array_double


def dot(a: Column, b: Column) -> Column:
    # cast BEFORE multiplying: float*float would round to float32 and the
    # result could not match an engine that multiplies in double
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query: broadcast the (small) query side
    against the corpus, rank per query.

    Output: (query_id, neighbor_id, cos_sim, rank), rank 1..k,
    deterministic tie-break on neighbor id. Self-matches excluded.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        l2_norm(F.col(vec_col)).alias("nq"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        l2_norm(F.col(vec_col)).alias("nc"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    return _cosine_rerank(scored, k)


def md5_unit(salt: str) -> float:
    """THE engine-portable pseudo-random double in [-1, 1):
    ``('0x' || substring(md5(salt), 1, 8))::bigint / 4294967295.0 * 2.0
    - 1.0`` — exactly reproducible in DuckDB SQL. Single definition on
    purpose: hyperplanes, fixed IVF centroids, and planted fixture
    vectors (sources/planted.py) all derive from this one formula, so a
    tweak cannot silently break cross-engine bit-identity for a subset
    of them."""
    import hashlib

    return int(hashlib.md5(salt.encode()).hexdigest()[:8], 16) / 4294967295.0 * 2.0 - 1.0


def _hyperplane_raw(dim: int, plane_idx: int) -> list[float]:
    """Unnormalized md5-derived hyperplane. Sign of dot(v, p) is invariant
    to positive scaling of p, so skipping the L2 normalization keeps the
    bucket assignment identical while making every component an exact
    closed-form double that a SQL oracle (DuckDB) reproduces
    bit-for-bit (see md5_unit)."""
    return [md5_unit(f"{plane_idx}:{j}") for j in range(dim)]


def band_bucket_exprs(
    vec: Column, dim: int, bands: int, rows_per_band: int
) -> list[Column]:
    """One integer bucket Column per LSH band: ``rows_per_band`` sign bits
    of md5-derived hyperplane dot products, packed little-endian. Map-only,
    linear in dim × planes; at 10^12 rows raise rows_per_band so expected
    bucket occupancy stays bounded (bucket space = 2^rows_per_band per
    band)."""
    out = []
    for b in range(bands):
        bits = None
        for i in range(rows_per_band):
            p = _hyperplane_raw(dim, b * rows_per_band + i)
            plane = lit_array_double(p)
            bit = F.when(dot(vec, plane) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
            bits = bit if bits is None else bits + bit
        out.append(bits.cast("long").alias(f"band{b}"))
    return out


def band_buckets_pandas_udf(dim: int, bands: int, rows_per_band: int):
    """Arrow-vectorized twin of band_bucket_exprs: one pandas UDF emits
    all band buckets as array<long>.

    BIT-IDENTICAL to the expression path FOR WELL-FORMED dim-length
    vectors (pytest-pinned): the plane dot is accumulated per-dimension
    in the same left-to-right order as ``dot()``'s fold
    (acc = acc + x_j * p_j, acc0 = 0.0) with the same float64 ops —
    numpy just applies each step across the whole batch. Malformed rows
    (null / wrong-length vectors) differ BY DESIGN: this path emits
    null buckets (the row drops out of LSH candidates), while the
    expression path's null dot falls through each sign test's
    otherwise(0) to bucket 0 — keeping junk rows out of a real bucket
    is the better behavior, so the contract is intentionally narrowed
    rather than matched.
    The expression path costs bands*rows_per_band interpreted HOF lambda
    folds PER ROW (measured 6.4s for 30k x 32 planes at sf0.1); this is
    dim*planes vectorized ops per BATCH (~0.2s) — the 'vectorized
    pandas/Arrow UDFs, no per-row Python' shape the north_star names.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    planes = np.array(
        [_hyperplane_raw(dim, i) for i in range(bands * rows_per_band)],
        dtype=np.float64,
    )

    def _buckets(v):
        if len(v) == 0:
            return pd.Series([], dtype=object)
        arrs = v.to_numpy()
        # ragged/null guard: a single malformed row must not kill the
        # batch (np.vstack raises on mismatched lengths); such rows get
        # null buckets — the graceful degradation the expression path had
        good = np.array(
            [a is not None and len(a) == dim for a in arrs], dtype=bool
        )
        res = [None] * len(arrs)
        if good.any():
            x = np.vstack(arrs[good]).astype(np.float64)  # float32 -> exact
            n = x.shape[0]
            out = np.zeros((n, bands), dtype=np.int64)
            for b in range(bands):
                for i in range(rows_per_band):
                    p = planes[b * rows_per_band + i]
                    acc = np.zeros(n, dtype=np.float64)
                    for j in range(dim):  # same fold order as dot()
                        acc = acc + x[:, j] * p[j]
                    out[:, b] |= (acc >= 0).astype(np.int64) << i
            gi = np.flatnonzero(good)
            for k, row in zip(gi, out):
                res[k] = row
        return pd.Series(res)

    # real class annotations (the module-level `from __future__ import
    # annotations` would stringify inline hints and break inference)
    _buckets.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return pandas_udf("array<long>")(_buckets)


def dot_pandas_udf():
    """Arrow-vectorized twin of dot(): per-dimension accumulation in the
    same left-to-right order and float64 ops as the zip_with/aggregate
    fold, applied batch-wise — bit-identical results (pytest-pinned),
    without the interpreted per-pair lambda cost on large pair joins."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _dot(a, b):
        if len(a) == 0:
            return pd.Series([], dtype=float)
        aa, bb = a.to_numpy(), b.to_numpy()
        # ragged/null guard (see band_buckets_pandas_udf): malformed rows
        # yield null instead of killing the batch
        lens = [
            len(x) if (x is not None and y is not None and len(x) == len(y)) else -1
            for x, y in zip(aa, bb)
        ]
        counts: dict = {}
        for ln in lens:
            if ln >= 0:
                counts[ln] = counts.get(ln, 0) + 1
        if not counts:
            return pd.Series([None] * len(aa), dtype=object)
        modal = max(counts, key=lambda k: counts[k])
        res: list = [None] * len(aa)
        main = np.array([ln == modal for ln in lens], dtype=bool)
        xa = np.vstack(aa[main]).astype(np.float64)
        xb = np.vstack(bb[main]).astype(np.float64)
        acc = np.zeros(xa.shape[0], dtype=np.float64)
        for j in range(xa.shape[1]):  # same fold order as dot()
            acc = acc + xa[:, j] * xb[:, j]
        for k, val in zip(np.flatnonzero(main), acc):
            res[k] = float(val)
        # rare off-length (but well-formed) rows: scalar fold, same order
        for k, ln in enumerate(lens):
            if ln >= 0 and ln != modal:
                s = 0.0
                for x, y in zip(aa[k], bb[k]):
                    s = s + float(x) * float(y)
                res[k] = s
        return pd.Series(res, dtype=object)

    _dot.__annotations__ = {"a": pd.Series, "b": pd.Series, "return": pd.Series}
    return pandas_udf("double")(_dot)


def cell_ranks_pandas_udf(centroids: list[list[float]], dim: int):
    """Arrow-vectorized twin of the dist2/array_sort cell-ranking
    expression: per-centroid squared distance accumulated per-dimension
    in the same left-to-right order as the zip_with/aggregate fold
    (acc = acc + (x_j - c_j)*(x_j - c_j), acc0 = 0.0), then a STABLE
    argsort over (distance, cell) — ties keep ascending cell order
    exactly like array_sort on the (d, cell) struct. Bit-identical to
    the expression path for well-formed vectors (pytest-pinned);
    malformed rows (null / wrong length) return null ranks and drop out
    of the probe join, same narrowing as band_buckets_pandas_udf."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cmat = np.array(centroids, dtype=np.float64)

    def _ranks(v):
        if len(v) == 0:
            return pd.Series([], dtype=object)
        arrs = v.to_numpy()
        good = np.array(
            [a is not None and len(a) == dim for a in arrs], dtype=bool
        )
        res = [None] * len(arrs)
        if good.any():
            x = np.vstack(arrs[good]).astype(np.float64)
            n = x.shape[0]
            k = cmat.shape[0]
            d = np.empty((n, k), dtype=np.float64)
            for ci in range(k):
                acc = np.zeros(n, dtype=np.float64)
                for j in range(dim):  # same fold order as dist2()
                    t = x[:, j] - cmat[ci, j]
                    acc = acc + t * t
                d[:, ci] = acc
            order = np.argsort(d, axis=1, kind="stable").astype(np.int32)
            for idx, row in zip(np.flatnonzero(good), order):
                res[idx] = row
        return pd.Series(res)

    _ranks.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return pandas_udf("array<int>")(_ranks)


def sign_cells_pandas_udf(planes: list[list[float]], dim: int):
    """Arrow-vectorized hyperplane-sign cell id: bit i set when
    dot(v, planes[i]) >= 0, dot accumulated per-dimension in fold order
    (same guarantee as band_buckets_pandas_udf, arbitrary plane list).
    Malformed rows get cell 0 — the expression path's
    when(...).otherwise(0) bits summed to 0 for null dots, so this
    matches it exactly rather than narrowing."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    pmat = np.array(planes, dtype=np.float64)

    def _cells(v):
        if len(v) == 0:
            return pd.Series([], dtype="int32")
        arrs = v.to_numpy()
        good = np.array(
            [a is not None and len(a) == dim for a in arrs], dtype=bool
        )
        out = np.zeros(len(arrs), dtype=np.int32)
        if good.any():
            x = np.vstack(arrs[good]).astype(np.float64)
            n = x.shape[0]
            cells = np.zeros(n, dtype=np.int32)
            for i in range(pmat.shape[0]):
                acc = np.zeros(n, dtype=np.float64)
                for j in range(dim):  # same fold order as dot()
                    acc = acc + x[:, j] * pmat[i, j]
                cells |= (acc >= 0).astype(np.int32) << i
            out[np.flatnonzero(good)] = cells
        return pd.Series(out)

    _cells.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return pandas_udf("int")(_cells)


def _cosine_rerank(scored_pairs: DataFrame, k: int) -> DataFrame:
    """Shared rerank tail: (query_id, neighbor_id, qv, cv, nq, nc) ->
    top-k by exact cosine. Norms are computed ONCE PER ROW before the
    pair join (the old per-pair cosine() fold re-derived both norms per
    candidate — l2_norm is deterministic, so the values are identical);
    the dot crosses to Python once per candidate pair via the
    bit-identical vectorized dot (guide §4: candidate sets are small
    after bucketing, so the Arrow transfer is bounded)."""
    denom = F.col("nq") * F.col("nc")
    cos = F.when(
        denom > 0, dot_pandas_udf()(F.col("qv"), F.col("cv")) / denom
    ).otherwise(F.lit(0.0))
    scored = scored_pairs.select(
        "query_id", "neighbor_id", cos.alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def near_dup_pairs_lsh(
    df: DataFrame,
    dim: int,
    threshold: float = 0.9,
    bands: int = 4,
    rows_per_band: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded random-hyperplane
    LSH: candidates collide in >= 1 band's sign bucket, then exact cosine
    rerank inside candidates only (reference analyzers/similarity.py:264-269
    is likewise block-diagonal, never all-pairs).

    Scale shape: map-only bucket pass, per-band equi-joins (AQE-splittable,
    no cartesian), distinct on the candidate pair, one exact rerank per
    surviving pair. Recall < 1 by construction — the pair set IS defined
    as "banded-LSH candidates above threshold", which a SQL oracle can
    mirror exactly (md5 hyperplanes are engine-portable).

    Output: (id_a, id_b, cos_sim) with id_a < id_b, cos_sim rounded 4dp.
    """
    # Stage 1: norm behind a repartition barrier — inlined, the norm
    # subtree would be re-evaluated per normalized element (CollapseProject).
    base = (
        df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"), l2_norm(F.col(vec_col)).alias("__n"))
        .filter(F.col("__n") > 0)
        .repartition(F.col("vid"))
    )
    # Stage 2: normalized vector + band buckets (buckets from the RAW
    # vector — sign is scale-invariant), again behind a barrier so the
    # join below sees materialized attributes, not expression trees.
    # Buckets come from the Arrow-vectorized UDF (bit-identical to
    # band_bucket_exprs, pytest-pinned; ~4x on the map stage).
    bexpr = band_buckets_pandas_udf(dim, bands, rows_per_band)(F.col("v"))
    staged = base.select(
        "vid",
        F.transform(F.col("v"), lambda x: x.cast("double") / F.col("__n")).alias("nv"),
        bexpr.alias("__bands"),
    ).repartition(F.col("vid")).select(
        "vid", "nv",
        *[F.element_at(F.col("__bands"), b + 1).alias(f"band{b}") for b in range(bands)],
    )

    # Candidate generation on SKINNY rows: explode (vid, band, bucket),
    # one self-equi-join on (band, bucket), distinct pair ids — the
    # 64-double normalized vectors never travel through the collision
    # join (the old per-band join shipped nv with every row, 4x).
    # Exactly the oracle's cand-then-rerank shape; min-over-bands of
    # identical cos values == one cos per distinct pair.
    bl = staged.select(
        "vid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), F.col(f"band{b}").alias("bucket")
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("vid", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    cand = (
        bl.select(F.col("vid").alias("id_a"), "band", "bucket")
        .join(bl.select(F.col("vid").alias("id_b"), "band", "bucket"), ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    nvs = staged.select("vid", "nv")
    pairs = cand.join(
        nvs.select(F.col("vid").alias("id_a"), F.col("nv").alias("va")), "id_a"
    ).join(nvs.select(F.col("vid").alias("id_b"), F.col("nv").alias("vb")), "id_b")
    return (
        pairs.select(
            "id_a", "id_b", dot_pandas_udf()(F.col("va"), F.col("vb")).alias("cos")
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 4).alias("cos_sim"))
    )


def fixed_centroids(dim: int, n_cells: int) -> list[list[float]]:
    """Deterministic md5-derived coarse-quantizer centroids (same
    construction as the LSH hyperplanes): engine-portable, so a SQL
    oracle reproduces cell assignment bit-for-bit. A fixed quantizer is
    a legitimate IVF variant (cells need only partition the space;
    KMeans merely balances occupancy) — it trades balanced cells for a
    model-free, certifiable assignment stage."""
    return [
        [md5_unit(f"c{i}:{j}") for j in range(dim)] for i in range(n_cells)
    ]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: a coarse quantizer partitions the corpus
    into ``n_cells`` Voronoi cells; each query searches only its
    ``n_probe`` nearest cells, with exact cosine rerank inside.

    The coarse quantizer trains on the corpus (distributed seeded
    KMeans) unless ``centroids`` is given (e.g. fixed_centroids() for a
    SQL-certifiable assignment stage); cell centroids broadcast as
    literals, so assignment is a pure expression. Recall < 1 by
    construction — raise n_probe to trade compute for recall. Scale:
    corpus scan is one pass; the probe join fans each query out to
    n_probe cells only.
    """
    if centroids is None:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        train = corpus.select(array_to_vector(F.col(vec_col)).alias("features"))
        km = KMeans(k=n_cells, seed=seed, maxIter=20).fit(train)
        centroids = [list(map(float, c)) for c in km.clusterCenters()]

    dim = len(centroids[0])
    ranks_udf = cell_ranks_pandas_udf(centroids, dim)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        l2_norm(F.col(vec_col)).alias("nc"),
        F.element_at(ranks_udf(F.col(vec_col)), 1).alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        l2_norm(F.col(vec_col)).alias("nq"),
        F.explode(F.slice(ranks_udf(F.col(vec_col)), 1, n_probe)).alias("cell"),
    )
    scored = (
        c.join(q, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    return _cosine_rerank(scored, k)


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH ANN: sign-pattern bucket join + exact cosine
    rerank within buckets. Recall < 1.0 by construction; bucket count =
    2^num_planes. The scale path for corpus × corpus self-search.
    Unnormalized md5-derived planes (sign-equivalent) so a SQL oracle
    reproduces the buckets exactly."""
    from reviews_quality_check_spark.partitioning import spread

    planes = [_hyperplane_raw(dim, i) for i in range(num_planes)]

    # expression path on purpose: behind the spread the bucket fold is
    # ~num_planes*dim interpreted ops per row across every core, and the
    # per-bucket candidate sets are tiny (2^num_planes buckets), so the
    # pandas machinery's extra Arrow stages cost more than they save
    # here (r6 measured 1.1s expr vs 1.7s pandas at sf0.1) — the
    # opposite trade from ivf_topk's 8-centroid ranking.
    def bucket_expr(vec: Column) -> Column:
        bits = []
        for i, p in enumerate(planes):
            plane = lit_array_double(p)
            bits.append(F.when(dot(vec, plane) >= 0, 1 << i).otherwise(0))
        out = bits[0]
        for b in bits[1:]:
            out = out + b
        return out

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        bucket_expr(F.col(vec_col)).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        bucket_expr(F.col(vec_col)).alias("bucket"),
    )
    scored = (
        c.join(q, "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def semdedup(
    corpus: DataFrame,
    threshold: float = 0.96,
    n_cells: int = 8,
    centroids: list[list[float]] | None = None,
    planes: list[list[float]] | None = None,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster embeddings
    with a coarse quantizer, compare pairs ONLY within a cluster, and
    drop all but one member of every semantic-duplicate pair (cos >=
    threshold). Keeps the lowest id of a duplicate pair — the paper
    keeps one representative per group; lowest-id is the deterministic
    choice (same convention as the text dedup family).

    Quantizer, in priority order:
      - ``planes``: hyperplane-sign cells (cell = packed sign bits of
        dot(v, plane_i)). Balanced for directionally spread data —
        measured 204-321 vectors/cell on the corpus where the fixed md5
        centroids put ~80% of vectors in ONE cell (random centroids far
        from the data shell collapse the Voronoi partition; sign cells
        depend only on direction). This is the registered/scale path.
      - ``centroids``: nearest-centroid Voronoi cells (e.g.
        fixed_centroids() — SQL-certifiable but occupancy-skewed).
      - neither: fits KMeans (the paper's choice), pytest-only.

    Output: (vec_id, cell, keep) for EVERY corpus vector. Pairing
    normalizes each vector ONCE up front (zero-norm vectors map to the
    zero vector → pair dot 0.0, never dropped — same verdict as the old
    guarded cosine), so per-pair work is a single fused dot fold
    instead of dot + two norms; at O(sum B_c^2) pairs that per-pair
    constant dominates the operator.

    Scale: assignment is a pure broadcast expression scan; the pairwise
    stage is block-local within cells — O(sum B_c^2), the deliberate
    SemDeDup contract (the paper's k is chosen so B_c stays small;
    cells partition the space, so cross-cell near-dups are the quantizer
    recall trade, exactly as published). Balanced cells are what keep
    that contract: with 2^b sign cells the expected block is n/2^b, so
    b grows with log(n) at the 10^12 frame. The dropped set joins back
    as a broadcast anti-join via left join on the distinct ids.
    """
    if planes is None and centroids is None:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        train = corpus.select(array_to_vector(F.col(vec_col)).alias("features"))
        km = KMeans(k=n_cells, seed=42, maxIter=20).fit(train)
        centroids = [list(map(float, c)) for c in km.clusterCenters()]

    def dist2(vec: Column, center: list[float]) -> Column:
        carr = lit_array_double(center)
        return F.aggregate(
            F.zip_with(
                vec, carr, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    def nearest_cell(vec: Column) -> Column:
        pairs = F.array(
            *[
                F.struct(dist2(vec, c).alias("d"), F.lit(i).alias("cell"))
                for i, c in enumerate(centroids)
            ]
        )
        return F.element_at(
            F.transform(F.array_sort(pairs), lambda s: s.getField("cell")), 1
        )

    import pandas as pd

    if planes is not None:
        cell_col = sign_cells_pandas_udf(planes, dim)(F.col(vec_col))
    else:
        cell_col = nearest_cell(F.col(vec_col))
    cells = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("v"),
        l2_norm(F.col(vec_col)).alias("nrm"),
        cell_col.alias("cell"),
    )
    thr = float(threshold)

    # Per-cell verdicts in one grouped pandas pass (the O(sum B_c^2)
    # published contract, vectorized): the pair test
    # cosine >= t <=> dot >= (t*na)*nb runs as a per-dimension-ordered
    # accumulation over the cell's pair matrix — the exact float64 op
    # sequence of the old per-pair zip_with/aggregate fold, so verdicts
    # are bit-identical. Zero-norm / malformed vectors never pair
    # (keep=true), matching the guarded-cosine convention. Emitting
    # (vec_id, cell, keep) for every member directly also removes the
    # old broadcast join-back of the dropped set (one job less).
    def cell_verdicts(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        raw_cell = pdf["cell"].iloc[0]
        bid = int(raw_cell) if pd.notna(raw_cell) else None
        nrm = pdf["nrm"].to_numpy(dtype=np.float64, na_value=np.nan)
        vs = pdf["v"].to_numpy()
        valid = np.array(
            [
                (n > 0) and (v is not None) and (len(v) == dim)
                for n, v in zip(nrm, vs)
            ],
            dtype=bool,
        )
        keep = np.ones(len(ids), dtype=bool)
        vi = np.flatnonzero(valid)
        m = len(vi)
        if m >= 2:
            x = np.vstack(vs[vi]).astype(np.float64)
            acc = np.zeros((m, m), dtype=np.float64)
            tmp = np.empty((m, m), dtype=np.float64)
            for j in range(x.shape[1]):  # same fold order as dot()
                col = x[:, j]
                # preallocated outer-product buffer: the naive
                # `acc += np.multiply.outer(col, col)` allocates an m x m
                # temp per dimension (64 x 50 MB per 2500-vector cell —
                # measured allocation-bound at 10x scale); out= reuses one
                np.multiply.outer(col, col, out=tmp)
                acc += tmp
            tn = thr * nrm[vi]  # (t * na), then * nb — original op order
            thresh = np.multiply.outer(tn, nrm[vi])
            hit = acc >= thresh
            # only i < j pairs drop j (ids ascending == index ascending)
            dropped = np.zeros(m, dtype=bool)
            for jj in range(1, m):
                if hit[:jj, jj].any():
                    dropped[jj] = True
            keep[vi[dropped]] = False
        return pd.DataFrame(
            {
                "vec_id": ids.astype("int64"),
                "cell": pd.array([bid] * len(ids), dtype="Int32"),
                "keep": keep,
            }
        )

    return (
        cells.groupBy("cell")
        .applyInPandas(cell_verdicts, "vec_id long, cell int, keep boolean")
        .orderBy("vec_id")
    )
