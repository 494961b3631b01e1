"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

Scale design (100 TB / 10^12 rows):
  - Exact dedup is a hash aggregate on a fixed-width md5 fingerprint —
    never on the raw text — so shuffle rows stay narrow. For hot keys
    (e.g. empty/boilerplate pages duplicated millions of times) use the
    salted two-phase variant.
  - MinHash signatures are computed via explode-then-aggregate (one md5
    per shingle, permutations as flat min() aggregates — all inside
    whole-stage codegen; nested array-lambda formulations get their
    input chains collapsed into the lambda body by Catalyst and
    re-evaluated per permutation). LSH banding turns the O(n²) pair
    space into per-band equi-joins, which AQE can split on skew.
  - All hash functions are md5-based so results are engine-independent
    (the DuckDB correctness oracle computes identical signatures).

reference: exact-dup pass analyzers/similarity.py:231-249; pairwise
similarity analyzers/similarity.py:102-199 (re-expressed sub-quadratic).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from reviews_quality_check_spark.functions.text import (
    md5_fingerprint,
    norm_text,
    shingles,
    tokens,
    whitespace_words,
    word_ngrams,
)

# ---------------------------------------------------------------------------
# Exact deduplication (reference similarity.py:231-249, A1/A2/W1)
# ---------------------------------------------------------------------------


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of rows whose normalized text is identical (size >= 2).

    Output: (fingerprint, member_ids sorted, group_size). The group-by key
    is the md5 fingerprint, not the text — narrow shuffle rows at scale.
    """
    return (
        df.select(F.col(id_col), md5_fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
            F.count(F.lit(1)).alias("group_size"),
        )
        .filter(F.col("group_size") >= 2)
    )


def dedup_keep_first(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row of each exact-duplicate group (W1 semantics,
    reference review_analysis.py:545-551 keep-first)."""
    w = Window.partitionBy(md5_fingerprint(text_col)).orderBy(F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def duplicate_metrics(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Both duplicate metrics the reference reports (SURVEY §4.1 quirk 7):
    duplicates_found = Σ(group_size - 1) (review_analysis.py:291) and
    duplicate_groups = COUNT(groups) (report_generator.py:71)."""
    groups = exact_dup_groups(df, text_col, id_col)
    return groups.agg(
        F.coalesce(F.sum(F.col("group_size") - 1), F.lit(0)).alias("duplicates_found"),
        F.count(F.lit(1)).alias("duplicate_groups"),
    )


def salted_uniqueness_violations(
    df: DataFrame, key_col: str = "url", salt_buckets: int = 64
) -> DataFrame:
    """Keys appearing more than once, via an explicit two-phase salted
    aggregate (north_rule: skew in url hot keys handled with salting).

    Phase 1 groups by (key, salt) — hot keys spread over ``salt_buckets``
    reducers; phase 2 merges the per-salt partial counts. Equivalent to
    ``groupBy(key).count()`` but immune to single-reducer hot spots.
    Output: (key, cnt) for cnt >= 2.
    """
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets))
    partial = (
        df.select(F.col(key_col).alias("key"), salt.alias("_salt"))
        .groupBy("key", "_salt")
        .agg(F.count(F.lit(1)).alias("_partial"))
    )
    return (
        partial.groupBy("key")
        .agg(F.sum("_partial").alias("cnt"))
        .filter(F.col("cnt") >= 2)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-duplicate detection
# ---------------------------------------------------------------------------


# Universal-hash MinHash: hash each shingle ONCE (md5 -> 60-bit int mod
# P), then permutation i is (a_i*h + b_i) mod P — integer multiply-adds
# instead of num_hashes md5 calls per shingle (16x less hashing).
# P is the Mersenne prime 2^31-1 so a_i*h stays inside signed 64-bit;
# a_i/b_i derive from i by fixed LCG-style formulas both engines can
# evaluate identically (the DuckDB oracle mirrors the exact arithmetic).
MINHASH_P = 2_147_483_647
_A_MUL, _A_ADD = 1_103_515_245, 12_345
_B_MUL, _B_ADD = 1_000_003, 17


def lsh_band_keys(sig: Column, bands: int, rows_per_band: int) -> Column:
    """Band keys: md5 of the '|'-joined signature slice per band."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda j: F.md5(
            F.concat_ws(
                "|",
                F.transform(
                    F.slice(sig, j * rows_per_band + 1, rows_per_band),
                    lambda v: v.cast("string"),
                ),
            )
        ),
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) sharing >= 1 LSH band.

    Plan shape: signature (map-only) → explode bands → self equi-join on
    band key → distinct pairs. The join key space is the band hash, so
    the pair blow-up is bounded by bucket sizes, not n².
    """
    rows_per_band = num_hashes // bands
    # EXPLODE-THEN-AGGREGATE, not nested array lambdas: chained column
    # projections get collapsed by Catalyst into the HOF lambda bodies,
    # so a transform(sequence(0,15), ...) over an inlined shingle chain
    # re-tokenizes and re-hashes the text once PER PERMUTATION (and the
    # banding lambda multiplies that again — measured 64x blow-up).
    # Exploding shingles to rows makes every permutation a flat
    # min() aggregate expression: whole-stage codegen, map-side partial
    # aggregation, one narrow shuffle keyed by doc id.
    p = F.lit(MINHASH_P)
    sh = F.array_distinct(word_ngrams(F.col("__tok"), shingle_k))
    hashed = (
        df.select(F.col(id_col).alias("id"), tokens(text_col).alias("__tok"))
        .select("id", F.explode(sh).alias("__s"))
        .select(
            "id",
            (F.conv(F.substring(F.md5(F.col("__s")), 1, 15), 16, 10).cast("long") % p).alias("__h"),
        )
    )
    mins = [
        F.min(
            (
                ((F.lit(_A_MUL * i + _A_ADD) % p) * F.col("__h")
                 + F.lit((_B_MUL * i + _B_ADD) % MINHASH_P))
                % p
            )
        ).alias(f"__m{i}")
        for i in range(num_hashes)
    ]
    sig_df = hashed.groupBy("id").agg(*mins).select(
        "id", F.array(*[F.col(f"__m{i}") for i in range(num_hashes)]).alias("sig")
    )
    banded = sig_df.select(
        "id", F.explode(lsh_band_keys(F.col("sig"), bands, rows_per_band)).alias("band")
    )
    # Rename per side BEFORE the join: a self-join on same-lineage
    # attributes can resolve both sides of `a.band == b.band` to the SAME
    # attribute, silently degrading the equi-join to a filtered cartesian
    # product (measured: 44s instead of 2s on 20k banded rows).
    a = banded.select(F.col("id").alias("id_a"), F.col("band").alias("band_a"))
    b = banded.select(F.col("id").alias("id_b"), F.col("band").alias("band_b"))
    return (
        a.join(b, (F.col("band_a") == F.col("band_b")) & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b")
        .distinct()
    )


def near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Near-duplicate pairs: LSH candidates verified with exact Jaccard
    over the reference n-gram set, tiered per similarity.py:194-199.

    Output: (id_a, id_b, similarity, tier) for similarity >= threshold.
    The verify join broadcasts nothing — both sides re-derive n-gram sets
    from the joined texts, keeping the candidate relation narrow (two ids).
    """
    cands = minhash_lsh_candidates(df, text_col, id_col, num_hashes, bands, shingle_k)
    # The verify join ships the (cheap, JVM-normalized) WORDS array per
    # side and computes the reference n-gram-set Jaccard inside one
    # vectorized pandas UDF over the CANDIDATE pairs only — the old
    # per-doc ngset projection paid the interpreted char-3-gram HOF
    # chain for every corpus doc (r6: the same restructure that carried
    # the blocked-similarity family; _ngram_set is the shared
    # code-point-identical Python twin). LSH bounds the candidate count,
    # so the per-pair set build is bounded by true/near-hit volume, not
    # the corpus. Exact duplicates excluded as before (similarity.py:161).
    from pyspark.sql.functions import pandas_udf

    from reviews_quality_check_spark.operators.similarity_blocked import _ngram_set

    fp = df.select(
        F.col(id_col).alias("id"),
        md5_fingerprint(text_col).alias("fp"),
        whitespace_words(text_col).alias("__words"),
    )
    joined = (
        cands.join(fp.select(F.col("id").alias("id_a"), F.col("fp").alias("fp_a"),
                             F.col("__words").alias("w_a")), "id_a")
        .join(fp.select(F.col("id").alias("id_b"), F.col("fp").alias("fp_b"),
                        F.col("__words").alias("w_b")), "id_b")
        .filter(F.col("fp_a") != F.col("fp_b"))
    )

    def _jacc(wa, wb):
        import pandas as pd

        out = []
        for a, b in zip(wa, wb):
            if a is None or b is None:
                out.append(None)
                continue
            sa = _ngram_set(list(a), shingle_k)
            sb = _ngram_set(list(b), shingle_k)
            inter = len(sa & sb)
            un = len(sa) + len(sb) - inter
            # same float64 division as the JVM cast(double)/cast(double)
            out.append(inter / un if un > 0 else 0.0)
        return pd.Series(out, dtype="float64")

    import pandas as pd  # noqa: F401 (annotations for the udf)

    _jacc.__annotations__ = {"wa": pd.Series, "wb": pd.Series, "return": pd.Series}
    sim_udf = pandas_udf("double")(_jacc)
    sim = F.col("similarity")
    tier = (
        F.when(sim >= 0.9, F.lit("critical"))
        .when(sim >= 0.8, F.lit("high"))
        .when(sim >= 0.7, F.lit("moderate"))
    )
    return (
        joined.withColumn("similarity", sim_udf(F.col("w_a"), F.col("w_b")))
        .filter(F.col("similarity") >= threshold)
        .select("id_a", "id_b", "similarity", tier.alias("tier"))
    )


# ---------------------------------------------------------------------------
# SimHash (64-bit) near-dup buckets
# ---------------------------------------------------------------------------


SIMHASH_BITS = 60  # 15 md5 hex chars -> fits signed int64 in any engine


def simhash_rows(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """60-bit SimHash via explode-then-aggregate (same Catalyst-collapse
    rationale as MinHash: nested bit-loop lambdas would re-tokenize 60x).

    Explode tokens -> md5-derived 60-bit int per token (15 hex chars, the
    same portable trick as MinHash — `('0x'||substring(md5(t),1,15))
    ::bigint` in DuckDB, `conv(substring(md5(t),1,15),16,10)` here) ->
    60 flat SUM(IF(bit set, 1, -1)) aggregates -> assemble with
    shiftleft/bitwise-OR over the votes. 60 bits keeps every intermediate
    inside signed int64 (no sign-bit special case), so the DuckDB oracle
    reproduces the hash bit-for-bit.
    """
    hashed = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("__t")
    ).select(
        "id",
        F.conv(F.substring(F.md5(F.col("__t")), 1, 15), 16, 10).cast("long").alias("__h"),
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1).cast("long")) == 1, 1)
            .otherwise(-1)
        ).alias(f"__v{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = hashed.groupBy("id").agg(*votes)
    sim = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        sim = sim.bitwiseOR(
            F.when(F.col(f"__v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    return agg.select("id", sim.alias("simhash"))


def simhash_buckets(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                    prefix_bits: int = 16) -> DataFrame:
    """Bucket docs by the top ``prefix_bits`` of their SimHash — the
    banding step of SimHash dedup (candidates share a bucket).
    Rows with no tokens produce no output (no hash to bucket)."""
    sh = simhash_rows(df, text_col, id_col)
    return (
        sh.withColumnRenamed("id", id_col)
        .withColumn(
            "bucket", F.shiftrightunsigned(F.col("simhash"), SIMHASH_BITS - prefix_bits)
        )
    )


# ---------------------------------------------------------------------------
# Duplicate clusters: connected components over a near-dup pair graph
# ---------------------------------------------------------------------------


class CCInterrupted(RuntimeError):
    """Raised by connected_components when ``stop_after_rounds`` fires —
    the chaos-test / job-control hook simulating a mid-run kill. State
    committed to ``resume_dir`` up to that round is durable; a re-call
    with the same resume_dir continues instead of restarting."""


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
    resume_dir: str | None = None,
    stop_after_rounds: int | None = None,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """Group near-duplicate PAIRS into duplicate CLUSTERS — the form a
    dedup pipeline actually consumes (keep one canonical doc per
    cluster; the reference likewise removes whole duplicate groups,
    analyzers/similarity.py:161 + review_analysis.py:320-330).

    Min-label propagation WITH per-round pointer doubling: every node
    starts labeled with itself; each round takes (1) the min of its own
    and its neighbors' labels, then (2) chases one pointer hop through
    the label table itself — ``lbl(x) <- min(lbl(x), lbl(lbl(x)))``.
    Step (2) is the path-doubling trick (Hash-to-Min family, Kiveris et
    al. "Connected Components in MapReduce and Beyond"): the radius a
    node's label has traveled at least doubles each round, so a
    component of diameter d converges in O(log d) rounds instead of
    O(d) — a 200-node chain closes in ~8 rounds (pytest-pinned) where
    plain propagation needed 199. Convergence is an exact
    count-of-changes == 0 test; non-convergence within ``max_iter``
    RAISES rather than returning split components (with doubling,
    max_iter=50 covers diameters ~2^50 — unreachable).

    Scale shape per round: two equi-joins + one groupBy min — all
    shuffle on the node id, AQE-splittable, no driver data beyond the
    change COUNT. Labels are pinned each round to truncate the
    iterative lineage; pass ``checkpoint_dir`` (or set
    ``$RQC_CHECKPOINT_DIR``) for reliable rdd checkpoints durable to
    executor loss, which bare ``localCheckpoint`` is not (VERDICT r3
    #3) — superseded rounds' checkpoint FILES are deleted as the loop
    advances (unpersist alone only drops cached blocks; ADVICE r4 #3).

    ``resume_dir`` upgrades durability to full kill/resume (the
    runner's `_commit` pattern): every round's labels are committed to
    ``resume_dir/round=<k>`` parquet (the read-back doubles as the
    lineage pin), so a killed run re-called with the same resume_dir
    continues from the last committed round instead of restarting —
    completed rounds are never recomputed, and a ``_CONVERGED`` marker
    short-circuits re-calls after a finished run. The fixpoint of
    min-label propagation is the componentwise min regardless of the
    intermediate state resumed from, so a resumed run's final labels
    are identical to an uninterrupted one (pytest-pinned).
    ``stop_after_rounds`` raises ``CCInterrupted`` after that many
    propagation rounds — the chaos-test / job-control hook used to
    exercise the kill path deterministically.

    ``driver_threshold`` (r6): after near-dup detection the edge set is
    normally MINUSCULE relative to the corpus (the whole point of the
    pipeline), and the iterative distributed loop's cost is per-round
    JOB latency, not data. When the edge count is at most this bound
    (a LIMIT-probed check — never an unbounded collect) and no
    checkpoint/resume/chaos machinery was requested, the components
    are computed with a driver-side union-find over the collected
    pairs — the same adaptive small-side routing as a broadcast join
    (100k edges ≈ 1.6 MB). The fixpoint is identical by construction
    (min member id per component; pytest pins route equality), and any
    larger edge set — or any call that asks for durable rounds — takes
    the distributed pointer-doubling path unchanged. Set 0/None to
    force the distributed path.

    Output: (node, cluster_id, cluster_size) — cluster_id = min member id.
    """
    from reviews_quality_check_spark import sinks
    from reviews_quality_check_spark.operators.pinning import pin, pin_tracked

    spark = edges.sparkSession

    from reviews_quality_check_spark.operators.pinning import engine_checkpoint_dir

    if (
        driver_threshold
        and checkpoint_dir is None
        and engine_checkpoint_dir() is None  # env-requested durable rounds
        and resume_dir is None
        and stop_after_rounds is None
    ):
        sample = (
            edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
            .limit(int(driver_threshold) + 1)
            .collect()
        )
        if len(sample) <= driver_threshold:
            parent: dict = {}

            def find(x):
                r = x
                while parent.get(r, r) != r:
                    r = parent[r]
                while parent.get(x, x) != x:  # path compression
                    parent[x], x = r, parent[x]
                return r

            for row in sample:
                a, b = row["a"], row["b"]
                if a is None or b is None:
                    continue
                ra, rb = find(a), find(b)
                if ra != rb:
                    # union by min keeps the root the component min
                    lo, hi = (ra, rb) if ra < rb else (rb, ra)
                    parent[hi] = lo
            nodes = {
                v for row in sample for v in (row["a"], row["b"]) if v is not None
            }
            members: dict = {}
            for x in nodes:
                members.setdefault(find(x), []).append(x)
            rows = [
                (node, root, len(nodes))
                for root, nodes in members.items()
                for node in nodes
            ]
            return spark.createDataFrame(
                rows, "node long, cluster_id long, cluster_size long"
            )

    def commit_round(df: DataFrame, k: int) -> DataFrame:
        return spark.read.parquet(sinks.commit_numbered(df, resume_dir, "round=", k))

    def finish(labels: DataFrame) -> DataFrame:
        sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("cluster_size"))
        return labels.join(sizes, "lbl").select(
            "node", F.col("lbl").alias("cluster_id"), "cluster_size"
        )

    labels, round_k = None, 0
    if resume_dir is not None:
        done = sinks.committed_numbers(spark, resume_dir, "round=")
        if done:
            labels = spark.read.parquet(f"{resume_dir}/round={done[-1]}")
            round_k = done[-1] + 1
            if sinks.has_marker(spark, f"{resume_dir}/_CONVERGED"):
                return finish(labels)

    und = pin(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct(),
        checkpoint_dir,
    )
    prev_ckpt: str | None = None
    if labels is None:
        init = und.select(F.col("a").alias("node")).distinct().withColumn(
            "lbl", F.col("node")
        )
        if resume_dir is not None:
            labels = commit_round(init, 0)
            round_k = 1
        else:
            labels, prev_ckpt = pin_tracked(init, checkpoint_dir)
            round_k = 1

    changed, rounds_this_call = 0, 0
    for _ in range(max_iter):
        nbr = (
            und.join(labels.withColumnRenamed("node", "b"), "b")
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("lbl").alias("nbr_min"))
        )
        stepped = labels.join(nbr, "node", "left").select(
            "node",
            F.col("lbl").alias("old_lbl"),
            F.least(
                F.col("lbl"), F.coalesce(F.col("nbr_min"), F.col("lbl"))
            ).alias("lbl"),
        )
        # pointer doubling: follow the label's own label one hop
        ptr = stepped.select(
            F.col("node").alias("lbl"), F.col("lbl").alias("lbl2")
        )
        doubled = stepped.join(ptr, "lbl", "left").select(
            "node",
            "old_lbl",
            F.least(
                F.col("lbl"), F.coalesce(F.col("lbl2"), F.col("lbl"))
            ).alias("lbl"),
        )
        if resume_dir is not None:
            new_labels, new_ckpt = commit_round(doubled, round_k), None
        else:
            new_labels, new_ckpt = pin_tracked(doubled, checkpoint_dir)
        # the previous label rides along on each row, so the convergence
        # test is a filter over the just-pinned frame instead of a
        # node-keyed join of two cached frames (one shuffle less per
        # round — round latency is job-count-bound on small graphs)
        changed = new_labels.filter(F.col("lbl") != F.col("old_lbl")).count()
        new_labels = new_labels.select("node", "lbl")
        # retire the previous round: unpersist drops its cached blocks;
        # its DURABLE artifacts (reliable rdd checkpoint / committed
        # round parquet) are deleted explicitly — keeping them would
        # accumulate O(rounds x |nodes|) of storage. The round just
        # superseded stays until the NEXT swap (resume always has the
        # latest committed round plus its predecessor mid-delete).
        labels.unpersist()
        if prev_ckpt is not None:
            sinks.delete(spark, prev_ckpt)
        if resume_dir is not None and round_k >= 2:
            sinks.delete(spark, f"{resume_dir}/round={round_k - 2}")
        labels, prev_ckpt = new_labels, new_ckpt
        round_k += 1
        rounds_this_call += 1
        if changed == 0:
            if resume_dir is not None:
                sinks.put_marker(spark, f"{resume_dir}/_CONVERGED")
            break
        if stop_after_rounds is not None and rounds_this_call >= stop_after_rounds:
            raise CCInterrupted(
                f"stopped after {rounds_this_call} rounds (round={round_k - 1} "
                f"committed{' to ' + resume_dir if resume_dir else ''})"
            )
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            f"rounds ({changed} labels still changing) — a silent partial "
            "result would split real components; raise max_iter (rounds "
            "needed ~ log2(component diameter) with doubling)"
        )
    return finish(labels)
