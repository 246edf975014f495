"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline; the LSH-bucketed variant
(sign-random-projection) is the 100 TB scale path — both are pure
DataFrame plans with higher-order array functions (zip_with + aggregate),
no Python in the loop.

Determinism contract: dot products and norms accumulate through
DECIMAL(38,9) casts of the per-component double products. Double
accumulation order differs between engines; decimal accumulation of
identical doubles is exact and engine-independent, so similarity scores
(and therefore top-k rank boundaries) compare bit-for-bit against the
SQL oracle. Scale 9 (not higher): engines convert double→decimal with
different internal precision, and they provably agree only while the
target scale keeps the scaled value's representation error far below
half an ulp of the last kept digit (|x|·10^s·2⁻⁵² ≪ 0.5). The ~1e-9
quantization is identical on both sides and irrelevant to ranking.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from neo4j_database_spark.session import shuffle_partitions
from neo4j_database_spark.catalog import load_table

# 11 integer digits of headroom + 9 frac digits. Kept well under
# precision 38 so Spark's decimal-addition widening rule
# (p = max(p1-s1, p2-s2) + s + 1) never hits the 38 cap — at the cap
# Spark silently drops a fraction digit (38,9)+(38,9) → (38,8).
ACC = "decimal(20,9)"


def _dot_dec(a: Column, b: Column) -> Column:
    """Exact decimal sum of pairwise double products."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast(ACC)),
        F.lit(0).cast(ACC),
        lambda acc, v: (acc + v).cast(ACC),
    )


def _as_double_arr(col: Column | str) -> Column:
    if isinstance(col, str):
        col = F.col(col)
    return col.cast("array<double>")


def knn_bruteforce(
    spark: SparkSession, sf_dir: str, query_vec_id: int = 0, k: int = 10
) -> DataFrame:
    """Exact cosine top-k neighbors of one stored vector.

    The 1-row query side broadcasts; every partition scores its vectors
    independently; top-k is TakeOrderedAndProject. cos² is compared via
    exact decimal arithmetic (cross-multiplied, no sqrt) and the emitted
    score is derived from the same exact quantities, so ordering and
    values are oracle-identical.
    """
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") == query_vec_id).select(
        F.col("vec_id").alias("q_id"), _as_double_arr("embedding").alias("q_vec")
    )
    # the query norm is a constant — fold it once inside the 1-row
    # broadcast frame, not once per candidate row
    q = q.withColumn("norm2_q", _dot_dec(F.col("q_vec"), F.col("q_vec")))
    cand = emb.filter(F.col("vec_id") != query_vec_id).select(
        "vec_id", _as_double_arr("embedding").alias("vec")
    )
    dot = _dot_dec(F.col("vec"), F.col("q_vec"))
    nv = _dot_dec(F.col("vec"), F.col("vec"))
    scored = cand.crossJoin(F.broadcast(q)).select(
        "vec_id",
        dot.alias("dot"),
        nv.alias("norm2_v"),
        "norm2_q",
    )
    # Accumulation is exact decimal; the final combination happens in
    # doubles derived from those decimals (never decimal×decimal, whose
    # precision-loss rules are engine-specific). Identical double inputs +
    # identical IEEE ops ⇒ identical scores in Spark and the oracle.
    dot_d = F.col("dot").cast("double")
    nv_d = F.col("norm2_v").cast("double")
    nq_d = F.col("norm2_q").cast("double")
    rank = dot_d * F.abs(dot_d) / (nv_d * nq_d)
    cosine = dot_d / F.sqrt(nv_d * nq_d)
    return (
        scored.select(
            "vec_id", rank.alias("rank_score"), cosine.alias("cosine")
        )
        .orderBy(F.desc("rank_score"), F.asc("vec_id"))
        .limit(k)
    )


def _srp_bucket(vec: Column, n_planes: int) -> Column:
    """Sign-random-projection bucket id.

    Deterministic pseudo-random hyperplanes: plane p has component
    j = ((p*31 + j*17) % 13) - 6 (an integer lattice direction — fixed,
    seedable, and reproducible in ANSI SQL). Bucket bit p = sign of
    ⟨vec, plane_p⟩, accumulated exactly in decimal.
    """
    def plane_term(p: int):
        # closure factory: PySpark introspects lambda arity, so the plane
        # index can't ride along as a defaulted third parameter
        return lambda x, j: (
            x * ((F.lit(p) * 31 + j * 17) % 13 - 6).cast("double")
        ).cast(ACC)

    bits = []
    for p in range(n_planes):
        proj = F.aggregate(
            F.transform(vec, plane_term(p)),
            F.lit(0).cast(ACC),
            lambda acc, v: (acc + v).cast(ACC),
        )
        bits.append(F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0)) * (2**p))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def knn_lsh(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
    n_planes: int = 4,
) -> DataFrame:
    """Approximate cosine top-k: score only candidates in the query's
    sign-random-projection bucket.

    At 100 TB: bucket the corpus once (16-256 buckets per table write,
    persisted as a partition column), so each query scores ~n/2^planes
    vectors — the standard IVF/LSH trade. Recall < 1 by design; the
    oracle replays the identical bucketing, so the check is exact.
    """
    emb = load_table(spark, "embeddings", sf_dir)
    bucketed = emb.select(
        "vec_id",
        _as_double_arr("embedding").alias("vec"),
        _srp_bucket(_as_double_arr("embedding"), n_planes).alias("bucket"),
    )
    q = bucketed.filter(F.col("vec_id") == query_vec_id).select(
        F.col("vec").alias("q_vec"), F.col("bucket").alias("q_bucket")
    )
    # query norm folded once in the 1-row broadcast, not per candidate
    q = q.withColumn("norm2_q", _dot_dec(F.col("q_vec"), F.col("q_vec")))
    cand = bucketed.filter(F.col("vec_id") != query_vec_id)
    dot = _dot_dec(F.col("vec"), F.col("q_vec"))
    nv = _dot_dec(F.col("vec"), F.col("vec"))
    scored = (
        cand.join(F.broadcast(q), F.col("bucket") == F.col("q_bucket"))
        .select("vec_id", dot.alias("dot"), nv.alias("norm2_v"), "norm2_q")
    )
    dot_d = F.col("dot").cast("double")
    rank = dot_d * F.abs(dot_d) / (
        F.col("norm2_v").cast("double") * F.col("norm2_q").cast("double")
    )
    return (
        scored.select("vec_id", rank.alias("rank_score"))
        .orderBy(F.desc("rank_score"), F.asc("vec_id"))
        .limit(k)
    )


def cosine_dup_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.4,
    n_planes: int = 4,
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ threshold, candidates
    restricted to SRP-bucket collisions.

    The all-pairs comparison never materializes: vectors only meet inside
    a bucket (expected n/2^planes each), which is the LSH dedup recipe at
    100 TB — bucket id becomes a partition key and each partition runs an
    independent quadratic in its (small) bucket. Recall trades off with
    n_planes exactly like minhash banding.
    """
    emb = load_table(spark, "embeddings", sf_dir)
    bucketed = emb.select(
        "vec_id",
        _as_double_arr("embedding").alias("vec"),
        _srp_bucket(_as_double_arr("embedding"), n_planes).alias("bucket"),
    )
    # the squared norm is a per-VECTOR quantity: fold it once per vector
    # BEFORE the pair join, not once per candidate pair after it — the
    # exact-decimal fold is an interpreted HOF, and recomputing both
    # norms per pair tripled the per-pair fold count
    bucketed = bucketed.withColumn("n2", _dot_dec(F.col("vec"), F.col("vec")))
    a = bucketed.select(
        F.col("vec_id").alias("id_a"), F.col("vec").alias("va"),
        F.col("n2").alias("n2a"), "bucket",
    )
    b = bucketed.select(
        F.col("vec_id").alias("id_b"), F.col("vec").alias("vb"),
        F.col("n2").alias("n2b"), "bucket",
    )
    # Emit pairs from the bucket join, redistribute, then fold the dot
    # INSIDE a checkpointed frame (the semantic_dedup trick, one step
    # further): without the barrier the optimizer pushes the rank
    # filter into the join condition, so the per-pair decimal dot fold
    # evaluates TWICE (join condition + output project) and runs on
    # ≤ 2^planes bucket-join tasks instead of full cluster width; with
    # the fold materialized by the checkpoint, the filter above touches
    # only the scalar dot column and the arrays never enter the
    # checkpoint.
    n_parts = shuffle_partitions(spark)
    pairs = (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "va", "vb", "n2a", "n2b")
        .repartition(n_parts, "id_a", "id_b")
    )
    dot = _dot_dec(F.col("va"), F.col("vb"))
    # eager=False: the checkpoint exists ONLY as an optimizer barrier
    # (truncate lineage so the rank filter cannot be pushed into the
    # join condition and re-evaluate the decimal fold); lazy keeps
    # DataFrame construction side-effect-free, so explain/plan-audit/
    # registry introspection no longer executes the scoring job
    # (ADVICE r05).
    scored = pairs.select(
        "id_a", "id_b", dot.alias("dot"), "n2a", "n2b"
    ).localCheckpoint(eager=False)
    dot_d = F.col("dot").cast("double")
    rank = dot_d * F.abs(dot_d) / (
        F.col("n2a").cast("double") * F.col("n2b").cast("double")
    )
    return (
        scored.select("id_a", "id_b", rank.alias("rank_score"))
        .filter(F.col("rank_score") >= threshold * threshold)
        .orderBy("id_a", "id_b")
    )


def _ivf_assign(
    spark: SparkSession, sf_dir: str, n_lists: int
) -> DataFrame:
    """Coarse-quantize every vector to its nearest deterministic centroid.

    Shared by ``ivf_knn`` and ``semantic_dedup``: centroids are the first
    ``n_lists`` stored vectors (a seedable, oracle-reproducible stand-in
    for a trained k-means codebook); assignment maximizes the
    exact-decimal cosine rank (ties → lowest centroid id). Returns
    (vec_id, vec, cent_id, n2) — n2 is the vector's exact-decimal
    squared norm, folded once here so no caller (or the persisted
    index) ever re-folds it.
    """
    emb = load_table(spark, "embeddings", sf_dir)
    # norms are per-vector / per-centroid quantities — fold them once on
    # each input, not once per (vector × centroid) row of the cross
    # join (the exact-decimal fold is an interpreted HOF; recomputing
    # nv per centroid multiplied the fold count by n_lists)
    cents = emb.filter(F.col("vec_id") < n_lists).select(
        F.col("vec_id").alias("cent_id"), _as_double_arr("embedding").alias("cvec")
    )
    cents = cents.withColumn("nc", _dot_dec(F.col("cvec"), F.col("cvec")))
    vecs = emb.select("vec_id", _as_double_arr("embedding").alias("vec"))
    vecs = vecs.withColumn("nv", _dot_dec(F.col("vec"), F.col("vec")))
    dot = _dot_dec(F.col("vec"), F.col("cvec"))
    scored = vecs.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "vec",
        "cent_id",
        F.col("nv").alias("n2"),
        (
            dot.cast("double")
            * F.abs(dot.cast("double"))
            / (F.col("nv").cast("double") * F.col("nc").cast("double"))
        ).alias("crank"),
    )
    from pyspark.sql.window import Window as W

    w = W.partitionBy("vec_id").orderBy(F.desc("crank"), F.asc("cent_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "vec", "cent_id", "n2")
    )


def semantic_dedup(
    spark: SparkSession,
    sf_dir: str,
    n_lists: int = 8,
    threshold: float = 0.4,
) -> DataFrame:
    """SemDedup (Abbas et al. 2023): semantic near-duplicate pruning with
    the pair search BOUNDED BY COARSE CLUSTERS — all-pairs cosine runs
    only within a cluster, never across the corpus.

    A vector is pruned when a LOWER-id vector in the same cluster has
    cosine ≥ threshold (keep-lowest-id is the deterministic stand-in for
    SemDedup's keep-one-per-group choice). Exactness: cosine compare is
    the cross-multiplied decimal rank (dot·|dot| ≥ τ²·n2a·n2b — no
    sqrt, no float accumulation).

    100 TB shape: assignment is one broadcast of n_lists centroids +
    map-side argmax (write-time partition column in a deployed store);
    the quadratic stage is per-cluster, so fan-out is Σ|cluster|² —
    controlled by n_lists, exactly the knob the SemDedup paper scales.

    Output: one row per vector (vec_id, cent_id, is_kept).
    """
    # each vector's squared norm arrives pre-folded from _ivf_assign
    # (folding it per PAIR in the quadratic per-cluster join was 2/3 of
    # the pair-scoring cost); checkpoint materializes vec + n2
    assigned = _ivf_assign(spark, sf_dir, n_lists).localCheckpoint()
    a = assigned.select(
        F.col("cent_id"),
        F.col("vec_id").alias("id_a"),
        F.col("vec").alias("vec_a"),
        F.col("n2").alias("n2a"),
    )
    b = assigned.select(
        F.col("cent_id"),
        F.col("vec_id").alias("id_b"),
        F.col("vec").alias("vec_b"),
        F.col("n2").alias("n2b"),
    )
    dot = _dot_dec(F.col("vec_a"), F.col("vec_b"))
    dot_d = dot.cast("double")
    rank = dot_d * F.abs(dot_d) / (
        F.col("n2a").cast("double") * F.col("n2b").cast("double")
    )
    # The cluster join keys on cent_id (n_lists distinct values), so the
    # PAIRING lands on ≤ n_lists tasks — fine for emitting (cheap) pair
    # rows, catastrophic if the O(dim) decimal cosine evaluated there.
    # Repartition the pair stream on the pair identity and CHECKPOINT:
    # a bare repartition is not enough — the optimizer pushes the
    # score-filter back through a RepartitionByExpression, re-collapsing
    # the arithmetic onto the skewed join tasks; the checkpoint is a
    # hard barrier, so scoring runs at full cluster width (≈20× at
    # sf0.1). At real scale n_lists is O(√n) and the skew fades; the
    # barrier keeps the small-n_lists regime honest too.
    n_parts = shuffle_partitions(spark)
    pairs = (
        a.join(b, on="cent_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .repartition(n_parts, "id_a", "id_b")
        .localCheckpoint()
    )
    dups = (
        pairs.select("id_b", rank.alias("rank_score"))
        .filter(F.col("rank_score") >= threshold * threshold)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return (
        assigned.select("vec_id", "cent_id")
        .join(dups.withColumn("__dup", F.lit(True)), on="vec_id", how="left")
        .select(
            "vec_id",
            "cent_id",
            F.coalesce(~F.col("__dup"), F.lit(True)).alias("is_kept"),
        )
        .orderBy("vec_id")
    )


def ivf_knn(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
    n_lists: int = 8,
) -> DataFrame:
    """IVF-style approximate top-k: coarse-quantize every vector to its
    nearest of ``n_lists`` fixed centroids, then score only the query's
    list.

    Deterministic coarse quantizer: the centroids are the first
    ``n_lists`` stored vectors (vec_id 0..n_lists-1) — a seedable,
    oracle-reproducible stand-in for a trained k-means codebook; swap in
    trained centroids at deployment without touching the plan. Assignment
    maximizes the exact-decimal cosine rank (ties → lowest centroid id).
    At 100 TB the assignment is write-time (a partition column) and a
    query touches 1/n_lists of the corpus.
    """
    assigned = _ivf_assign(spark, sf_dir, n_lists)
    q = assigned.filter(F.col("vec_id") == query_vec_id).select(
        F.col("vec").alias("q_vec"),
        F.col("cent_id").alias("q_cent"),
        F.col("n2").alias("n2q"),
    )
    cand = assigned.filter(F.col("vec_id") != query_vec_id)
    qdot = _dot_dec(F.col("vec"), F.col("q_vec"))
    hits = cand.join(F.broadcast(q), F.col("cent_id") == F.col("q_cent")).select(
        "vec_id", qdot.alias("dot"), F.col("n2").alias("n2v"), "n2q"
    )
    dot_d = F.col("dot").cast("double")
    rank = dot_d * F.abs(dot_d) / (
        F.col("n2v").cast("double") * F.col("n2q").cast("double")
    )
    return (
        hits.select("vec_id", rank.alias("rank_score"))
        .orderBy(F.desc("rank_score"), F.asc("vec_id"))
        .limit(k)
    )


def centroids_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid numerators: exact decimal component
    sums + counts (divide at read time — keeping the stored aggregate
    exact makes it re-mergeable, the map-side-combine property).

    Plan: posexplode → (label, dim) hash aggregate. One shuffle of
    (label × 64 dims) partials.
    """
    emb = load_table(spark, "embeddings", sf_dir)
    return (
        emb.select(
            "label", F.posexplode(_as_double_arr("embedding")).alias("dim", "x")
        )
        .groupBy("label", "dim")
        .agg(
            # exact accumulation in LONG nano-units. NOT CAST(x AS
            # DECIMAL): embedding components are CONTINUOUS doubles, and
            # the double→decimal cast rounds the exact binary value in
            # Spark but scaled-double arithmetic in DuckDB — one element
            # near a .5e-9 boundary flipped a sum at sf0.1 (money/event
            # values are immune: they sit on a coarse grid far from any
            # boundary). round(x·1e9) is computed on the IDENTICAL
            # product double by both engines (half-away-from-zero), the
            # long sum is exact (≤ n·1e9 ≪ 2^53), and the final divide
            # is one correctly-rounded op.
            (
                F.sum(
                    F.round(F.col("x") * F.lit(1000000000.0)).cast("long")
                ).cast("double")
                / F.lit(1000000000.0)
            ).alias("sum_x"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("label", "dim")
    )


def quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the
    compression step that makes 100 TB-scale ANN serving affordable
    (4× smaller vectors than float32, SIMD-friendly integer dot
    products; the storage format of FAISS/ScaNN-style indexes).

    Per vector: scale = max(|x_j|), code_j = round(x_j · 127 / scale)
    ∈ [−127, 127]. Emitted exploded as (vec_id, dim, code) plus the
    per-vector scale — integer codes hash exactly; the scale rides
    along as a double derived by identical IEEE ops in the oracle
    (both engines round half-away-from-zero for doubles, positives and
    negatives alike). Zero vectors keep scale 0 and code 0.

    One narrow map stage (higher-order aggregate for the max, transform
    for the codes) — no shuffle; at scale this runs at write time and
    the codes column replaces the float array in the stored index.
    """
    emb = load_table(spark, "embeddings", sf_dir)
    vec = _as_double_arr("embedding")
    scale = F.aggregate(
        vec,
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x)),
    )
    quantized = emb.select(
        "vec_id",
        scale.alias("scale"),
        F.posexplode(vec).alias("dim", "x"),
    ).select(
        "vec_id",
        "scale",
        F.col("dim").cast("int").alias("dim"),
        F.when(F.col("scale") == 0.0, F.lit(0))
        .otherwise(F.round(F.col("x") * F.lit(127.0) / F.col("scale")))
        .cast("int")
        .alias("code"),
    )
    return quantized.orderBy("vec_id", "dim")


# ---- product quantization ------------------------------------------------

PQ_SUBSPACES = 4  # m subspaces over the 64-dim embeddings (16 dims each)
PQ_CENTROID_IDS = (1, 2, 3, 4)  # codebook rows: k=4 centroids per subspace


def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes: per subspace, the id of the nearest
    codebook centroid (squared-L2, exact decimal accumulation).

    PQ is the other half of large-scale ANN (alongside IVF, ivf_knn
    above): a D-dim vector compresses to m small codes, and distances
    against a query decompose into m table lookups. The codebook here is
    deterministic — the subvectors of stored vectors 1..4 — standing in
    for k-means-trained centroids so assignments stay oracle-exact
    (k-means itself is iterative float fitting → rows-only territory,
    see ml/clustering.py).

    Scale shape: the codebook is tiny by construction (m·k subvectors —
    collected once, folded into the plan as literals, broadcast with the
    closure), so assignment is one map-only stage over the corpus: no
    shuffle, no join, no Python. The orderBy exists for the oracle; a
    production index build writes codes partition-local at ingest.
    """
    return _pq_assign(spark, sf_dir)[0].orderBy("vec_id", "subspace")


def _pq_assign(spark: SparkSession, sf_dir: str):
    """Shared PQ assignment: returns (codes_df, codebook, subspace_width)
    where codes_df is the unsorted (vec_id, subspace, code) frame and
    codebook maps centroid id → full vector (driver-side, m·k rows)."""
    emb = load_table(spark, "embeddings", sf_dir)
    dim = len(
        emb.select("embedding").first()["embedding"]
    )  # 64 for driver data
    sub = dim // PQ_SUBSPACES
    cb_rows = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.where(
            F.col("vec_id").isin(list(PQ_CENTROID_IDS))
        ).collect()
    }
    vec = _as_double_arr("embedding")

    def d2(s: int, cid: int) -> Column:
        cslice = cb_rows[cid][s * sub : (s + 1) * sub]
        return F.aggregate(
            F.zip_with(
                F.slice(vec, s * sub + 1, sub),
                F.array(*[F.lit(c) for c in cslice]),
                lambda x, c: ((x - c) * (x - c)).cast(ACC),
            ),
            F.lit(0).cast(ACC),
            lambda acc, v: (acc + v).cast(ACC),
        )

    per_sub = []
    for s in range(PQ_SUBSPACES):
        dists = F.array(*[d2(s, cid) for cid in PQ_CENTROID_IDS])
        # first index attaining the min → ties break to the lowest
        # centroid id (array is in PQ_CENTROID_IDS order)
        code = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        per_sub.append(
            F.struct(F.lit(s).cast("int").alias("subspace"), code.alias("code"))
        )
    codes = emb.select(
        "vec_id", F.explode(F.array(*per_sub)).alias("sc")
    ).select("vec_id", F.col("sc.subspace"), F.col("sc.code"))
    return codes, cb_rows, sub


def _adc_top_k(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int,
    k: int,
    members: DataFrame | None = None,
) -> DataFrame:
    """ADC top-k over the PQ codes of ``members`` (a ``vec_id`` frame;
    every vector but the query when None): fetch the full-precision
    query vector, fold its m×k lookup table into one 16-way CASE per
    code row, sum per vector, keep the k nearest."""
    codes, cb_rows, sub = _pq_assign(spark, sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)
    q = [
        float(x)
        for x in emb.where(F.col("vec_id") == query_vec_id)
        .select("embedding")
        .first()["embedding"]
    ]

    def lut(s: int, cid: int) -> Column:
        qslice = q[s * sub : (s + 1) * sub]
        cslice = cb_rows[cid][s * sub : (s + 1) * sub]
        return F.aggregate(
            F.zip_with(
                F.array(*[F.lit(x) for x in qslice]),
                F.array(*[F.lit(c) for c in cslice]),
                lambda x, c: ((x - c) * (x - c)).cast(ACC),
            ),
            F.lit(0).cast(ACC),
            lambda acc, v: (acc + v).cast(ACC),
        )

    dval = F.lit(None).cast(ACC)
    for s in range(PQ_SUBSPACES):
        for ci in range(len(PQ_CENTROID_IDS)):
            dval = F.when(
                (F.col("subspace") == s) & (F.col("code") == ci),
                lut(s, PQ_CENTROID_IDS[ci]),
            ).otherwise(dval)
    if members is None:
        codes = codes.filter(F.col("vec_id") != query_vec_id)
    else:
        codes = codes.join(members, "vec_id", "left_semi")
    return (
        codes.select("vec_id", dval.alias("d"))
        .groupBy("vec_id")
        .agg(F.sum("d").cast("decimal(30,9)").cast("double").alias("adc_d2"))
        .orderBy(F.asc("adc_d2"), F.asc("vec_id"))
        .limit(k)
    )


def pq_adc_knn(
    spark: SparkSession, sf_dir: str, query_vec_id: int = 0, k: int = 10
) -> DataFrame:
    """PQ asymmetric-distance top-k (the ADC scan of Jégou et al. 2011)
    — the query half of IVF-PQ, completing ivf_knn (coarse lists) +
    pq_codes (compression): the FULL-precision query scores against
    8-bit codes through an m×k lookup table, never touching stored
    vectors.

    adc(q, x) = Σ_s lut[s][code_s(x)], lut[s][c] = ‖q_s − c_s‖² — here
    both the query subvectors and the codebook are plan literals, so
    the lut folds into a CASE expression and the scan is: codes frame →
    16-way CASE per row → per-vector sum → TakeOrderedAndProject. No
    join, no Python, and the shuffled payload per vector is one decimal
    — the compression is what makes 100 TB ANN serving memory-feasible
    (codes are 32× smaller than the float vectors). Exact decimal lut
    arithmetic keeps it oracle-checkable.
    """
    return _adc_top_k(spark, sf_dir, query_vec_id, k)


def ivf_pq_knn(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
    n_lists: int = 8,
) -> DataFrame:
    """IVF-PQ top-k — the standard FAISS index shape, composing the two
    halves already in the engine: the IVF coarse quantizer bounds the
    candidate set to the query's list (1/n_lists of the corpus), and the
    ADC lookup-table scan scores ONLY those candidates against the
    query, never touching stored float vectors.

    Plan: coarse membership is a left-semi join of the codes frame
    against the query-list vec_ids (at 100 TB the coarse assignment is a
    write-time partition column, so the semi-join becomes partition
    pruning); the surviving codes fold through the same CASE-expression
    lut as pq_adc_knn; one per-vector decimal sum; TakeOrderedAndProject.
    Exact decimal lut arithmetic keeps it oracle-checkable end to end.
    """
    assigned = _ivf_assign(spark, sf_dir, n_lists)
    q_cent = assigned.filter(F.col("vec_id") == query_vec_id).select(
        F.col("cent_id").alias("q_cent")
    )
    members = (
        assigned.join(F.broadcast(q_cent), F.col("cent_id") == F.col("q_cent"))
        .filter(F.col("vec_id") != query_vec_id)
        .select("vec_id")
    )
    return _adc_top_k(spark, sf_dir, query_vec_id, k, members)


IVF_INDEX_ROOT = os.environ.get(
    "SPARK_GRAFT_IVF_INDEX", "/tmp/neo4j_database_spark_ivf"
)

# Bump when the index layout changes so stale caches self-invalidate.
# v3: lists carry the pre-folded exact-decimal squared norm (n2).
IVF_INDEX_VERSION = 3


def ensure_ivf_index(
    spark: SparkSession, sf_dir: str, n_lists: int = 8
) -> str:
    """Materialize the IVF assignment as a LIST-PARTITIONED parquet
    index: ``partitionBy(cent_id)`` puts each coarse list in its own
    directory, so a probe query's ``cent_id IN (...)`` filter becomes
    partition PRUNING — the scan never opens the other lists' files.
    A flat ``assign/`` sidecar (vec_id, cent_id — sorted by vec_id)
    rides along: the id→list map every IVF serving system keeps, used
    for exact point lookups that must not rescan the partitioned data.

    This is the persisted form of the claim in ivf_knn's docstring
    ("at 100 TB the assignment is write-time — a partition column"):
    the expensive part of ANN serving, touching 1/n_lists of the corpus
    per query, is provided by the storage layout rather than a runtime
    filter over everything. Rebuild cost is one scan + one write.

    Cache key = layout version + source fingerprint (mtime+size of the
    embeddings parquet file, or the newest-part mtime + total size for
    a directory-style table), so regenerated data gets a fresh index
    instead of stale answers. Builds land in a builder-private temp dir
    and are published by ONE atomic rename — a concurrent builder that
    loses the race just discards its temp dir, and a partially-written
    index can never sit behind the committed marker.
    """
    from neo4j_database_spark.sources.warehouse import _ident

    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    if os.path.isdir(src):
        # directory mtime doesn't change on in-place part overwrite —
        # fingerprint the parts themselves
        parts = [
            os.stat(os.path.join(src, f))
            for f in os.listdir(src)
            if not f.startswith((".", "_"))
        ]
        fp = (
            f"{max((int(p.st_mtime) for p in parts), default=0)}_"
            f"{sum(p.st_size for p in parts)}"
        )
    else:
        fp = f"{int(st.st_mtime)}_{st.st_size}"
    path = os.path.join(
        IVF_INDEX_ROOT,
        f"v{IVF_INDEX_VERSION}_{_ident(sf_dir)}_l{n_lists}_{fp}",
    )
    if not os.path.exists(os.path.join(path, "_BUILT")):
        # build privately, publish atomically: overwrite-into-a-shared-
        # path is delete-then-write, so two racing builders would
        # corrupt each other and the marker would make it permanent
        tmp = f"{path}.building.{os.getpid()}"
        # one plan execution feeds both writes (the assignment is a
        # crossJoin + exact-decimal cosine + window — too expensive to
        # run twice)
        assigned = _ivf_assign(spark, sf_dir, n_lists).localCheckpoint()
        (
            assigned.write.mode("overwrite")
            .partitionBy("cent_id")
            .parquet(os.path.join(tmp, "lists"))
        )
        (
            assigned.select("vec_id", "cent_id")
            .repartition(1)
            .sortWithinPartitions("vec_id")
            .write.mode("overwrite")
            .parquet(os.path.join(tmp, "assign"))
        )
        with open(os.path.join(tmp, "_BUILT"), "w") as f:
            f.write(sf_dir)
        try:
            os.rename(tmp, path)
        except OSError:
            # another builder published first — identical content; keep
            # theirs, drop ours
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    return path


def ivf_index_knn(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
    n_lists: int = 8,
    n_probe: int = 1,
) -> DataFrame:
    """IVF top-k over the PERSISTED list-partitioned index.

    The query's own list comes from the ``assign`` sidecar — a point
    lookup with vec_id pushdown against the STORED assignment, so the
    n_probe=1 candidate set is exactly ivf_knn's by construction (no
    recomputation that could drift by an ulp) and the twins share one
    oracle. Additional probe lists (n_probe>1) are ranked driver-side
    by plain float cosine against the centroid vectors — approximate
    ranking there only widens recall, never changes a stored
    assignment. The index scan carries ``cent_id IN (probes)`` as a
    partition filter — tests/test_plan_shapes.py pins PartitionFilters
    in the plan.
    """
    path = ensure_ivf_index(spark, sf_dir, n_lists)
    q_rows = (
        spark.read.parquet(os.path.join(path, "assign"))
        .filter(F.col("vec_id") == query_vec_id)
        .collect()
    )
    if not q_rows:
        # unknown query id: same contract as ivf_knn — empty result,
        # not an unpack crash
        return spark.createDataFrame(
            [], "vec_id bigint, rank_score double"
        )
    probes = [q_rows[0].cent_id]
    emb = load_table(spark, "embeddings", sf_dir)
    q_vec = (
        emb.filter(F.col("vec_id") == query_vec_id)
        .select(_as_double_arr("embedding").alias("vec"))
        .collect()[0].vec
    )
    if n_probe > 1:
        cents = {
            r.vec_id: r.vec
            for r in emb.filter(F.col("vec_id") < n_lists)
            .select("vec_id", _as_double_arr("embedding").alias("vec"))
            .collect()
        }
        n2q = sum(a * a for a in q_vec)

        def crank(c: list[float]) -> float:
            dot = sum(a * b for a, b in zip(q_vec, c))
            return dot * abs(dot) / (n2q * sum(a * a for a in c))

        extra = sorted(
            (cid for cid in range(n_lists) if cid != probes[0]),
            key=lambda cid: (-crank(cents[cid]), cid),
        )
        probes += extra[: n_probe - 1]

    idx = spark.read.parquet(os.path.join(path, "lists")).filter(
        F.col("cent_id").isin(probes) & (F.col("vec_id") != query_vec_id)
    )
    qdf = F.broadcast(
        spark.createDataFrame([(q_vec,)], "q_vec array<double>")
        .withColumn("n2q", _dot_dec(F.col("q_vec"), F.col("q_vec")))
    )
    dot = _dot_dec(F.col("vec"), F.col("q_vec"))
    # candidate norms come pre-folded from the index (written by
    # _ivf_assign) — the scan never re-folds them
    hits = idx.crossJoin(qdf).select(
        "vec_id", dot.alias("dot"), F.col("n2").alias("n2v"), "n2q"
    )
    dot_d = F.col("dot").cast("double")
    rank = dot_d * F.abs(dot_d) / (
        F.col("n2v").cast("double") * F.col("n2q").cast("double")
    )
    return (
        hits.select("vec_id", rank.alias("rank_score"))
        .orderBy(F.desc("rank_score"), F.asc("vec_id"))
        .limit(k)
    )
