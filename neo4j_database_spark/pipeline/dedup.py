"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH.

Scale design:
- Exact dedup is a hash-groupBy on a digest — one shuffle of (digest,
  doc_id), never of the document text.
- Near-dup avoids the O(n²) pairwise comparison: candidate pairs come
  from an equi-join on shared shingles (n-gram Jaccard) or shared LSH
  band buckets (MinHash), so the join key is always hashable and the
  blow-up is bounded by bucket sizes, not corpus size.
- Hashing uses md5 (JVM built-in, available identically in the DuckDB
  oracle). A production 100 TB run swaps md5 → xxhash64 (same plan,
  ~5× cheaper digest) — see ``minhash_signatures(hash_fn=...)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neo4j_database_spark.catalog import load_table

SHINGLE_WIDTH = 3  # word 3-grams
NUM_HASHES = 8  # minhash signature length
BAND_SIZE = 2  # rows per LSH band → 4 bands


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by content digest; survivor = min doc_id.

    Classic first pass of any dedup pipeline: groupBy(md5(text)). Only
    the 32-byte digest shuffles.
    """
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select(F.md5(F.col("text")).alias("digest"), "doc_id")
        .groupBy("digest")
        .agg(
            F.min("doc_id").alias("survivor_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
        .orderBy("survivor_id")
    )


def shingles(docs: DataFrame, width: int = SHINGLE_WIDTH) -> DataFrame:
    """Distinct word-``width``-gram shingles per document.

    Output: (doc_id, shingle) — exploded, one row per distinct shingle.

    Construction (round-5 rewrite): ``width`` full-length slices of the
    token array, offset by 0..width-1, folded pairwise with
    ``zip_with(concat)``. The previous form — ``transform`` over a
    sequence of start offsets, each calling ``slice(toks, i, width)`` —
    allocated one width-element array per token and measured 3.8 s at
    sf0.1 for the explode alone; the zip form allocates ``width`` long
    slices total and measures 0.79 s (4.8×), byte-identical output.
    Shingling was 84% of the whole MinHash-LSH pipeline, so this is the
    difference between scan-bound and allocation-bound.
    """
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    return docs.select(
        "doc_id", F.explode(F.array_distinct(gram_array(toks, width))).alias("shingle")
    )


def gram_array(toks: F.Column, width: int) -> F.Column:
    """Ordered word-``width``-gram array: element j (0-based) is the
    space-joined gram starting at token j. Built as ``width``
    full-length slices folded pairwise with ``zip_with(concat)`` — the
    round-5 construction that beat transform-over-offsets 4.8× (one
    width-element allocation per TOKEN vs ``width`` long slices total).
    Documents shorter than ``width`` tokens yield n_grams = 0 → empty
    slices → empty array; no explicit short-circuit needed."""
    n_grams = F.greatest(F.size(toks) - (width - 1), F.lit(0))
    acc = F.slice(toks, 1, n_grams)
    for k in range(2, width + 1):
        acc = F.zip_with(
            acc,
            F.slice(toks, k, n_grams),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return acc


def positional_shingles(docs: DataFrame, width: int = SHINGLE_WIDTH) -> DataFrame:
    """Shingles with their 1-based start position (for winnowing-style
    windowed selection). Not deduplicated — position matters.

    The gram array is ordered by construction, so the position is
    ``posexplode``'s index + 1 — no per-gram (pos, s) struct to build
    and carry through the explode (the struct-carrying transform was
    the slice-per-offset shape the shingle rewrite measured 4.8×
    slower)."""
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    ex = docs.select(
        "doc_id",
        F.posexplode(gram_array(toks, width)).alias("pos0", "shingle"),
    )
    return ex.select(
        "doc_id", (F.col("pos0") + 1).alias("pos"), "shingle"
    )


def simhash_fingerprints(
    spark: SparkSession, sf_dir: str, n_bits: int = 16
) -> DataFrame:
    """Per-document SimHash fingerprint over whitespace tokens.

    Each token contributes ±1 to every bit position according to its
    hash; the fingerprint sign-quantizes the sums. Token bits derive
    from md5 hex digits (bit b = bit (b%4) of hex digit (b//4)) so the
    oracle reproduces them with pure string/arithmetic SQL. One explode +
    one aggregation with ``n_bits`` conditional sums — the same plan
    shape as the feature matrix, fully codegen'd.
    """
    docs = load_table(spark, "documents", sf_dir)
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    tok = docs.select("doc_id", F.explode(toks).alias("t")).withColumn(
        "h", F.md5(F.col("t"))
    )
    def bit(b: int):
        digit = F.conv(F.substring(F.col("h"), b // 4 + 1, 1), 16, 10).cast("int")
        return F.shiftright(digit, b % 4).bitwiseAND(F.lit(1))

    sums = [
        F.sum(F.when(bit(b) == 1, 1).otherwise(-1)).alias(f"s_{b}")
        for b in range(n_bits)
    ]
    agg = tok.groupBy("doc_id").agg(*sums)
    fp = None
    for b in range(n_bits):
        term = F.when(F.col(f"s_{b}") >= 0, F.lit(2**b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return agg.select(
        "doc_id", fp.cast("long").alias("simhash")
    ).orderBy("doc_id")


def ngram_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold_num: int = 1,
    threshold_den: int = 2,
    max_df: int = 50,
) -> DataFrame:
    """Candidate near-dup pairs with exact n-gram Jaccard ≥ num/den.

    Inverted-index join: explode shingles → self-equi-join on shingle
    (doc_a < doc_b) → count common → Jaccard from per-doc shingle counts.
    The threshold test is integer cross-multiplication
    (``den*common ≥ num*(na+nb-common)``) so the oracle comparison never
    touches floats.

    High-document-frequency shingles are dropped BEFORE the pair join
    (standard inverted-index pruning): a shingle present in n documents
    emits C(n,2) pairs, so one stopword-like trigram shared by 1% of a
    100 TB corpus would alone produce ~10¹² pairs — the quadratic
    blow-up that kills naive all-pairs dedup. With ``df ≤ max_df`` the
    per-shingle pair fan-out is bounded by C(max_df, 2) and total work
    is linear in corpus size. Near-dup semantics are preserved: a
    shingle shared by more than ``max_df`` documents carries ~zero
    discrimination signal (it matches everything), exactly like
    stopwords in text retrieval. Jaccard is computed consistently over
    the PRUNED shingle space (sizes too), mirrored in the SQL oracle.
    """
    docs = load_table(spark, "documents", sf_dir)
    sh = shingles(docs)
    # document frequency per shingle; keep only discriminative shingles.
    # (shingles() is distinct per doc, so count(*) == document frequency)
    rare = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_df)
        .select("shingle")
    )
    sh = sh.join(rare, "shingle")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_shingles").alias("nb"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(
            F.col("n_common") * threshold_den
            >= (F.col("na") + F.col("nb") - F.col("n_common")) * threshold_num
        )
        .select("id_a", "id_b", "n_common", "na", "nb")
        .orderBy("id_a", "id_b")
    )


def minhash_signatures(
    docs: DataFrame, num_hashes: int = NUM_HASHES, hash_fn: str = "md5"
) -> DataFrame:
    """Per-document MinHash signature.

    ``hash_fn='md5'`` (oracle-comparable): hash function i is the i-th
    disjoint 8-hex-char window of ceil(num_hashes/4) md5 digests —
    md5 bits are independent, so each window is an independent uniform
    hash, and the corpus pays 2 digests per shingle instead of
    ``num_hashes``. ``hash_fn='xxhash64'`` is the production path
    (64-bit int mins via seeded xxhash64, ~5× cheaper than md5, same
    plan shape). One aggregation produces all mins either way.
    """
    sh = shingles(docs)
    if hash_fn == "md5":
        n_digests = (num_hashes + 3) // 4
        digest_cols = [
            F.md5(
                F.col("shingle")
                if d == 0
                else F.concat(F.lit(f"x{d}|"), F.col("shingle"))
            ).alias(f"_d{d}")
            for d in range(n_digests)
        ]
        proj = sh.select("doc_id", *digest_cols)
        # NOTE (r09, measured negative result): min(string) buffers are
        # not hash-aggregable, so this plans as Sort+SortAggregate — a
        # sort of the shingle frame. Rewriting the windows as
        # conv(hex, 16, 10) longs (min commutes with the fixed-width
        # hex↔long bijection, pairs byte-identical) DID produce a
        # sort-free HashAggregate but measured ~0.35 s SLOWER at sf0.1
        # in a 4-variant single-session A/B (conv's per-shingle parse
        # outweighs the avoided sort at this corpus size), so it was
        # reverted. At 100 TB the sort, not conv, dominates — but that
        # regime already belongs to hash_fn='xxhash64' below (long
        # mins, HashAggregate, ~5× cheaper hashing), which is the
        # production path; this md5 form exists for oracle
        # comparability and stays locally optimal.
        aggs = [
            F.min(
                F.substring(F.col(f"_d{i // 4}"), 1 + 8 * (i % 4), 8)
            ).alias(f"mh_{i}")
            for i in range(num_hashes)
        ]
        return proj.groupBy("doc_id").agg(*aggs)
    if hash_fn == "xxhash64":
        # Hash the shingle STRING once; permutation i re-hashes the 8-byte
        # base long (a fixed single-block xxhash64, ~free next to string
        # hashing). The naive form — xxhash64(i, shingle) per permutation
        # — re-scans the string num_hashes times and benched SLOWER than
        # the 2-digest md5 oracle path (round-2 verdict item 3: 6.5 s vs
        # 4.4 s at sf0.1); this form pays 1 string hash total.
        base = sh.select("doc_id", F.xxhash64(F.col("shingle")).alias("_h"))
        aggs = [
            F.min(F.xxhash64(F.lit(i), F.col("_h"))).alias(f"mh_{i}")
            for i in range(num_hashes)
        ]
        return base.groupBy("doc_id").agg(*aggs)
    raise ValueError(hash_fn)


def band_keys(
    docs: DataFrame,
    num_hashes: int = NUM_HASHES,
    band_size: int = BAND_SIZE,
    hash_fn: str = "md5",
) -> DataFrame:
    """(doc_id, band_idx, band_key) rows for LSH banding — the
    persistable inverted-index form of the MinHash signatures (at scale
    this frame IS the stored index, partitioned by band_idx)."""
    sig = minhash_signatures(docs, num_hashes, hash_fn)
    n_bands = num_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.concat_ws(
                    "|",
                    *[F.col(f"mh_{b * band_size + r}").cast("string")
                      for r in range(band_size)],
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    return sig.select("doc_id", F.explode(bands).alias("band")).select(
        "doc_id", "band.band_idx", "band.band_key"
    )


def minhash_lsh_pairs(
    spark: SparkSession,
    sf_dir: str,
    num_hashes: int = NUM_HASHES,
    band_size: int = BAND_SIZE,
    hash_fn: str = "md5",
) -> DataFrame:
    """Candidate near-dup pairs via MinHash-LSH banding.

    signature → band keys (concat of band_size mins) → unpivot to
    (doc_id, band_idx, band_key) → self-join on (band_idx, band_key).
    Collision in ≥1 band ⇒ candidate pair (emitted once, with the number
    of colliding bands as a crude score). At 100 TB the band join is the
    only shuffle and its key space is wide (hash concat), so bucket skew
    only appears for true near-dup clusters — which is the output, not a
    pathology.

    Eager construction: the band index is localCheckpoint'ed below, so
    BUILDING this DataFrame runs Spark jobs (the full corpus scan and
    fingerprint) before any action — plan-capture/explain tooling sees
    them at construction time, and the returned plan's leaves are
    Scan ExistingRDD, not parquet (ADVICE r09).
    """
    docs = load_table(spark, "documents", sf_dir)
    # Materialize the band index ONCE before the self-join (r09
    # optimization round): without the checkpoint both join sides
    # carry the full shingle→hash→aggregate pipeline and the corpus is
    # scanned and fingerprinted TWICE per query (two Scan parquet
    # leaves in plans/r09/doc_minhash_lsh_before.txt as of commit
    # ff21e9c — exchange reuse cannot fire across re-aliased
    # subtrees). The band frame is the small per-doc index (n_bands
    # rows/doc — the docstring's "stored index" form), so the
    # checkpoint is node-sized at any scale.
    exploded = band_keys(docs, num_hashes, band_size, hash_fn).localCheckpoint()
    a = exploded.select(
        F.col("doc_id").alias("id_a"), "band_idx", "band_key"
    )
    b = exploded.select(
        F.col("doc_id").alias("id_b"), "band_idx", "band_key"
    )
    return (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_bands_hit"))
        .orderBy("id_a", "id_b")
    )


def dedup_clusters(
    spark: SparkSession, sf_dir: str, max_iter: int = 5
) -> DataFrame:
    """End-to-end near-duplicate clustering: the composition a corpus
    cleaner actually runs.

    Pair graph = exact-duplicate pairs (identical md5 digest) ∪
    MinHash-LSH candidate pairs (``minhash_lsh_pairs``); clusters are
    the connected components of that graph, labeled by min doc_id —
    fixed ``max_iter`` supersteps of min-label propagation, which
    covers any cluster of diameter ≤ max_iter (near-dup clusters are
    dense — LSH links most members pairwise — so 5 is generous; fixed
    iteration keeps the result deterministic and SQL-expressible).

    Scale shape: pairs come from bucketed joins (digest groupBy, LSH
    band join) — never all-pairs; the propagation loop shuffles one
    node-sized label frame per superstep (the doc side of the pair
    graph, tiny relative to the corpus text). Integer labels → exact
    unrolled SQL oracle (same construction as g_pagerank's).

    Returns every document with its cluster id (singletons keep their
    own id) plus the cluster size — the canonical keep-one-per-cluster
    input.
    """
    docs = load_table(spark, "documents", sf_dir)
    digests = docs.select(F.md5(F.col("text")).alias("digest"), "doc_id")
    survivors = digests.groupBy("digest").agg(
        F.min("doc_id").alias("survivor")
    )
    exact_pairs = (
        digests.join(survivors, "digest")
        .filter(F.col("doc_id") != F.col("survivor"))
        .select(
            F.col("survivor").alias("id_a"), F.col("doc_id").alias("id_b")
        )
    )
    near_pairs = minhash_lsh_pairs(spark, sf_dir).select("id_a", "id_b")
    pairs = exact_pairs.unionByName(near_pairs).distinct()
    sym = pairs.unionByName(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    ).localCheckpoint()

    labels = docs.select(
        F.col("doc_id").alias("id"), F.col("doc_id").alias("lbl")
    ).localCheckpoint()
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym.id_a == labels.id)
            .groupBy(F.col("id_b").alias("id"))
            .agg(F.min("lbl").alias("mn"))
        )
        labels = (
            labels.join(nbr_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("mn"), F.col("lbl"))
                ).alias("lbl"),
            )
            .localCheckpoint()
        )

    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        labels.join(sizes, "lbl")
        .select(
            F.col("id").alias("doc_id"),
            F.col("lbl").alias("cluster_id"),
            "cluster_size",
        )
        .orderBy("doc_id")
    )


def incremental_near_dups(
    corpus: DataFrame,
    batch: DataFrame,
    num_hashes: int = NUM_HASHES,
    band_size: int = BAND_SIZE,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Ingest-time near-dup screening: candidate pairs between a NEW
    document batch and the existing corpus, plus batch-internal pairs —
    work linear in |batch|, never corpus × corpus.

    The incremental counterpart of ``minhash_lsh_pairs``, mirroring
    ``store.merge_increment``'s delta-edges idea: at 100 TB the corpus
    band index (``band_keys``; partitioned by band_idx, bucketed by
    band_key) is PERSISTED once and each arriving batch computes only
    its own signatures, then probes the stored index with one bucketed
    equi-join. Appending the accepted batch's bands keeps the index
    current — no rescan, no rebuild.

    Inputs are (doc_id, text) frames; ``batch`` doc_ids must be
    disjoint from ``corpus``. Returns one row per candidate pair:
    (batch_id, match_id, n_bands_hit, source) with source ∈
    {'corpus', 'batch'}; batch-internal pairs appear once
    (batch_id < match_id). Default hash_fn is the production xxhash64
    path (no oracle constraint at the ingest boundary).
    """
    cb = band_keys(corpus, num_hashes, band_size, hash_fn)
    bb = band_keys(batch, num_hashes, band_size, hash_fn)
    probe = bb.select(
        F.col("doc_id").alias("batch_id"), "band_idx", "band_key"
    )
    vs_corpus = (
        probe.join(
            cb.select(F.col("doc_id").alias("match_id"), "band_idx", "band_key"),
            ["band_idx", "band_key"],
        )
        .groupBy("batch_id", "match_id")
        .agg(F.count(F.lit(1)).alias("n_bands_hit"))
        .withColumn("source", F.lit("corpus"))
    )
    vs_batch = (
        probe.join(
            bb.select(F.col("doc_id").alias("match_id"), "band_idx", "band_key"),
            ["band_idx", "band_key"],
        )
        .filter(F.col("batch_id") < F.col("match_id"))
        .groupBy("batch_id", "match_id")
        .agg(F.count(F.lit(1)).alias("n_bands_hit"))
        .withColumn("source", F.lit("batch"))
    )
    return vs_corpus.unionByName(vs_batch).orderBy(
        "batch_id", "source", "match_id"
    )


def duplicated_spans(
    spark: SparkSession, sf_dir: str, k: int = 8
) -> DataFrame:
    """Cross-document duplicated-passage profile: for each document, how
    many of its k-token spans also appear verbatim in OTHER documents.

    The exact-substring counterpart of minhash near-dup (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better" — their
    suffix-array ExactSubstr pass, re-expressed as a distributed plan):
    repeated passages are memorization hotspots, and span-level stats
    find partial overlap that whole-document digests miss.

    Plan: tokenize → sliding k-gram spans (codegen'd array ops, no
    Python) → digest each span so the shuffle carries 32-byte keys, not
    k-word strings → collapse to per-(doc, digest) occurrence counts
    (map-side combine absorbs within-doc repeats) → per-digest doc
    count via a window over the collapsed frame → per-doc aggregate.
    ONE pass over the corpus: the earlier formulation consumed the span
    stream three times (distinct-doc count, dup-flag semi-join, per-doc
    total), re-running the explode and md5 per consumer — at corpus
    scale that is three scans where one suffices. A production run
    swaps md5 → xxhash64 (8-byte keys) — md5 is kept for the DuckDB
    oracle. Spans are counted per occurrence (a doc repeating a shared
    span twice has 2 dup spans).
    """
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    spans = docs.select(
        "doc_id", F.explode(gram_array(toks, k)).alias("span")
    ).select("doc_id", F.md5(F.col("span")).alias("digest"))
    occ = spans.groupBy("doc_id", "digest").agg(
        F.count(F.lit(1)).alias("occ")
    )
    # rows of `occ` are one-per-(doc, digest), so the count of rows per
    # digest IS the distinct-doc count — no countDistinct needed
    ndocs = F.count(F.lit(1)).over(Window.partitionBy("digest"))
    return (
        occ.withColumn("ndocs", ndocs)
        .groupBy("doc_id")
        .agg(
            F.sum("occ").cast("long").alias("n_spans"),
            F.sum(
                F.when(F.col("ndocs") > 1, F.col("occ")).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            (
                F.col("n_dup_spans").cast("double")
                / F.col("n_spans").cast("double")
            ).alias("dup_ratio"),
        )
        .orderBy("doc_id")
    )
