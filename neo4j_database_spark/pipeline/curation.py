"""Corpus-curation operators for LLM training-data pipelines.

Beyond dedup/similarity (pipeline/dedup.py, similarity.py), a production
pretraining pipeline needs: benchmark decontamination, PII/denylist
scrubbing, domain-mixture resampling, and lexical relevance ranking.
The reference app has no corpus layer at all (its data surface is the
HP-API JSON, reference get_insert.py:59-65); these are north-star
extensions mandated by BASELINE.json, designed Spark-first:

- Every operator is a declarative DataFrame plan — zero Python UDFs;
  regex/ngram/scoring all run inside whole-stage codegen.
- Global statistics (eval-set shingle dictionaries, document frequencies,
  per-source counts) are tiny relative to the corpus and are broadcast;
  the corpus side is touched exactly once, map-side, per operator.
- Determinism contract: sampling and splits are pure functions of stable
  document ids (md5 buckets, integer threshold arithmetic) so results are
  identical across engines, cluster sizes, and data layouts — required
  for the DuckDB oracles and for reproducible corpus builds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from neo4j_database_spark.catalog import load_table

# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------

EVAL_MOD = 97  # doc_id % EVAL_MOD == 0 marks the held-out eval/benchmark set


def _tokens(col: Column) -> Column:
    return F.filter(F.split(col, r"\s+"), lambda t: t != "")


def decontaminate(
    spark: SparkSession, sf_dir: str, eval_mod: int = EVAL_MOD
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word-3-gram with the held-out eval set.

    The standard pretraining hygiene step (eval answers leaking into the
    training corpus inflate benchmark scores): collect the eval set's
    n-gram dictionary, then mark any training document with an n-gram
    collision. Here the eval set is the deterministic doc_id % 97 == 0
    slice of `documents` (a stand-in for MMLU/GSM8K/… dumps).

    Scale shape: the eval dictionary is tiny versus the corpus (eval
    benchmarks are MBs against 100 TB), so it BROADCASTS and the corpus
    is scanned exactly once, map-side — no corpus-sized shuffle. Train
    shingles join the broadcast dictionary, collisions aggregate on
    doc_id (count shuffle only). For eval sets too big to broadcast the
    same plan degrades gracefully to a shuffle join on the shingle key.
    """
    from neo4j_database_spark.pipeline.dedup import shingles

    docs = load_table(spark, "documents", sf_dir)
    is_eval = (F.col("doc_id") % eval_mod) == 0
    sh = shingles(docs)
    eval_sh = (
        sh.where((F.col("doc_id") % eval_mod) == 0)
        .select("shingle")
        .distinct()
    )
    hits = (
        sh.where((F.col("doc_id") % eval_mod) != 0)
        .join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )
    return (
        docs.where(~is_eval)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared_shingles", F.lit(0))
            .cast("long")
            .alias("n_shared_shingles"),
            (F.coalesce("n_shared_shingles", F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# PII / denylist scrubbing
# ---------------------------------------------------------------------------

# Patterns restricted to syntax shared by Java regex (Spark) and RE2
# (DuckDB): char classes, \d, \b, bounded reps — no lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b"
DENY_RE = r"\bcustomer\b|\bspark\b"  # stand-in sensitive-term denylist


def scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scrubbing: count and redact emails, phone numbers, and
    denylisted terms; emit redaction counts + digest of the clean text.

    All regex work is JVM-side (`regexp_count` / `regexp_replace` inside
    codegen) — at 100 TB this is a pure map stage with no shuffle at all
    (the orderBy exists only for the deterministic oracle; production
    writes partition-local). The digest lets downstream exact-dedup run
    on scrubbed content without re-materializing text.
    """
    docs = load_table(spark, "documents", sf_dir)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), EMAIL_RE, "<EMAIL>"),
            PHONE_RE,
            "<PHONE>",
        ),
        DENY_RE,
        "<TERM>",
    )
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(EMAIL_RE))
        .cast("int")
        .alias("n_email"),
        F.regexp_count(F.col("text"), F.lit(PHONE_RE))
        .cast("int")
        .alias("n_phone"),
        F.regexp_count(F.col("text"), F.lit(DENY_RE))
        .cast("int")
        .alias("n_denied"),
        F.md5(redacted).alias("redacted_digest"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# domain-mixture resampling
# ---------------------------------------------------------------------------

_HEX_SCALE = 16**5  # md5 5-hex-digit bucket space: [0, 1048576)


def _md5_bucket5(id_col: Column) -> Column:
    """First 5 hex digits of md5(id) as an integer in [0, 16^5)."""
    return F.conv(
        F.substring(F.md5(id_col.cast("string")), 1, 5), 16, 10
    ).cast("long")


def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling: deterministically downsample every
    source to the size of the smallest source (uniform target mixture).

    Corpus mixing ("weight Wikipedia up, Common Crawl down") needs
    per-domain sampling that is (a) exact — integer threshold arithmetic,
    not float rates; (b) stable — a document's keep/drop decision is a
    pure function of its id, unchanged when the corpus grows; (c) cheap —
    per-source counts are a tiny aggregate broadcast back, the corpus is
    scanned once map-side. keep(doc) ⇔ md5_bucket(doc_id) < min_n·16⁵//n_src,
    giving E[kept] = min_n per source without any global sort/shuffle of
    the corpus itself.
    """
    docs = load_table(spark, "documents", sf_dir)
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_orig"))
    min_n = counts.agg(F.min("n_orig").alias("min_n"))
    # `div` = exact integer division (float `/`-then-truncate can be off
    # by one at representability boundaries; DuckDB's `//` is integer too)
    thresholds = counts.crossJoin(F.broadcast(min_n)).select(
        "source",
        "n_orig",
        F.expr(f"(min_n * {_HEX_SCALE}L) div n_orig").alias("keep_below"),
    )
    kept = (
        docs.join(F.broadcast(thresholds), "source")
        .where(_md5_bucket5(F.col("doc_id")) < F.col("keep_below"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").cast("long").alias("kept_chars"),
        )
    )
    return (
        thresholds.select("source", "n_orig")
        .join(kept, "source", "left")
        .select(
            "source",
            F.col("n_orig").cast("long").alias("n_orig"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("kept_chars", F.lit(0)).cast("long").alias("kept_chars"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# BM25 lexical ranking
# ---------------------------------------------------------------------------

BM25_TERMS = ("spark", "merge", "window")
_K1 = 1.2
_B = 0.75
_K1P1 = _K1 + 1.0


def bm25_scores(
    spark: SparkSession,
    sf_dir: str,
    terms: tuple[str, ...] = BM25_TERMS,
    k: int = 10,
) -> DataFrame:
    """BM25 top-k document ranking for a bag of query terms.

    Lexical relevance scoring — the retrieval half of corpus curation
    (quality-targeted selection, RAG pre-filtering). Classic BM25 with a
    *rational* idf, (N − df + ½)/(df + ½), instead of its log: log is the
    one libm call whose low bits differ across engines, and the rational
    form is a strictly monotone transform of it (same ranking), keeping
    every operation inside IEEE-exact +,−,×,÷ so Spark and DuckDB agree
    bit-for-bit. Per-term contributions accumulate through DECIMAL(20,9)
    (order-independent sum), emitted as DOUBLE.

    Scale shape: corpus statistics (N, Σdl, per-term df) are ONE tiny
    aggregate row broadcast back; per-document tf/dl are computed map-side
    from the token array; the only corpus-wide movement is the final
    TakeOrderedAndProject top-k (no global sort).
    """
    docs = load_table(spark, "documents", sf_dir)
    toks = _tokens(F.col("text"))

    # NB: a two-arg lambda would be interpreted by F.filter as
    # (element, index) — bind the term via a closure factory instead
    def _tf(term: str):
        return F.size(F.filter(toks, lambda t: t == F.lit(term)))

    tf_cols = [
        _tf(term).alias(f"tf_{i}") for i, term in enumerate(terms)
    ]
    base = docs.select("doc_id", F.size(toks).alias("dl"), *tf_cols)

    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("int")).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )

    nd = F.col("n_docs").cast("double")
    avgdl = F.col("sum_dl").cast("double") / nd
    dl = F.col("dl").cast("double")
    denom_base = F.lit(_K1) * (
        F.lit(1.0) - F.lit(_B) + (F.lit(_B) * dl) / avgdl
    )

    contribs = []
    for i in range(len(terms)):
        dfd = F.col(f"df_{i}").cast("double")
        idf = (nd - dfd + F.lit(0.5)) / (dfd + F.lit(0.5))
        tfd = F.col(f"tf_{i}").cast("double")
        contrib = (idf * (tfd * F.lit(_K1P1))) / (tfd + denom_base)
        contribs.append(contrib.cast("decimal(20,9)"))
    score_dec = contribs[0]
    for c in contribs[1:]:
        score_dec = score_dec + c

    return (
        base.crossJoin(F.broadcast(stats))
        .select(
            "doc_id", score_dec.cast("decimal(38,9)").cast("double").alias("bm25")
        )
        .where(F.col("bm25") > 0)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# approximate-distinct sketch (rows-only: sketch estimates are
# engine-specific by design)
# ---------------------------------------------------------------------------


def approx_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type approximate distinct users (HyperLogLog++) next to
    the exact count.

    At 100 TB, COUNT(DISTINCT) is the classic scalability cliff — it
    shuffles every distinct key. HLL++ sketches are fixed-size (~1.5 KB
    at 2% rsd), merge associatively in partial aggregation, and never
    shuffle raw keys. The exact column exists here to audit the error;
    production drops it. Rows-only driver check: sketch estimates are
    engine-implementation-specific, so no cross-engine oracle exists by
    construction (the companion pytest asserts relative error < 5%).
    """
    events = load_table(spark, "events", sf_dir)
    return (
        events.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .orderBy("event_type")
    )


def approx_users_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable audit twin of :func:`approx_user_counts`: the
    sketch ESTIMATE is engine-specific (rows-only by construction), but
    the estimate's accuracy contract is not — this query emits the exact
    distinct count plus a ``within_5pct`` boolean the DuckDB oracle pins
    to TRUE, so the driver hash verifies both the exact side and that
    Spark's HLL++ estimate (rsd 2%) stayed inside the audit band. A
    drifting sketch implementation fails the row instead of hiding
    behind a rows-only check."""
    events = load_table(spark, "events", sf_dir)
    return (
        events.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("est"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("est") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("within_5pct"),
        )
        .orderBy("event_type")
    )


def value_quantiles_audit(
    spark: SparkSession, sf_dir: str, b: int = 1024
) -> DataFrame:
    """Oracle-checkable audit of the mergeable quantile summary
    (operators/sketch.py::quantile_summary): the summary's POINTS depend
    on partitioning (rows-only by construction), but its rank-error
    guarantee does not — any estimate it returns for quantile q has true
    rank within n/b of ceil(q·n) under ANY partitioning (worst-case
    bound, not probabilistic). The query runs the real sketch over
    ``events.value``, then checks each estimate's exact rank interval
    against the bound and emits (q, n, exact_q, within_bound) — exact_q
    is the true discrete quantile (pure exact math, identical in DuckDB)
    and within_bound is pinned TRUE by the oracle, so a sketch bug fails
    the driver hash instead of hiding behind a rows-only check.

    The exact side needs global ranks — a cumulative window over the
    value distribution — which is audit-only cost: production callers
    use quantile_estimates alone (bounded summary, no full-data sort).

    Eager construction: the exact distribution and the sketch targets
    are localCheckpoint'ed, so BUILDING this DataFrame runs Spark jobs
    (the events scan, the window and the sketch) before any action.
    """
    from pyspark.sql import Window

    from neo4j_database_spark.operators.sketch import (
        quantile_estimates,
        quantile_summary,
    )

    qs = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    vals = load_table(spark, "events", sf_dir).select("value").filter(
        F.col("value").isNotNull()
    )
    est = quantile_estimates(quantile_summary(vals, "value", b=b), qs)

    # exact value distribution with cumulative counts: rank interval of
    # any value v is (cum_below(v), cum(v)].
    # dist and targets are each referenced THREE times below (exact_q /
    # rank_hi / rank_lo); without the localCheckpoints the full
    # scan+window (dist) and the whole sketch pipeline (inside targets)
    # are duplicated subtrees executed 3x in one plan — ~40 static
    # exchanges pre-r10. Checkpointing runs each once (r10, guide §1.2;
    # NOTE: this makes query construction eager — the audit scans the
    # data when the DataFrame is BUILT, like minhash_lsh_pairs).
    w = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dist = (
        vals.groupBy("value")
        .agg(F.count(F.lit(1)).alias("c"))
        .select("value", F.sum("c").over(w).alias("cum"))
    ).localCheckpoint()
    total = dist.agg(F.max("cum").alias("n"))
    targets = est.crossJoin(F.broadcast(total)).select(
        "q",
        "est_value",
        "n",
        F.ceil(F.col("q") * F.col("n")).cast("long").alias("target"),
    ).localCheckpoint()
    # exact_q: smallest value whose cumulative count reaches the target
    exact_q = (
        F.broadcast(targets.select("q", "target", "n"))
        .join(dist, dist.cum >= F.col("target"))
        .groupBy("q")
        .agg(F.min("value").alias("exact_q"))
    )
    # rank interval of the sketch estimate
    est_rank = (
        F.broadcast(targets)
        .join(dist, dist.value == targets.est_value)
        .select("q", "n", "target", F.col("cum").alias("rank_hi"))
    )
    rank_lo = (
        F.broadcast(targets)
        .join(dist, dist.value < targets.est_value, "left")
        .groupBy("q")
        .agg(F.max(F.coalesce(F.col("cum"), F.lit(0))).alias("rank_lo"))
    )
    err = F.floor(F.col("n") / F.lit(b))
    return (
        est_rank.join(rank_lo, "q")
        .join(exact_q, "q")
        .select(
            "q",
            "n",
            "exact_q",
            (
                (F.col("rank_lo") + 1 <= F.col("target") + err)
                & (F.col("rank_hi") >= F.col("target") - err)
            ).alias("within_bound"),
        )
        .orderBy("q")
    )


def doc_len_quantiles_audit(
    spark: SparkSession, sf_dir: str, b: int = 256
) -> DataFrame:
    """Grouped-quantile audit: document-length (n_chars) quantiles per
    language via the grouped mergeable summary
    (operators/sketch.py::grouped_quantile_summary) — the distribution
    profile a corpus-balancing pipeline computes per (source, lang)
    slice at 100 TB. Same contract as value_quantiles_audit, per group:
    exact_q is the true per-group discrete quantile (pure exact math,
    identical in DuckDB), within_bound checks the estimate's exact
    within-group rank against the worst-case n_g/b bound and is pinned
    TRUE by the oracle.

    Eager construction: as in value_quantiles_audit, BUILDING this
    DataFrame runs Spark jobs (the documents scan, the per-language
    window and the grouped sketch) before any action.
    """
    from pyspark.sql import Window

    from neo4j_database_spark.operators.sketch import (
        grouped_quantile_estimates,
        grouped_quantile_summary,
    )

    qs = [0.1, 0.5, 0.9]
    docs = load_table(spark, "documents", sf_dir).select(
        "lang", F.col("n_chars").cast("double").alias("len")
    )
    est = grouped_quantile_estimates(
        grouped_quantile_summary(docs, ["lang"], "len", b=b), ["lang"], qs
    )

    # dist / targets are each referenced three times below — same
    # duplicated-subtree fix as value_quantiles_audit (r10, guide §1.2;
    # construction is eager from here on).
    w = (
        Window.partitionBy("lang")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dist = (
        docs.groupBy("lang", F.col("len").alias("value"))
        .agg(F.count(F.lit(1)).alias("c"))
        .select("lang", "value", F.sum("c").over(w).alias("cum"))
    ).localCheckpoint()
    targets = est.select(
        "lang",
        "q",
        "n",
        "est_value",
        F.ceil(F.col("q") * F.col("n")).cast("long").alias("target"),
    ).localCheckpoint()
    exact_q = (
        targets.join(dist, "lang")
        .filter(F.col("cum") >= F.col("target"))
        .groupBy("lang", "q")
        .agg(F.min("value").alias("exact_q"))
    )
    rank_hi = targets.join(
        dist,
        (targets.lang == dist.lang) & (dist.value == targets.est_value),
    ).select(targets.lang, "q", "n", "target", F.col("cum").alias("rank_hi"))
    rank_lo = (
        targets.join(
            dist,
            (targets.lang == dist.lang) & (dist.value < targets.est_value),
            "left",
        )
        .groupBy(targets.lang, "q")
        .agg(F.max(F.coalesce(F.col("cum"), F.lit(0))).alias("rank_lo"))
    )
    err = F.floor(F.col("n") / F.lit(b))
    return (
        rank_hi.join(rank_lo, ["lang", "q"])
        .join(exact_q, ["lang", "q"])
        .select(
            "lang",
            "q",
            "n",
            "exact_q",
            (
                (F.col("rank_lo") + 1 <= F.col("target") + err)
                & (F.col("rank_hi") >= F.col("target") - err)
            ).alias("within_bound"),
        )
        .orderBy("lang", "q")
    )


def decontaminate_fuzzy(
    spark: SparkSession, sf_dir: str, eval_mod: int = 25
) -> DataFrame:
    """MinHash-LSH decontamination: flag corpus documents that are
    NEAR-duplicates of benchmark/eval documents — the fuzzy counterpart
    of ``decontaminate`` (exact n-gram collisions), catching
    reformatted/partially-edited eval leakage that exact n-grams miss.

    The eval set (here: doc_id ≡ 0 mod ``eval_mod``, standing in for a
    benchmark suite) is banded with the same MinHash pipeline as the
    corpus (pipeline/dedup.py::band_keys) and its band index is
    BROADCAST — eval suites are a few thousand documents against a
    corpus of billions, so the corpus-side scan never shuffles: each
    corpus partition probes the in-memory eval index map-side. Output
    is one row per contaminated corpus doc with the collision count and
    the smallest colliding eval id for triage.
    """
    from neo4j_database_spark.pipeline.dedup import band_keys

    docs = load_table(spark, "documents", sf_dir)
    is_eval = F.col("doc_id") % eval_mod == 0
    eval_bands = band_keys(docs.filter(is_eval)).select(
        "band_idx", "band_key", F.col("doc_id").alias("eval_id")
    )
    corpus_bands = band_keys(docs.filter(~is_eval))
    return (
        corpus_bands.join(
            F.broadcast(eval_bands), ["band_idx", "band_key"]
        )
        .groupBy("doc_id")
        .agg(
            F.countDistinct("eval_id").cast("long").alias("n_eval_hits"),
            F.min("eval_id").alias("first_eval_id"),
        )
        .orderBy("doc_id")
    )


def training_shuffle(
    spark: SparkSession, sf_dir: str, n_shards: int = 16
) -> DataFrame:
    """Global deterministic shuffle into training shards — the "shuffle
    the corpus before the dataloader sees it" step every pretraining run
    needs, without a global sort.

    Each document's (shard, position) is a pure function of its id:
    shard = md5-bucket mod n_shards, position = rank of the md5 hex
    digest within the shard. Properties that matter at 100 TB:

    - the only shuffle is the per-shard rank (disjoint partitions,
      n_shards-way parallel window, no global total order);
    - reproducible: re-running yields byte-identical shard files, and
      any engine with md5 agrees (oracle-checkable);
    - well-mixed: md5 ordering decorrelates adjacent source documents,
      which is the entire point of the pre-training shuffle;
    - a different epoch seed is one string concat away
      (md5(id || epoch)).

    Returns (doc_id, shard, pos) — in production the frame is written
    ``partitionBy(shard)`` with ``sortWithinPartitions(pos)``.
    """
    docs = load_table(spark, "documents", sf_dir)
    digest = F.md5(F.col("doc_id").cast("string"))
    shard = F.pmod(_md5_bucket5(F.col("doc_id")), F.lit(n_shards)).cast("int")
    w = Window.partitionBy("shard").orderBy("digest", "doc_id")
    return (
        docs.select(
            "doc_id", shard.alias("shard"), digest.alias("digest")
        )
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "pos")
        .orderBy("shard", "pos")
    )


def _doc_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, doc_id, n_chars, q): the shared deterministic priority
    frame for priority_sample AND priority_sample_estimate — the hash
    recipe is the contract both queries and both oracles must agree on,
    so it lives in exactly one place. q = w/u with u = (h+1)/2^32, h =
    first 8 md5 hex digits; u in (0,1] (+1 keeps u>0, h+1 ≤ 2^32 is
    exact in double), and the parenthesization (w / ((h+1) / 2^32)) is
    mirrored by the oracle SQL so both engines perform the same two
    correctly-rounded divisions."""
    docs = load_table(spark, "documents", sf_dir).select(
        "lang", "doc_id", "n_chars"
    )
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    u = (h + F.lit(1)).cast("double") / F.lit(4294967296.0)
    return docs.withColumn("q", F.col("n_chars").cast("double") / u)


def priority_sample(
    spark: SparkSession, sf_dir: str, k: int = 8
) -> DataFrame:
    """Weighted sampling without replacement, per language: priority
    sampling (Duffield–Lund–Thorup). Each document gets priority
    q = w / u with weight w = n_chars and u = (h+1)/2^32, h the first
    8 hex digits of md5(doc_id); the k highest-priority documents per
    language are the sample (inclusion probability min(1, w/τ) for the
    (k+1)-st priority τ — the length-weighted draw a corpus balancer
    wants, with an unbiased subset-sum estimator).

    Why priorities and not the classic A-ES key u^(1/w): pow() is not
    correctly rounded, so the JVM and the oracle's libm can disagree by
    1 ulp and flip near-ties — irreproducible samples. q = w/u is one
    exact int→double conversion and two correctly-rounded divisions,
    computed bit-identically by every IEEE-754 engine, so the sample is
    a pure function of the data on ANY engine.

    Scale shape: the priority is map-side arithmetic; the per-language
    top-k runs through operators/topk.py::grouped_topk, so the shuffle
    carries ≤ k·partitions rows per language instead of the corpus.
    """
    from neo4j_database_spark.operators.topk import grouped_topk

    pri = _doc_priorities(spark, sf_dir)
    return grouped_topk(
        pri, ["lang"], "q", k=k, tie_cols=["doc_id"]
    ).orderBy("lang", "rnk")


def priority_sample_estimate(
    spark: SparkSession, sf_dir: str, k: int = 8
) -> DataFrame:
    """The point of priority sampling: an unbiased subset-sum estimator
    from k rows per group. With τ = the (k+1)-st priority, each sampled
    row contributes max(w, τ); E[est] = Σw exactly (Duffield–Lund–
    Thorup). Emits per language the exact total (for the audit), the
    estimate, and the relative error — the corpus balancer can now
    budget per-language token mass from a k-row sample instead of a
    full scan.

    Determinism: the sample is a pure function of the data (see
    priority_sample), τ is a window rank over the same priorities, and
    the estimator is sums/maxes of already-exact doubles — so even the
    \"estimate\" column is oracle-exact.
    """
    from neo4j_database_spark.operators.topk import grouped_topk

    pri = _doc_priorities(spark, sf_dir)
    docs = pri.select("lang", "doc_id", "n_chars")
    # top-(k+1): rows 1..k are the sample, row k+1's priority is τ
    # (groups with ≤ k rows have no τ → their estimate is the exact sum)
    topk1 = grouped_topk(pri, ["lang"], "q", k=k + 1, tie_cols=["doc_id"])
    tau = (
        topk1.filter(F.col("rnk") == k + 1)
        .select("lang", F.col("q").alias("tau"))
    )
    sample = topk1.filter(F.col("rnk") <= k)
    # per-row contribution max(w, τ) rounded to integer chars BEFORE the
    # sum: a float sum of k doubles is accumulation-order-dependent
    # across engines, a long sum is exact and order-free (round() on the
    # identical double agrees between Spark and DuckDB — the same recipe
    # as the money _cents and centroid nano-unit paths)
    contrib = F.round(
        F.greatest(
            F.col("n_chars").cast("double"),
            F.coalesce(F.col("tau"), F.lit(0.0)),
        )
    ).cast("long")
    est = (
        sample.join(F.broadcast(tau), "lang", "left")
        .groupBy("lang")
        .agg(
            F.sum(contrib).alias("est_chars"),
            F.count(F.lit(1)).alias("sample_n"),
        )
    )
    exact = docs.groupBy("lang").agg(
        F.sum("n_chars").cast("long").alias("exact_chars")
    )
    return (
        est.join(exact, "lang")
        .select(
            "lang",
            "sample_n",
            "est_chars",
            "exact_chars",
            # est and exact are exact longs < 2^53 → exact doubles; one
            # subtraction + one division, correctly rounded identically
            (
                F.abs(
                    F.col("est_chars").cast("double")
                    - F.col("exact_chars").cast("double")
                )
                / F.col("exact_chars").cast("double")
            ).alias("rel_err"),
        )
        .orderBy("lang")
    )
