"""Entity resolution: exact edit-distance similarity self-join.

The fuzzy-matching primitive behind dedupe/record-linkage pipelines:
find all pairs of strings within Levenshtein distance ``max_dist``
WITHOUT the quadratic all-pairs scan.

Three candidate-generation strategies, routed by ``max_dist`` and
(for d = 2) key length:

- ``max_dist == 1`` (the overwhelmingly common ER setting): the
  DELETION-NEIGHBORHOOD join (FastSS, Bocek et al. 2007; the SymSpell
  family). Each string emits itself plus its length single-deletion
  variants; ed(a,b) <= 1 implies the variant sets intersect
  (substitution at i -> both del_i variants equal; indel -> the longer
  string's deletion equals the shorter's identity), so an equi-join on
  variants is a complete candidate generator with NO length boundary —
  exact for arbitrarily short strings. Candidate volume is
  near-duplicate-group-sized rather than gram-bucket-sized: on the
  padded customer keys at sf0.1 this is 1.46M candidates vs the gram
  prefix filter's 11.1M, and the measured r06 profile showed the
  banded-levenshtein VERIFICATION (2.6 us/pair) was ~90% of the old
  25.8 s runtime — cutting candidates 7.6x cut the query to 2.4 s.

- ``max_dist == 2`` on SHORT keys (max length <= DELETION_LEN_CEILING,
  the r09 route; VERDICT r08 item 3): the d = 2 deletion-neighborhood
  join. ed(a, b) = k implies a common subsequence reachable by <= k
  deletions from EACH side (an alignment's untouched characters: a
  loses its substituted + deleted positions, b its substituted +
  inserted ones, each <= k), so an equi-join on the <= 2-deletion
  variant sets is complete — again with NO length boundary. Each
  string emits 1 + L + C(L, 2) variants (hashed to 8-byte keys; hash
  collisions only ADD candidates, verification removes them), which is
  O(L^2) per string — hence the length ceiling — but bucket sizes are
  near-duplicate-group-sized, NOT gram-bucket-sized: this is the
  generator that beats the templated-corpus verification floor the r08
  bag filter could only approach (the gram path's measured ~1.1B
  inherently bag-close candidates on the 16x suffix-salted replica
  cell). Template mates whose distinguishing regions differ in >= 3
  positions share NO variant — including ANAGRAM salts (same char
  bag, the bag filter's documented residual exposure): "aaabbb" vs
  "bbbaaa" have no common 4-char subsequence in order, so the
  candidate set is output-shaped, not template-group-shaped.

- ``max_dist >= 2`` otherwise (long keys, or d >= 3 where deletion
  neighborhoods grow O(len^d)): Ed-Join / prefix filtering (Xiao et
  al., VLDB'08; same family as PPJoin):

1. q-gram multiset per string (an edit destroys ≤ q grams; an indel
   shifts positions but not gram *contents*, so the multiset changes by
   ≤ q·d grams for distance d);
2. global total order on grams by ascending document frequency
   (rare-first, ties broken lexically) — both engines sort identically,
   making the plan oracle-exact;
3. PREFIX: the first q·d+1 grams of each string under that order. Two
   strings within distance d MUST share a prefix gram (pigeonhole on
   the ≤ q·d destroyed grams per side) — no recall loss;
4. equi-join on prefix grams → candidate pairs (rare grams ⇒ small
   buckets), length filter, then exact levenshtein verification.

Scale design: every step is an equi-join / aggregation — no cross
join anywhere. The gram-frequency frame is gram-domain-sized (tiny vs
the corpus) and broadcasts; the candidate join hashes on rare grams by
construction, which is exactly what bounds bucket skew. Verification
cost is |candidates|, the quantity prefix filtering minimizes.

The gram route always uses q = 3, so its completeness boundary is
3·(max_dist+1) characters.

Routing is the operator's own business: callers pass only
``max_dist``. Every call first runs ONE narrow profile aggregate over
the (id, s) projection — max length and row count — and its exact
figures feed every decision: the d = 2 length route and its mid-tier
templated trigger, the deletion route's partition multiplier
(_deletion_parts_mult) and the string re-attach broadcast gate (row
count vs BROADCAST_KEY_ROWS, see _verify). No decision reads optimizer
statistics. Construction is therefore EAGER: every route runs that one
Spark job when the plan is built (the mid-length d = 2 tier and the
gram route add the templated trigger, at most once per call); the
returned frame is lazy from there on. Tests force a route by setting
the module constants, which are read at call time.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import shuffle_partitions

# --- character-bag signature (templated-corpus mitigation, r08) -----------
#
# VERDICT r07 item 3 / SCALE_PROBE.md "Ed-Join d=2 replica cells": on a
# low-gram-diversity (templated) corpus, every string's rarest q·d+1
# blocking grams are shared with all its template-mates, so the
# candidate set grows with corpus self-similarity (16× replicas →
# ~30× runtime) even though none of the extra pairs verifies. The
# mismatch those pairs DO exhibit is in character CONTENT (the
# distinguishing region — a salt, an id, a version stamp), which gram
# prefixes never look at but a character histogram sees immediately.
#
# BAG-DISTANCE FILTER (exact, no recall loss): one edit changes a
# string's character multiset by at most 2 in L1 (substitution: −1 old
# +1 new; indel: ±1), so ed(a,b) ≤ d  ⇒  L1(hist(a), hist(b)) ≤ 2d
# (the classic "bag distance" lower bound, Bartolini et al. 2002).
# The histogram is coarsened two ways, each of which only SHRINKS the
# L1 (merging or dropping classes can only cancel differences), so the
# bound — and exactness — survives coarsening:
#   * 16 classes via _bag_class_chars (10 digit, 5 letter, 1 other;
#     collisions within a class = class merging);
#   * 4-bit saturating counts (|min(a,15)−min(b,15)| ≤ |a−b|).
# The 16 nibbles pack into ONE BIGINT carried on the narrow candidate
# frame, and the pair check is 16 unrolled shift/mask/abs terms —
# whole-stage-codegen arithmetic applied in the SAME stage as the
# candidate equi-join, so template-mate candidates die before the
# pre-verification dedup shuffle, the string re-attach joins, and the
# banded levenshtein ever see them. Measured on the 16× suffix-salted
# replica cell: see SCALE_PROBE.md r08.

_BAG_CLASSES = 16
_BAG_SAT = 15  # 4-bit saturating per-class count


def _bag_class_chars(c: int) -> str:
    """Characters in histogram class ``c``: each digit gets its OWN
    class (0-9), letters (case-folded) spread over classes 10-14, all
    other printable ASCII in 15.

    The map was tuned on x16-replica-cell measurements. (1) codepoint
    % 16 put 'a' and '1' in one class — digit noise between different
    records then cancels the letter differences between template
    salts: 1.10B of 5.59B candidates survived. (2) Letter/digit-
    DISJOINT classes fix that: the letter channels alone kill the
    cross-salt mass. (3) Digit RESOLUTION is then the knob that
    decides the verify bill, and verify is the dominant cost:
    Spark's threshold-levenshtein measures ~1.9 µs/pair CPU, so every
    surviving candidate costs ~20× more to verify than to filter
    (16 unrolled terms ≈ 230 ns/pair wall at 5.6B candidates). A
    digits-in-one-class variant kept 3.67B survivors (~360 s of
    verify at 16×); per-digit classes keep ~1.1B — the corpus's
    inherent bag-close same-template mass — for ~8 extra filter
    terms. Letters keep 5 classes: enough for the template-salt /
    boilerplate-diff signal, and class merging is always EXACT (it
    only shrinks the L1).
    """
    out = []
    for cp in range(32, 127):
        ch = chr(cp)
        if ch.isdigit():
            cls = ord(ch) - ord("0")
        elif ch.isalpha():
            cls = 10 + (ord(ch.lower()) - ord("a")) % 5
        else:
            cls = 15
        if cls == c:
            out.append(ch)
    return "".join(out)


def _bag_signature(s: Column) -> Column:
    """Pack a 16-class saturating char histogram of ``s`` into a long.

    Class c counts its ``_bag_class_chars`` occurrences via
    length-after-translate (JVM codegen, no UDF). Non-ASCII chars fall
    outside every class — equivalent to merging them into an invisible
    17th class, which keeps the bag bound valid (see module comment).
    """
    terms = []
    for c in range(_BAG_CLASSES):
        chars = _bag_class_chars(c)
        if not chars:
            continue
        cnt = F.least(
            F.lit(_BAG_SAT),
            F.length(s) - F.length(F.translate(s, chars, "")),
        )
        terms.append(F.shiftleft(cnt.cast("long"), 4 * c))
    return reduce(lambda x, y: x + y, terms)


def _bag_l1(sig_a: Column, sig_b: Column) -> Column:
    """L1 distance between two packed bag signatures: 16 unrolled
    shift/mask/abs terms, a LINEAR expression tree referencing each
    signature 16 times (~230 ns/pair wall on the 16× replica cell's
    5.6B candidates — worth it, because each pruned survivor saves a
    ~1.9 µs threshold-levenshtein; see _bag_class_chars).

    A SWAR nibble-arithmetic variant (~26 ops) was tried and REVERTED:
    PySpark Column expressions are trees, not DAGs — every reuse of an
    intermediate (t, absd, the shift-add accumulator) pastes a copy of
    its whole subtree, so the "26-op" formula expanded to a
    many-thousand-node expression that codegen re-evaluated per pair:
    the x1 replica cell regressed 17.6 s → 258 s. Materializing the
    intermediates as projected columns doesn't survive Catalyst either
    (CollapseProject re-inlines aliases). Keep expression trees
    LINEAR in the hot path.
    """
    terms = [
        F.abs(
            (F.shiftright(sig_a, 4 * c).bitwiseAND(F.lit(15)))
            - (F.shiftright(sig_b, 4 * c).bitwiseAND(F.lit(15)))
        )
        for c in range(_BAG_CLASSES)
    ]
    return reduce(lambda x, y: x + y, terms)


# Average 3-gram document frequency above which _templated_trigger
# fires. Diverse corpora (sf0.01 customer: avg df 24) stay below it;
# the 16× templated replica cell (avg df 4730) and even its 1× cell
# (avg df 308) exceed it.
TEMPLATED_DF_CEILING = 64

# max_dist=2 routes by the profiled max key length in two tiers. The
# deletion side emits 1 + L + C(L, 2) variant keys per string (L=24:
# 301; L=64: 2,146) while the gram side emits 3·d+1 (7 at d = 2), so the
# variant frame grows quadratically with L — but the two corpus
# classes cross at different lengths (measured r09 with a route probe
# whose last copy is in commit 5850eb7: 20k strings + 5% near-dups,
# deletion vs gram warm best-of-3; full table in SCALE_PROBE.md r09):
#   * DIVERSE corpora (gram blocking at its best — 1,000 true pairs,
#     small gram buckets): L=16 2.5 vs 5.9 s, L=24 5.9 vs 6.8 s,
#     L=32 11.1 vs 6.6 s, L=48 34.0 vs 4.5 s — deletion's last win is
#     L=24; the plain ceiling sits there.
#   * TEMPLATED corpora (the _templated_trigger class — 6.5M true
#     pairs behind one shared template): deletion wins at EVERY
#     probed length, L=16 8.8 vs 27.7 s through L=64 81.1 vs 204.8 s
#     (2.5-3.8x), because gram candidates grow with corpus
#     self-similarity while deletion buckets stay output-shaped. When
#     the trigger fires the route tolerates the larger variant frame
#     up to the templated ceiling (the margin is still 2.5x there;
#     past it the O(L^2) variant frame eventually loses even on
#     templated corpora) before falling back to gram + bag + salt.
DELETION_LEN_CEILING = 24
DELETION_TEMPLATED_LEN_CEILING = 64
# Row-count ceiling for broadcasting the narrow (id, s) projection to
# the string re-attach joins, compared with the profile aggregate's
# exact count (~5M keys × a few dozen bytes ≈ 160 MB). Above it —
# billion-key corpora on a cluster — the re-attach shuffles (_verify).
BROADCAST_KEY_ROWS = 5_000_000


def _templated_trigger(base: DataFrame) -> bool:
    """True when the corpus looks templated / low-gram-diversity: the
    average 3-gram document frequency exceeds TEMPLATED_DF_CEILING (on
    a diverse corpus distinct grams grow with the corpus and avg df
    stays small; on a templated one the gram vocabulary saturates while
    occurrences keep growing). One narrow (count, approx distinct)
    aggregate over the gram stream. Gates the mid-length d = 2 deletion
    tier and the gram route's candidate-join salt (ADVICE r08:
    unconditional salting taxed diverse corpora with a 16x build-side
    replication they never need)."""
    row = (
        base.filter(F.length("s") >= 3)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(s) - 2),"
                    " i -> substring(s, i, 3))"
                )
            ).alias("gram")
        )
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.approx_count_distinct("gram").alias("distinct"),
        )
        .first()
    )
    if not row["total"] or not row["distinct"]:
        return False
    return row["total"] / row["distinct"] > TEMPLATED_DF_CEILING


def edit_distance_pairs(
    df: DataFrame, id_col: str, s_col: str, max_dist: int = 1
) -> DataFrame:
    """All (id_a < id_b) pairs with levenshtein(s_a, s_b) <= max_dist.

    Routing needs nothing from the caller. One profile aggregate over
    the (id, s) projection (max length and row count — a Spark job at
    construction time, see the module docstring) feeds every
    decision: max_dist == 1 takes the d = 1 deletion join; max_dist ==
    2 takes the d = 2 deletion join when the longest key is <=
    DELETION_LEN_CEILING (the diverse-corpus crossover), or <=
    DELETION_TEMPLATED_LEN_CEILING when the templated-corpus trigger
    also fires (gram candidates grow with corpus self-similarity
    there, so the larger variant frame still wins); everything else
    takes the gram route. The same figures size the deletion join
    (_deletion_parts_mult) and gate the string re-attach broadcast
    (_verify).

    Completeness: BOTH deletion routes are exact for ALL string
    lengths — no boundary (see module docstring; pinned by
    test_edit_distance_pairs_short_string_contract). Only the gram
    route has the standard Ed-Join boundary: with q = 3, a pair is
    guaranteed found only when both strings have ≥ 3·(max_dist+1)
    characters — below that, all n−2 grams can be destroyed by
    max_dist edits and no shared prefix gram is forced (strings
    shorter than 3 produce no grams at all). Gram-route callers with
    very short keys should pad or brute-force the short stratum
    separately.

    Shared plan shape (r06 rewrite): the candidate stream is never
    shuffled between generation and verification. Profiling showed the
    old pre-verification ``distinct`` removed only ~10% of candidates
    for 9 s of shuffle, and the two string re-attach joins shuffled the
    candidate set twice more. Now: candidate equi-join → length filter
    → two BROADCAST joins re-attach strings map-side (the (id, s)
    projection is key-universe-sized; gated by BROADCAST_KEY_ROWS on
    the exact row count — above it, e.g. billion-key corpora on a
    cluster, the plan falls back to shuffle joins and re-instates the
    narrow pre-verification dedup, which IS worth it when the
    candidate set must shuffle anyway) → banded levenshtein map-side →
    dedup the matches. CAVEAT (ADVICE r06): on duplicate-heavy corpora
    the broadcast path verifies each of an m-duplicate group's m²/2
    pairs once per shared variant (L+1 times for length-L strings at
    d=1); exact-dedup such a corpus first.

    Templated-corpus mitigation (gram route; measured r07→r08,
    SCALE_PROBE.md d=2 replica cells): gram blocking quality depends
    on gram DIVERSITY — on a corpus whose strings share a template
    (boilerplate web text, generated keys), each string's rarest
    3·max_dist+1 grams collide with every template-mate, so the
    candidate set grows with corpus self-similarity even though the
    extra candidates all fail verification (16× replicas: output
    exactly 16×, runtime ~30× before the mitigation). Two
    defenses, both exact:

    * the bag-distance filter (always on; see ``_bag_signature``)
      prunes, inside the candidate-join codegen stage, every candidate
      whose character histograms differ by more than 2·max_dist in L1
      — which is precisely what template-mates' distinguishing regions
      (salts, ids, version stamps) do;
    * the candidate join salts its hot buckets CANDIDATE_SALT ways only
      when _templated_trigger detects low gram diversity (ADVICE r08:
      unconditional salting taxed diverse corpora with a build-side
      replication they never need); the trigger aggregate runs at
      most once per call.

    Deletion routes are immune to the blowup — variants contain the
    distinguishing region verbatim, and even ANAGRAM salts (the bag
    filter's residual exposure: same char bag, >= 3 positions changed)
    share no variant — so they skip both (their bucket sizes are
    near-duplicate-group-sized by construction). The gram route's
    residual d >= 2 exposure is only LONG templated keys whose
    distinguishing regions are anagrams; for those, strip the template
    before blocking or pre-partition by the template key. Measured on
    the 16× suffix-salted replica cell (SCALE_PROBE.md r08/r09): r07's
    ~30× runtime growth fell to ~14× with the r08 gram mitigations and
    to near-linear with the r09 deletion route.
    """
    if (
        isinstance(max_dist, bool)
        or not isinstance(max_dist, int)
        or max_dist < 1
    ):
        raise ValueError(f"max_dist must be an int >= 1, got {max_dist!r}")
    base = df.select(F.col(id_col).alias("id"), F.col(s_col).alias("s"))
    # the profile aggregate: exact figures, never the plan-size
    # estimate (compression-skewed 3.2× low on the snappy 25-char
    # replica corpus — it mis-sized the x16 cell's candidate join 8×
    # down, 52→123 s warm)
    row = base.agg(
        F.max(F.length("s")).alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    max_len, n_rows = row["hi"] or 0, row["n"]
    small = n_rows <= BROADCAST_KEY_ROWS
    if max_dist == 1:
        # identity + all single-deletion variants; the CASE guards the
        # Spark sequence(1, 0) descending-not-empty trap for empty
        # strings (same trap as the gram path below). Repartition the
        # narrow base BEFORE the explode (r09): variant generation
        # otherwise runs at file-read parallelism — measured as a
        # single-core bottleneck on 1-file inputs — and exchanging
        # (id, s) rows costs ~L²/2 less than the variant frame the
        # explode produces.
        cand_ids = _candidates_on(
            base.repartition(shuffle_partitions(df.sparkSession)).select(
                "id",
                F.length("s").alias("len"),
                F.explode(
                    F.concat(
                        F.array(F.col("s")),
                        F.expr(
                            "CASE WHEN length(s) = 0 THEN array() ELSE"
                            " transform(sequence(1, length(s)),"
                            " i -> concat(left(s, i-1), substr(s, i+1)))"
                            " END"
                        ),
                    )
                ).alias("k"),
            ),
            max_dist,
        )
        return _verify(base, cand_ids, max_dist, small, dedup=not small)
    templated = None
    if max_dist == 2:
        use_deletion = max_len <= DELETION_LEN_CEILING
        if not use_deletion and max_len <= DELETION_TEMPLATED_LEN_CEILING:
            # mid-length tier: deletion only when the corpus is
            # templated (where gram candidates grow with corpus
            # self-similarity); the trigger outcome feeds the gram
            # fallback's salt gate so it never runs twice
            templated = _templated_trigger(base)
            use_deletion = templated
        if use_deletion:
            return _deletion_d2_pairs(base, n_rows, max_len, small)
    q = 3
    prefix_len = q * max_dist + 1
    # NB: Spark's sequence(1, 0) is a DESCENDING [1, 0], not empty — a
    # string shorter than q would emit two junk grams (and every empty
    # string would land in one shared quadratic bucket), while DuckDB's
    # generate_series(1, 0) is empty; the explicit length guard keeps
    # the documented "no grams below q" contract on both engines
    grams = base.filter(F.length("s") >= q).select(
        "id",
        "s",
        F.explode(
            F.expr(
                f"transform(sequence(1, length(s) - {q - 1}),"
                f" i -> substring(s, i, {q}))"
            )
        ).alias("gram"),
    )
    gram_df = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    ranked = grams.join(F.broadcast(gram_df), "gram").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("id").orderBy("df", "gram")
        ),
    )
    # the prefix frame carries only (gram, id, len, sig): the length
    # and bag filters are the sole pre-verification uses of the string,
    # so the candidate join shuffles narrow rows — strings re-attach by
    # id afterwards. The 8-byte bag signature rides along so template-
    # mate candidates die inside the join stage (module comment).
    prefix = ranked.filter(F.col("rn") <= prefix_len).select(
        F.col("gram").alias("k"),
        "id",
        F.length("s").alias("len"),
        _bag_signature(F.col("s")).alias("sig"),
    )
    if templated is None:
        templated = _templated_trigger(base)
    cand_ids = _candidates_on(
        prefix, max_dist, bag=True,
        salt=CANDIDATE_SALT if templated else 1,
    )
    return _verify(base, cand_ids, max_dist, small, dedup=not small)


def _deletion_d2_pairs(
    base: DataFrame, n_rows: int, max_len: int, small: bool
) -> DataFrame:
    """d = 2 deletion-neighborhood candidate join (r09; VERDICT r08
    item 3 — the "generate fewer candidates" escape from the gram
    path's measured templated-corpus verification floor).

    Each string emits its identity, all L single-deletion variants,
    and all C(L, 2) double-deletion variants. ed(a, b) <= 2 implies a
    common subsequence reachable by <= 2 deletions from each side (see
    module docstring), so the variant equi-join is a complete
    generator with no length boundary. Variants are hashed to 8-byte
    xxhash64 keys before the join — candidate buckets only ever GAIN
    rows from hash collisions (lost pairs are impossible), and
    verification removes them; the shuffle then moves (key, id, len,
    meta) rows instead of up-to-L-char variant strings. No salt:
    bucket sizes are near-duplicate-group-sized (a variant is shared
    only by strings within deletion distance 2 of it), the same
    reason the d = 1 FastSS path never salts. No bag filter either —
    see _deletion_d2_candidates for the measured r09 rationale.

    Candidate MULTIPLICITY is the one cost the d = 1 path doesn't
    have: naively, a substitution pair shares ~L variants (delete the
    mismatch plus any j) and an identical pair ~C(L, 2) — measured at
    the x16 replica cell, the raw candidate stream was 1.99B rows for
    278M unique pairs (~30×), and deduping it cost a 155 s / ~48 GB
    exchange. The fix is WITNESS CANONICALIZATION: each variant
    carries its deletion metadata (count, positions, deleted chars —
    packed into one long, see ``_DEL1_META``/``_DEL2_META``), and for EQUAL-LENGTH
    candidate rows the join keeps only the canonical witness arm:

    * (0,0): identical strings — always kept;
    * (1,1): kept unless same position AND equal deleted chars (that
      pair of variants reconstructs to identical strings, found via
      the (0,0) arm);
    * (2,2): kept only when both positions match pairwise AND both
      deleted chars differ — i.e. the deletions are exactly the two
      mismatches of a Hamming-2 pair. A Hamming-1 pair's L−1
      redundant {p, j} witnesses all have EQUAL chars at j and die
      here; its canonical witness is the (1,1) arm at p.

    Completeness for equal-length ed <= 2 is an exhaustive case
    split: ed=0 → (0,0); one substitution → (1,1) at the mismatch
    (chars differ there, so the filter keeps it); two substitutions →
    (2,2) with D = the mismatch set (chars differ at both); one
    insert + one delete (a shift; the only remaining length-
    preserving ed=2 script) → a (1,1) witness deleting the shifted
    char from each side — if its positions coincide AND chars were
    equal, the two strings would be identical, contradiction, so the
    filter keeps it. Mixed arms ((1,0), (2,1), …) cannot match
    equal-length rows at all (variant lengths differ). UNEQUAL-length
    pairs keep every arm, exactly the pre-r09 behavior; pairs longer
    than _META_MAX_LEN (position field width) also keep every arm.
    Measured effect (SCALE_PROBE.md): multiplicity ~30× → ~1-2×.

    With multiplicity ~1 the pre-verification dedup no longer pays
    for itself (the trailing output ``distinct`` already
    canonicalizes), so this route never runs it, on either _verify
    path; duplicate-heavy corpora (where the (0,0)/shift-coincidence
    arms still fan out) should be exact-deduped first.
    """
    parts_mult = _deletion_parts_mult(base, n_rows, max_len)
    cand_ids = _deletion_d2_candidates(base, parts_mult)
    return _verify(base, cand_ids, 2, small, dedup=False)


# Per-width variant-volume ceiling under which the d=2 deletion
# candidate join runs at plain cluster width (parts_mult=1). Measured
# three-point r09 evidence (single-session interleaved A/Bs):
#   sf0.1 customer, L=18, 2.6M variants  → mult 1 wins (3.62 vs 4.24 s)
#   x1 replica cell, L=25, 4.9M variants → mult 8 wins (5.05 vs 5.95 s;
#       the suffix region inflates shared-variant hot buckets)
#   x16 replica cell, 78M variants       → mult 8 necessary (52 vs
#       123 s warm — under-splitting re-creates the r09 heap finding)
# The effect is NOT smooth in volume (it is hot-bucket straggler
# smoothing), so this is a two-regime gate, not a proportional dial:
# at or below the ceiling → width tasks; above → the cell-measured
# DELETION_PARTS_MULT. 100K/width-unit puts the 2.6M corpus below and
# the 4.9M corpus above the 3.2M boundary at width 32.
_DELETION_MULT1_VARIANT_CEILING = 100_000


def _deletion_parts_mult(base: DataFrame, n_rows: int, max_len: int) -> int:
    """Partition-count multiplier for the d=2 deletion candidate join:
    exact variant volume (rows × (1 + L + C(L,2)), both from the
    profile aggregate) against the measured per-width ceiling above. A
    metadata plan-size row estimate was tried here and REVERTED:
    parquet compression skewed it 3.2× low on the snappy replica
    corpus, silently under-parallelizing the x16 cell (52 → 123 s
    warm)."""
    variants = n_rows * (1 + max_len + max_len * (max_len - 1) // 2)
    width = shuffle_partitions(base.sparkSession)
    if variants <= _DELETION_MULT1_VARIANT_CEILING * width:
        return 1
    return DELETION_PARTS_MULT


def _deletion_d2_candidates(base: DataFrame, parts_mult: int) -> DataFrame:
    """The d=2 deletion route's candidate pair stream (pre-dedup,
    pre-verification) — split out so tests can pin the canonical-
    witness multiplicity bound directly.

    Unlike the gram route, NO bag filter rides this join (r09,
    measured): computing the 16-class signature per variant row cost
    ~13 µs/row-core — 5× the entire hash/join pipeline — while
    pruning zero candidates once witnesses are canonical (a true
    variant match already bounds ed ≤ n_a + n_b ≤ 4, and the exact
    banded levenshtein culls the ed-3/4 tail for ~2 µs a pair). The
    leading round-robin repartition runs the L²/2-fold variant
    explode at cluster width instead of file-read parallelism (a
    1-file corpus otherwise generates on ONE core), for the price of
    exchanging the narrow pre-explode (id, s) rows. ``parts_mult``
    comes from _deletion_parts_mult."""
    base = base.repartition(shuffle_partitions(base.sparkSession))
    variants = F.concat(
        F.array(
            F.struct(
                F.col("s").alias("v"), F.lit(0).cast("long").alias("m")
            )
        ),
        F.expr(
            "CASE WHEN length(s) = 0 THEN array() ELSE"
            " transform(sequence(1, length(s)),"
            " i -> struct(concat(left(s, i-1), substr(s, i+1)) AS v,"
            f" {_DEL1_META} AS m))"
            " END"
        ),
        F.expr(
            "CASE WHEN length(s) < 2 THEN array() ELSE"
            " flatten(transform(sequence(1, length(s) - 1),"
            " i -> transform(sequence(i + 1, length(s)),"
            " j -> struct(concat(left(s, i-1), substring(s, i+1, j-i-1),"
            f" substr(s, j+1)) AS v, {_DEL2_META} AS m))))"
            " END"
        ),
    )
    keyed = base.select(
        "id", F.length("s").alias("len"), F.explode(variants).alias("x")
    ).select(
        F.xxhash64(F.col("x.v")).alias("k"),
        "id",
        "len",
        F.col("x.m").alias("meta"),
    )
    return _candidates_on(
        keyed, 2, bag=False, salt=1, parts_mult=parts_mult,
        canonical_witness=True,
    )


# sub-split factor for hot blocking-key buckets in the d>=2 candidate
# self-join (see _candidates_on): splits a hot bucket's quadratic
# pair fan-out over CANDIDATE_SALT sub-keys for a CANDIDATE_SALT-fold
# replication of the (narrow) build side — measured on the 16x
# templated replica cell, where the zero-heavy names share prefix
# grams with df in the tens of thousands and the unsalted join ran 2
# straggler tasks for minutes while 30 cores idled. Tuned together
# with CANDIDATE_PARTS_MULT on the x1 cell (grid over salt 8/16/32 ×
# parts 1/4/8: 19.9 / 15.0 / 16.6 s): the (16, 8) pair matches the
# balance the removed verify-stage repartition used to provide,
# without that pin's candidate-stream-sized exchange.
CANDIDATE_SALT = 16
# partition-count multiplier for the salted candidate join: finer
# tasks smooth the residual per-(gram, salt) imbalance that remains
# after salting, because the expensive per-pair work (bag filter +
# levenshtein on the broadcast path) pipelines INSIDE this stage
CANDIDATE_PARTS_MULT = 8
# partition-count multiplier for the d=2 deletion route's candidate
# join above _DELETION_MULT1_VARIANT_CEILING (see _deletion_parts_mult):
# the r09 heap-sensitivity finding showed its per-task working set
# (SMJ sorts of the ~L²/2-per-string variant frame) spills below
# ~100g at the default 32-partition width on the x16 replica cell —
# finer tasks shrink the concurrent working set instead of demanding
# a bigger heap. Value measured by a width probe whose last copy is
# in commit 5850eb7.
DELETION_PARTS_MULT = 8

# Witness-canonicalization metadata packing for the d=2 deletion route
# (see _deletion_d2_pairs): one BIGINT per variant, LSB→MSB layout
#   c2  bits 0-20   codepoint of the 2nd deleted char (0 if none)
#   c1  bits 21-41  codepoint of the 1st deleted char (0 if none)
#   d2  bits 42-49  1-based position of the 2nd deletion (0 if none)
#   d1  bits 50-57  1-based position of the 1st deletion (0 if none)
#   n   bits 58-59  number of deletions (0, 1, 2)
# Positions fit 8 bits, so the canonical-witness filter only engages
# for strings up to _META_MAX_LEN — longer equal-length pairs keep
# every arm (the pre-canonicalization behavior, still exact). The
# router caps the deletion route at DELETION_TEMPLATED_LEN_CEILING
# (64) chars, so the gate only engages when that constant is raised.
_META_MAX_LEN = 255
_DEL1_META = (
    "(shiftleft(CAST(1 AS BIGINT), 58)"
    " + shiftleft(CAST(least(i, 255) AS BIGINT), 50)"
    " + shiftleft(CAST(ascii(substr(s, i, 1)) AS BIGINT), 21))"
)
_DEL2_META = (
    "(shiftleft(CAST(2 AS BIGINT), 58)"
    " + shiftleft(CAST(least(i, 255) AS BIGINT), 50)"
    " + shiftleft(CAST(least(j, 255) AS BIGINT), 42)"
    " + shiftleft(CAST(ascii(substr(s, i, 1)) AS BIGINT), 21)"
    " + CAST(ascii(substr(s, j, 1)) AS BIGINT))"
)


def _meta_fields(meta: Column) -> tuple[Column, ...]:
    """Unpack (n_del, d1, d2, c1, c2) from a packed witness-meta long."""
    return (
        F.shiftright(meta, 58).bitwiseAND(F.lit(3)),
        F.shiftright(meta, 50).bitwiseAND(F.lit(255)),
        F.shiftright(meta, 42).bitwiseAND(F.lit(255)),
        F.shiftright(meta, 21).bitwiseAND(F.lit(0x1FFFFF)),
        meta.bitwiseAND(F.lit(0x1FFFFF)),
    )


def _candidates_on(
    keyed: DataFrame,
    max_dist: int,
    bag: bool = False,
    salt: int = 1,
    parts_mult: int | None = None,
    canonical_witness: bool = False,
) -> DataFrame:
    """Ordered candidate id pairs from an equi-join on a blocking key
    ``k``: (id, len, k[, sig]) → (id_a < id_b) with the length filter —
    and, when ``bag`` is set, the bag-distance filter — applied on the
    NARROW frame, in the join's own codegen stage, before strings
    re-attach. A pair is emitted once per shared key; dedup placement
    is _verify's call.

    ``salt`` > 1 enables deterministic skew salting: side a splits by
    hash(id_a) % salt, side b replicates once per salt value, and the
    join key becomes (k, salt) — every (a, b) row pair still meets
    exactly once (at a's salt), so the pair multiset is unchanged,
    while a hot bucket's quadratic fan-out spreads over ``salt``
    tasks. The d=1 FastSS caller keeps salt=1: its deletion-variant
    buckets are near-duplicate-group-sized (no hot keys), and
    replicating its much larger variant frame would cost more than
    the skew it cannot have."""
    # Pin the self-join's parallelism: the keyed frame is narrow, so
    # AQE's byte-based coalescing would run the join (whose OUTPUT
    # fan-out is the quadratic per-key pair expansion, invisible to
    # input-size estimates) on 1-2 tasks — the same defect class as
    # the verify stage, see _verify. User-specified counts are exempt.
    if parts_mult is None:
        parts_mult = CANDIDATE_PARTS_MULT if salt > 1 else 1
    n_parts = shuffle_partitions(keyed.sparkSession) * parts_mult
    cols_a = [F.col("id").alias("id_a"), F.col("len").alias("len_a")]
    cols_b = [F.col("id").alias("id_b"), F.col("len").alias("len_b")]
    if bag:
        cols_a.append(F.col("sig").alias("sig_a"))
        cols_b.append(F.col("sig").alias("sig_b"))
    if canonical_witness:
        cols_a.append(F.col("meta").alias("meta_a"))
        cols_b.append(F.col("meta").alias("meta_b"))
    a = keyed.select("k", *cols_a)
    b = keyed.select("k", *cols_b)
    if salt > 1:
        a = a.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col("id_a")), F.lit(salt))
        )
        b = b.withColumn(
            "_salt",
            F.explode(F.array(*[F.lit(i) for i in range(salt)])),
        )
        keys = ["k", "_salt"]
    else:
        keys = ["k"]
    a = a.repartition(n_parts, *keys)
    b = b.repartition(n_parts, *keys)
    # Force a SHUFFLED hash join (r09): Catalyst's size estimate for
    # an exploded variant/gram frame is the PRE-explode size, so the
    # planner broadcast the entire frame — measured as a ~68 s
    # scale-independent floor on the deletion cells (driver-side
    # single-threaded build of a multi-million-entry hash map) and a
    # driver OOM waiting to happen at real scale. The hint keeps the
    # user-pinned n_parts exchange and builds a per-task table of
    # rows/n_parts entries, which parts_mult already bounds.
    cand = (
        a.hint("shuffle_hash")
        .join(b, keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.abs(F.col("len_a") - F.col("len_b")) <= max_dist)
    )
    if bag:
        cand = cand.filter(
            _bag_l1(F.col("sig_a"), F.col("sig_b")) <= 2 * max_dist
        )
    if canonical_witness:
        # equal-length arms keep only the canonical witness (see
        # _deletion_d2_pairs for the completeness case split);
        # unequal-length or >_META_MAX_LEN rows keep every arm
        n_a, d1_a, d2_a, c1_a, c2_a = _meta_fields(F.col("meta_a"))
        n_b, d1_b, d2_b, c1_b, c2_b = _meta_fields(F.col("meta_b"))
        canonical = (
            ((n_a == 0) & (n_b == 0))
            | (
                (n_a == 1)
                & (n_b == 1)
                & ~((d1_a == d1_b) & (c1_a == c1_b))
            )
            | (
                (n_a == 2)
                & (n_b == 2)
                & (d1_a == d1_b)
                & (d2_a == d2_b)
                & (c1_a != c1_b)
                & (c2_a != c2_b)
            )
        )
        cand = cand.filter(
            (F.col("len_a") != F.col("len_b"))
            | (F.col("len_a") > _META_MAX_LEN)
            | canonical
        )
    return cand.select("id_a", "id_b")


def _verify(
    base: DataFrame,
    cand_ids: DataFrame,
    max_dist: int,
    small: bool,
    dedup: bool,
) -> DataFrame:
    """Re-attach strings and run the exact verification.

    ``small`` (row count <= BROADCAST_KEY_ROWS) broadcasts the (id, s)
    projection to both re-attach joins; otherwise they shuffle.
    ``dedup`` runs the narrow pre-verification candidate dedup. The
    FastSS and gram routes set it exactly on the shuffle path: there
    the candidate set must move anyway, so the dedup pays for itself,
    while on the broadcast path it was measured at 9 s to remove ~10%
    on near-unique keys (see the public docstring's duplicate-heavy
    caveat). The deletion route never sets it (_deletion_d2_pairs).

    Thresholded levenshtein: banded O(len·d) with early exit instead
    of the full O(len²) DP — ~2× at d=1 on 18-char keys, growing with
    string length; returns −1 above the bound, and the banded value
    equals the exact distance for every surviving pair.
    """
    na = base.select(F.col("id").alias("id_a"), F.col("s").alias("s_a"))
    nb = base.select(F.col("id").alias("id_b"), F.col("s").alias("s_b"))
    if small:
        na, nb = F.broadcast(na), F.broadcast(nb)
    if dedup:
        # Pin the dedup exchange's width (ADVICE r08): a bare
        # distinct() on this narrow two-long frame is AQE
        # byte-coalescible, and a coalesce to 1-2 partitions would
        # run the dedup over the whole candidate stream on those few
        # tasks — the same defect class as the 501 s verify-stage
        # collapse r07 fixed. The user-specified repartition is exempt
        # from coalescing, and the aggregate reuses its partitioning
        # (same keys), so this pins width without adding an exchange
        # the distinct wouldn't have had.
        n_parts = shuffle_partitions(cand_ids.sparkSession)
        cand_ids = cand_ids.repartition(
            n_parts, "id_a", "id_b"
        ).dropDuplicates(["id_a", "id_b"])
    # Verification parallelism comes from _candidates_on's repartition
    # pin: the candidate join reads a user-specified (exempt from AQE
    # byte-coalescing) exchange, and on the broadcast path everything
    # downstream — length/bag filters, string re-attach, banded
    # levenshtein — PIPELINES in that same whole-stage-codegen stage
    # at pinned width. r07 shipped an ADDITIONAL repartition pin here
    # (the candidate frame is narrow, and without any pin AQE folded
    # the verify stage onto 1-2 cores: 501 s at sf0.1 d=2); r08
    # REMOVED it: once _candidates_on pins the width, this pin is
    # redundant on every path (the shuffle path's pre-verification
    # distinct also re-hashes at full width), and on the 16× templated
    # replica cell it materialized the multi-BILLION-row candidate
    # stream into a ~47 GB exchange that broke the generate→filter→
    # verify pipeline — the exchange cost more than the verification
    # it was parallelizing.
    cand = cand_ids.join(na, "id_a").join(nb, "id_b")
    return (
        cand.withColumn(
            "dist", F.levenshtein("s_a", "s_b", max_dist).cast("long")
        )
        .filter(F.col("dist").between(0, max_dist))
        .select("id_a", "id_b", "s_a", "s_b", "dist")
        .distinct()
    )
