"""Tests for the column profiler, sliding distinct users, and the
stream-static enrichment join."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from neo4j_database_spark.operators.profile import profile
from neo4j_database_spark.queries import relational as rel


def test_profile_hand_case(spark):
    df = spark.createDataFrame(
        [(1, None, "a"), (2, 5.0, "b"), (None, 5.0, "b"), (4, 7.5, None)],
        "k long, x double, s string",
    )
    rows = {r["column"]: r for r in profile(df).collect()}
    assert rows["k"]["n_nulls"] == 1
    assert rows["k"]["n_distinct"] == 3
    assert rows["k"]["min_num"] == 1.0 and rows["k"]["max_num"] == 4.0
    assert rows["x"]["n_nulls"] == 1
    assert rows["x"]["n_distinct"] == 2
    assert rows["x"]["min_num"] == 5.0 and rows["x"]["max_num"] == 7.5
    assert rows["s"]["n_nulls"] == 1
    assert rows["s"]["n_distinct"] == 2
    assert rows["s"]["min_num"] is None and rows["s"]["max_num"] is None


def test_profile_approx_mode_runs(spark):
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 10).alias("m")
    )
    rows = {r["column"]: r for r in profile(df, approx_distinct=True).collect()}
    # HLL estimate: right order of magnitude, exact not required
    assert 900 <= rows["k"]["n_distinct"] <= 1100
    assert 8 <= rows["m"]["n_distinct"] <= 12


def test_sliding_distinct_users_hand_case(spark, monkeypatch):
    # day 1: users {1,2}; day 3: {2}; day 9: {3} — trailing-7d windows:
    # d1={1,2}, d3={1,2}, d9={2,3} (day 3 in range, day 1 aged out)
    rows = [
        (1, datetime(2024, 1, 1)),
        (2, datetime(2024, 1, 1)),
        (2, datetime(2024, 1, 1, 5)),  # same day dup — must not double
        (2, datetime(2024, 1, 3)),
        (3, datetime(2024, 1, 9)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    monkeypatch.setattr(
        "neo4j_database_spark.queries.relational.load_table",
        lambda spark, name, sf_dir: df,
    )
    out = {
        str(r["report_day"]): r["users_7d"]
        for r in rel.events_sliding_distinct_users(spark, "unused").collect()
    }
    assert out == {"2024-01-01": 2, "2024-01-03": 2, "2024-01-09": 2}


def test_stream_enrich_equals_batch_join(spark, sf_dir):
    from neo4j_database_spark.catalog import load_table
    from neo4j_database_spark.streaming.events import enrich_replay

    streamed = sorted(
        tuple(r) for r in enrich_replay(spark, sf_dir).collect()
    )
    ev = load_table(spark, "events", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    batch = sorted(
        tuple(r)
        for r in ev.filter(F.col("event_type") == "purchase")
        .join(cust, ev.user_id == cust.c_custkey)
        .select(
            "event_id",
            "user_id",
            F.col("c_mktsegment").alias("segment"),
            "value",
        )
        .collect()
    )
    assert streamed == batch and len(streamed) > 0


def test_merge_into_all_branches(spark):
    from neo4j_database_spark.operators.merge import merge_into

    tgt = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, bal double",
    )
    # 1 → update, 2 → delete (flag), 9 → insert, 3 untouched
    src = spark.createDataFrame(
        [(1, 5.0, False), (2, 0.0, True), (9, 99.0, False)],
        "k long, delta double, purge boolean",
    )
    from pyspark.sql import functions as F

    out = {
        r["k"]: tuple(r)
        for r in merge_into(
            tgt,
            src,
            on="k",
            update_set={"bal": F.col("tgt.bal") + F.col("src.delta")},
            insert_values={"bal": F.col("src.delta")},
            delete_condition=F.col("src.purge"),
            action_col="action",
        ).collect()
    }
    assert out[1] == (1, "a", 15.0, "updated")
    assert 2 not in out
    assert out[3] == (3, "c", 30.0, "kept")
    assert out[9] == (9, None, 99.0, "inserted")


def test_edit_distance_pairs_handles_indels(spark):
    from neo4j_database_spark.operators.er import edit_distance_pairs

    df = spark.createDataFrame(
        [
            (1, "abcdef"),
            (2, "abdef"),  # deletion of 'c'
            (3, "abcdefg"),  # insertion of 'g'
            (4, "zzzzzz"),
        ],
        "id long, s string",
    )
    got = {
        (r.id_a, r.id_b): r.dist
        for r in edit_distance_pairs(df, "id", "s", max_dist=1).collect()
    }
    assert got == {(1, 2): 1, (1, 3): 1}


def test_edit_distance_pairs_complete_vs_bruteforce(spark):
    from neo4j_database_spark.operators.er import edit_distance_pairs
    from pyspark.sql import functions as F

    # deterministic varied strings: digits of i*i in different paddings
    rows = [(i, f"{(i * i) % 10007:05d}x{i % 7}") for i in range(120)]
    df = spark.createDataFrame(rows, "id long, s string")
    fast = {
        (r.id_a, r.id_b)
        for r in edit_distance_pairs(df, "id", "s", max_dist=1).collect()
    }
    a, b = df.alias("a"), df.alias("b")
    brute = {
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.levenshtein("a.s", "b.s").alias("d"),
        )
        .filter(F.col("d") <= 1)
        .collect()
    }
    assert fast == brute and len(brute) > 0


def test_edit_distance_pairs_short_string_contract(spark, monkeypatch):
    """Both route families' completeness contracts, pinned.

    max_dist=1 (deletion-neighborhood since r06): EXACT for all string
    lengths — no boundary; empty strings pair via identity variants
    (and the CASE guard keeps Spark's descending sequence(1, 0) from
    emitting junk variants for them).

    max_dist>=2 gram route (Ed-Join): pairs guaranteed found only when
    both strings have >= q*(d+1) chars (n-q+1 grams must exceed the
    q*d destroyable by d edits). Shorter strings may be missed.
    Also pins the gram-path sequence(1, 0) fix: without the length
    guard every empty/short string emitted junk grams and all empty
    strings collided in one shared quadratic bucket."""
    from neo4j_database_spark.operators import er
    from neo4j_database_spark.operators.er import edit_distance_pairs

    rows = [
        (0, ""), (1, ""),          # ed 0 — found by identity variants
        (2, "xy"), (3, "xy"),      # ed 0 below q — found
        (4, "abc"), (5, "abd"),    # ed 1 on short strings — found
        (6, "abcdef"), (7, "abcdeg"),  # ed 1 — found
    ]
    df = spark.createDataFrame(rows, "id long, s string")
    got = {
        (r.id_a, r.id_b)
        for r in edit_distance_pairs(df, "id", "s", max_dist=1).collect()
    }
    assert got == {(0, 1), (2, 3), (4, 5), (6, 7)}

    # gram route forced by zero length ceilings (d=2, q=3 -> boundary
    # q*(d+1) = 9 chars): the short ed-2 pair shares no 3-gram and is
    # missed by design, the boundary-length pair is found
    rows2 = [
        (0, "abcdef"), (1, "abxdyf"),        # ed 2 below the boundary: miss
        (2, "abcdefghi"), (3, "abxdefgyi"),  # ed 2 at the boundary: found
    ]
    df2 = spark.createDataFrame(rows2, "id long, s string")
    with monkeypatch.context() as m:
        m.setattr(er, "DELETION_LEN_CEILING", 0)
        m.setattr(er, "DELETION_TEMPLATED_LEN_CEILING", 0)
        got2 = {
            (r.id_a, r.id_b)
            for r in edit_distance_pairs(df2, "id", "s", max_dist=2).collect()
        }
    assert got2 == {(2, 3)}

    # d=2 deletion route (r09, the default for short keys): NO
    # boundary — the same corpus's short ed-2 pair is found, plus the
    # ed-0 empty/short pairs the gram path can never see
    rows3 = rows2 + [(4, ""), (5, ""), (6, "xy"), (7, "yx")]
    df3 = spark.createDataFrame(rows3, "id long, s string")
    got3 = {
        (r.id_a, r.id_b)
        for r in edit_distance_pairs(df3, "id", "s", max_dist=2).collect()
    }
    from pyspark.sql import functions as F

    a3, b3 = df3.alias("a"), df3.alias("b")
    brute3 = {
        (r.id_a, r.id_b)
        for r in a3.join(b3, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.levenshtein("a.s", "b.s").alias("d"),
        )
        .filter(F.col("d") <= 2)
        .collect()
    }
    assert got3 == brute3
    # the gram-boundary misses are found, incl. empty-string pairs
    assert {(0, 1), (4, 5), (4, 6)} <= got3


def test_edit_distance_pairs_bag_filter_exact(spark, monkeypatch):
    """The templated-corpus bag filter (r08) loses NO pairs.

    The d=2 Ed-Join route (forced by zero length ceilings), whose bag
    filter is always on, must return the exact brute-force pair set —
    including substitution, indel, and mixed edits, saturated
    histograms (len > 15 repeats of a class), and non-ASCII chars
    (outside every histogram class).
    """
    from neo4j_database_spark.operators import er
    from neo4j_database_spark.operators.er import edit_distance_pairs
    from pyspark.sql import functions as F

    monkeypatch.setattr(er, "DELETION_LEN_CEILING", 0)
    monkeypatch.setattr(er, "DELETION_TEMPLATED_LEN_CEILING", 0)

    rows = [
        # templated block: shared 12-char template + 3-char salt whose
        # char bags differ -> cross-salt candidates pruned by the bag
        # filter, same-salt near-pairs kept
        (i, f"template{i % 5:04d}" + ["aaa", "bbb", "ccc"][i % 3])
        for i in range(60)
    ] + [
        (100, "abcdefghijkl"), (101, "abXdefghiYkl"),   # 2 subs
        (102, "abcdefghijklmm"), (103, "abcdefghijkl__"),  # 2 subs tail
        (104, "acdefghijkl"), (105, "abcdefghijklm"),   # del+ins vs 100
        (106, "aaaaaaaaaaaaaaaaaaaa"), (107, "aaaaaaaaaaaaaaaaaaba"),
        # saturated 'a' class (20 > 15) with one substitution
        (108, "naïve-résumé-x"), (109, "naïve-résumé-y"),  # non-ASCII
    ]
    df = spark.createDataFrame(rows, "id long, s string")
    gram = edit_distance_pairs(df, "id", "s", max_dist=2)
    plan = gram._jdf.queryExecution().optimizedPlan().toString()
    assert "row_number" in plan  # the gram route ran
    got = {(r.id_a, r.id_b) for r in gram.collect()}
    a, b = df.alias("a"), df.alias("b")
    brute = {
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.levenshtein("a.s", "b.s").alias("d"),
        )
        .filter(F.col("d") <= 2)
        .collect()
    }
    assert got == brute
    assert {(100, 101), (106, 107), (108, 109)} <= brute


def test_bag_signature_prunes_template_mates(spark):
    """The bag filter's pruning actually fires: suffix-salted template
    mates (distinct char bags, ed >= 3) produce ZERO candidates under
    the filter, while the unfiltered candidate set is quadratic in the
    group. This is the 16x replica cell's mechanism in miniature."""
    from neo4j_database_spark.operators.er import (
        _bag_signature,
        _candidates_on,
    )
    from pyspark.sql import functions as F

    # 10 copies of one template, salts with pairwise-disjoint char bags
    salts = ["aaa", "bbb", "ccc", "ddd", "eee",
             "fff", "ggg", "hhh", "iii", "jjj"]
    df = spark.createDataFrame(
        [(i, "sharedtemplate" + s) for i, s in enumerate(salts)],
        "id long, s string",
    )
    keyed = df.select(
        "id",
        F.length("s").alias("len"),
        _bag_signature(F.col("s")).alias("sig"),
        F.lit("sharedgram").alias("k"),  # every row in one bucket
    )
    pruned = _candidates_on(keyed, max_dist=2, bag=True).count()
    raw = _candidates_on(
        keyed.drop("sig"), max_dist=2, bag=False
    ).count()
    assert raw == 45  # 10 choose 2 — the quadratic template blowup
    # the 5-way letter-class merge (a..z % 5) collides exactly the
    # salt pairs 5 apart — (a,f), (b,g), (c,h), (d,i), (e,j) — the
    # documented residual exposure; every bag-distinct pair dies in
    # the join stage
    assert pruned == 5


def test_edit_distance_pairs_gram_route_templated(spark, monkeypatch):
    """The gram route (q = 3) is complete on a templated corpus whose
    strings all have >= 3·(max_dist+1) characters: 600 30-char binary
    strings sharing a 20-char leading-zero template saturate the 3-gram
    vocabulary (8 distinct grams, avg df far above the ceiling), so the
    templated trigger fires and salts the candidate join, and the
    output is exactly the brute-force pair set.
    """
    from neo4j_database_spark.operators import er
    from neo4j_database_spark.operators.er import edit_distance_pairs
    from pyspark.sql import functions as F

    monkeypatch.setattr(er, "DELETION_LEN_CEILING", 0)
    monkeypatch.setattr(er, "DELETION_TEMPLATED_LEN_CEILING", 0)

    rows = [(i, f"{i:020b}{i * i % 1024:010b}") for i in range(600)]
    df = spark.createDataFrame(rows, "id long, s string")
    out = edit_distance_pairs(df, "id", "s", max_dist=2)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "row_number" in plan  # gram route (df-ranked prefixes)
    assert "_salt" in plan  # the templated trigger fired
    got = {(r.id_a, r.id_b) for r in out.collect()}
    a, b = df.alias("a"), df.alias("b")
    brute = {
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.levenshtein("a.s", "b.s").alias("d"),
        )
        .filter(F.col("d") <= 2)
        .collect()
    }
    assert got == brute and len(brute) > 0


def test_edit_distance_pairs_d2_deletion_complete(spark, monkeypatch):
    """The r09 d=2 deletion-neighborhood generator is COMPLETE: on a
    varied corpus (substitutions, 1- and 2-char indels, mixed edits,
    duplicate strings, short strings) the default route (deletion for
    these short keys) returns exactly the brute-force pair set, and
    forcing either route on gram-complete-length keys agrees."""
    from neo4j_database_spark.operators import er
    from neo4j_database_spark.operators.er import edit_distance_pairs
    from pyspark.sql import functions as F

    rows = [(i, f"{(i * 37) % 1009:04d}ab{i % 11}x") for i in range(150)]
    rows += [
        (200, "hogwarts-express"),
        (201, "hogwarts-xpress"),     # 1 del
        (202, "hogwarts-expres"),     # 1 del (tail)
        (203, "hogwarts-exprss"),     # 1 del
        (204, "hogwrts-xpress"),      # 2 dels vs 200
        (205, "hogwarts-express!!"),  # 2 ins vs 200
        (206, "hAgwarts-exprEss"),    # 2 subs vs 200
        (207, "hogwartsexpress+"),    # del + ins vs 200
        (208, "completely-other"),
        (209, "completely-other"),    # exact duplicate
    ]
    df = spark.createDataFrame(rows, "id long, s string")
    got = {
        (r.id_a, r.id_b): r.dist
        for r in edit_distance_pairs(df, "id", "s", max_dist=2).collect()
    }
    a, b = df.alias("a"), df.alias("b")
    brute = {
        (r.id_a, r.id_b): r.d
        for r in a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.levenshtein("a.s", "b.s").alias("d"),
        )
        .filter(F.col("d") <= 2)
        .collect()
    }
    assert got == brute and len(brute) > 50
    assert got[(208, 209)] == 0 and got[(200, 204)] == 2
    # forced-route parity where the gram guarantee holds for every
    # string (all >= q*(d+1) = 9 chars): huge ceilings force deletion,
    # zero ceilings force gram
    long_df = df.filter(F.length("s") >= 9)

    def pairs(ceiling):
        with monkeypatch.context() as m:
            m.setattr(er, "DELETION_LEN_CEILING", ceiling)
            m.setattr(er, "DELETION_TEMPLATED_LEN_CEILING", ceiling)
            out = edit_distance_pairs(long_df, "id", "s", max_dist=2)
            plan = out._jdf.queryExecution().optimizedPlan().toString()
            return plan, {(r.id_a, r.id_b) for r in out.collect()}

    plan_del, dele = pairs(10**6)
    plan_gram, gram = pairs(0)
    assert "xxhash64" in plan_del and "row_number" not in plan_del
    assert "row_number" in plan_gram
    assert dele == gram > set()


def test_edit_distance_pairs_d2_canonical_witness(spark, monkeypatch):
    """The r09 witness-canonicalization filter (equal-length arms keep
    only the canonical (0,0)/(1,1)/(2,2) witness — see
    _deletion_d2_pairs) stays COMPLETE on every equal-length ed<=2
    script type it reasons about: Hamming-1/2 (incl. repeated chars
    at the mismatch), insert+delete shifts (incl. equal shifted
    chars), transpositions, exact duplicates, runs, astral-plane
    unicode — plus the >_META_MAX_LEN disengage gate — and actually
    delivers the multiplicity cut (pre-dedup candidate rows ~= unique
    pairs on a substitution corpus, not the ~30x raw stream)."""
    from neo4j_database_spark.operators import er
    from pyspark.sql import functions as F

    # every call below takes the deletion route, incl. the long keys
    monkeypatch.setattr(er, "DELETION_LEN_CEILING", 10**6)

    rows = [
        # shifts: delete front + insert back (equal length, ed=2)
        (1, "abcdefgh"), (2, "bcdefgha"),
        # shift where the moved chars are EQUAL (filter must keep the
        # unequal-position (1,1) witness)
        (3, "xabcx"), (4, "abcxx"),
        # transposition (= 2 subs for levenshtein)
        (5, "harry-potter"), (6, "harry-pottre"),
        # Hamming-2 with the same char written at both mismatches
        (7, "aaabaaab"), (8, "aaacaaac"),
        # Hamming-1 inside a run (many equivalent deletion witnesses)
        (9, "zzzzzzzz"), (10, "zzzyzzzz"),
        # exact duplicates (the (0,0) arm)
        (11, "same-same"), (12, "same-same"),
        # astral-plane unicode substitution (codepoint > 0xFFFF)
        (13, "ab\U0001D11Ecd"), (14, "ab\U0001D122cd"),
        # anagram pair (ed=4: must NOT appear; bag filter can't prune)
        (15, "aaabbb"), (16, "bbbaaa"),
        # unequal lengths still route through the unrestricted arms
        (17, "pqrstuv"), (18, "pqstuv"), (19, "pqrstuvwx"),
    ]
    # dense substitution corpus: 0-2 digit substitutions apart
    rows += [(100 + i, f"key-{i % 7}{(i * 3) % 5}{i % 3}") for i in range(60)]
    df = spark.createDataFrame(rows, "id long, s string")
    got = {
        (r.id_a, r.id_b): r.dist
        for r in er.edit_distance_pairs(df, "id", "s", max_dist=2).collect()
    }
    a, b = df.alias("a"), df.alias("b")
    brute = {
        (r.id_a, r.id_b): r.d
        for r in a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.levenshtein("a.s", "b.s").alias("d"),
        )
        .filter(F.col("d") <= 2)
        .collect()
    }
    assert got == brute
    assert got[(1, 2)] == 2 and got[(3, 4)] == 2 and got[(5, 6)] == 2
    assert got[(7, 8)] == 2 and got[(9, 10)] == 1 and got[(11, 12)] == 0
    assert got[(13, 14)] == 1 and (15, 16) not in got
    assert got[(17, 18)] == 1 and got[(17, 19)] == 2

    # >_META_MAX_LEN equal-length pairs disengage the filter (old
    # unrestricted-arm behavior) and stay exact
    pad = "p" * (er._META_MAX_LEN + 10)
    big = spark.createDataFrame(
        [(1, pad + "abc"), (2, pad + "axc"), (3, pad + "ayz")],
        "id long, s string",
    )
    big_got = {
        (r.id_a, r.id_b): r.dist
        for r in er.edit_distance_pairs(big, "id", "s", max_dist=2).collect()
    }
    assert big_got == {(1, 2): 1, (1, 3): 2, (2, 3): 2}

    # multiplicity pin: on the substitution corpus the canonicalized
    # candidate stream is output-shaped (< 3 rows per unique pair),
    # the property the 16x replica cell's dedup-free plan relies on
    sub = df.filter(F.col("id") >= 100)
    base = sub.select(F.col("id"), F.col("s"))
    uniq = er.edit_distance_pairs(sub, "id", "s", max_dist=2).count()
    raw = er._deletion_d2_candidates(base, 1).count()
    assert raw <= 3 * max(uniq, 1)


def test_edit_distance_pairs_d2_routing_and_validation(spark, monkeypatch):
    """The router sends d=2 by key length (deletion at or under
    DELETION_LEN_CEILING, gram above), the deletion route skips the
    candidate salt, the gram route salts ONLY templated corpora
    (ADVICE r08)."""
    from neo4j_database_spark.operators import er
    from neo4j_database_spark.operators.er import (
        DELETION_LEN_CEILING,
        DELETION_TEMPLATED_LEN_CEILING,
        edit_distance_pairs,
    )

    def optimized_plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    short = spark.createDataFrame(
        [(i, f"key-{i:04d}") for i in range(300)], "id long, s string"
    )
    plan_short = optimized_plan(
        edit_distance_pairs(short, "id", "s", max_dist=2)
    )
    assert "xxhash64" in plan_short  # deletion route (hashed variants)
    assert "_salt" not in plan_short  # deletion never salts

    long_rows = [
        (i, f"{i:06d}-" + "".join(chr(97 + (i * j) % 26) for j in range(80)))
        for i in range(300)
    ]
    long_df = spark.createDataFrame(long_rows, "id long, s string")
    assert len(long_rows[0][1]) > DELETION_TEMPLATED_LEN_CEILING
    plan_long = optimized_plan(
        edit_distance_pairs(long_df, "id", "s", max_dist=2)
    )
    assert "row_number" in plan_long  # gram route (df-ranked prefixes)
    # diverse corpus -> the templated trigger holds salt at 1
    assert "_salt" not in plan_long
    # ... and a firing trigger salts the join
    with monkeypatch.context() as m:
        m.setattr(er, "_templated_trigger", lambda base: True)
        plan_salted = optimized_plan(
            edit_distance_pairs(long_df, "id", "s", max_dist=2)
        )
    assert "_salt" in plan_salted

    # mid-length tier (DELETION_LEN_CEILING < L <= templated ceiling):
    # templated corpora route deletion, diverse ones route gram+salt
    mid_len = DELETION_LEN_CEILING + 16
    assert mid_len <= DELETION_TEMPLATED_LEN_CEILING
    # 2,000 rows: the templated trigger is corpus-size RELATIVE (avg
    # gram df grows with n when the vocabulary is saturated — ~275
    # here vs ~40 at n=300, threshold 64), so the corpus must be big
    # enough for the saturation to show
    mid_templ = spark.createDataFrame(
        [(i, "t" * (mid_len - 10) + f"{i:010d}") for i in range(2000)],
        "id long, s string",
    )
    assert "xxhash64" in optimized_plan(
        edit_distance_pairs(mid_templ, "id", "s", max_dist=2)
    )
    mid_div = spark.createDataFrame(
        [
            (i, f"{i:06d}" + "".join(
                chr(97 + (i * j + j * j) % 26) for j in range(mid_len - 6)
            ))
            for i in range(300)
        ],
        "id long, s string",
    )
    plan_mid_div = optimized_plan(
        edit_distance_pairs(mid_div, "id", "s", max_dist=2)
    )
    assert "row_number" in plan_mid_div


@pytest.mark.parametrize("max_dist", [0, -1, 1.5, True])
def test_edit_distance_pairs_rejects_bad_max_dist(spark, max_dist):
    """max_dist must be an int >= 1. Values below 1 used to fall into
    the gram route and return wrong pairs silently: 0 lost the
    identical short pair (1, 2), -1 returned no rows at all."""
    from neo4j_database_spark.operators.er import edit_distance_pairs

    df = spark.createDataFrame(
        [(1, "xy"), (2, "xy"), (3, "abcdef"), (4, "abcdef"), (5, "")],
        "id long, s string",
    )
    with pytest.raises(ValueError, match="max_dist"):
        edit_distance_pairs(df, "id", "s", max_dist=max_dist)


def test_duplicated_spans_hand_case(spark, monkeypatch):
    from neo4j_database_spark.pipeline import dedup

    shared = "one two three four five six seven eight"
    rows = [
        (1, shared + " tail1 tail2"),          # spans 1-3; span 1 shared
        (2, "pre1 pre2 " + shared),            # spans 1-3; span 3 shared
        (3, "a b c d e f g h i"),              # 2 spans, none shared
        (4, "too short"),                      # < 8 tokens → no spans
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr(
        "neo4j_database_spark.pipeline.dedup.load_table",
        lambda s, n, d: df,
    )
    out = {
        r.doc_id: (r.n_spans, r.n_dup_spans, r.dup_ratio)
        for r in dedup.duplicated_spans(spark, "unused").collect()
    }
    assert out[1] == (3, 1, 1 / 3)
    assert out[2] == (3, 1, 1 / 3)
    assert out[3] == (2, 0, 0.0)
    assert 4 not in out


def test_check_rules_null_counts_as_violation(spark):
    from neo4j_database_spark.operators.quality import check_rules

    df = spark.createDataFrame(
        [(1, 5.0), (2, -1.0), (3, None)], "k long, x double"
    )
    out = {r.rule: r for r in check_rules(
        df, {"x_positive": F.col("x") > 0, "k_small": F.col("k") < 10}
    ).collect()}
    # -1.0 fails, NULL is unknown → violation; 5.0 passes
    assert out["x_positive"].n_violations == 2
    assert out["x_positive"].ok is False
    assert out["x_positive"].pass_rate == 1 / 3
    assert out["k_small"].n_violations == 0 and out["k_small"].ok is True


def test_misra_gries_heavy_hitters_bounds(spark, sf_dir):
    """Sketch guarantees: every true heavy hitter present; estimates are
    lower bounds within n/(capacity+1) of exact counts."""
    from neo4j_database_spark.catalog import load_table
    from neo4j_database_spark.operators.sketch import misra_gries_topk
    from neo4j_database_spark.pipeline.text import _tokens

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        F.explode(_tokens(F.col("text"))).alias("tok")
    )
    exact = {
        r.tok: r.n
        for r in toks.groupBy("tok").agg(F.count("*").alias("n")).collect()
    }
    n = sum(exact.values())
    cap = 64
    out = misra_gries_topk(toks, "tok", k=15, capacity=cap).collect()
    assert len(out) == 15
    bound = n // (cap + 1)
    for r in out:
        assert r.max_underestimate == bound
        true = exact[r.item]
        assert r.est_count <= true <= r.est_count + bound, (r.item, true, r.est_count)
    # completeness: every item with true count > bound must be in the
    # sketch's top-k IF k is large enough to hold them all
    heavy = {t for t, c in exact.items() if c > bound}
    got = {r.item for r in out}
    if len(heavy) <= 15:
        assert heavy <= got


def test_misra_gries_merged_is_deterministic_and_bounded(spark, sf_dir):
    """Merge-form MG (VERDICT r06 item 5): same MG contract as the
    single-pass sketch, but a pure function of the multiset — the
    output must be byte-identical under different partitionings, obey
    est ≤ true ≤ est + n/(capacity+1) with the EXACT offset
    true − est == cut for every survivor, and keep ≤ capacity items."""
    from neo4j_database_spark.catalog import load_table
    from neo4j_database_spark.operators.sketch import misra_gries_merged
    from neo4j_database_spark.pipeline.text import _tokens

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(F.explode(_tokens(F.col("text"))).alias("tok"))
    exact = {
        r.tok: r.n
        for r in toks.groupBy("tok").agg(F.count("*").alias("n")).collect()
    }
    n = sum(exact.values())
    cap = 64
    full = misra_gries_merged(toks, "tok", k=None, capacity=cap).collect()
    assert len(full) <= cap
    for r in full:
        assert r.n_total == n
        true = exact[r.item]
        # the merge offset is exact, and bounded by n/(cap+1)
        assert true - r.est_count == r.max_underestimate
        assert r.max_underestimate <= n // (cap + 1)
    # every guaranteed heavy hitter (count > n/(cap+1) ≥ cut) survives
    heavy = {t for t, c in exact.items() if c > n // (cap + 1)}
    assert heavy <= {r.item for r in full}
    # determinism under repartitioning: same rows regardless of layout
    a = sorted(
        map(tuple, misra_gries_merged(toks, "tok", k=15, capacity=cap).collect())
    )
    b = sorted(
        map(
            tuple,
            misra_gries_merged(
                toks.repartition(7, "tok"), "tok", k=15, capacity=cap
            ).collect(),
        )
    )
    c = sorted(
        map(
            tuple,
            misra_gries_merged(
                toks.coalesce(1), "tok", k=15, capacity=cap
            ).collect(),
        )
    )
    assert a == b == c
