"""The Cypher front end runs the reference's READ statements verbatim
and must agree with the hand-built (oracle-checked) serving queries.

Each test pastes the exact Cypher text from the reference (cited
file:line) and checks the compiled DataFrame against the corresponding
hand-built plan — so the compiler's semantics are pinned to queries the
driver already verifies against DuckDB.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neo4j_database_spark.cypher import run_cypher
from neo4j_database_spark.cypher.parser import parse
from neo4j_database_spark.graph import queries as gq
from neo4j_database_spark.graph.features import (
    FEATURE_HOUSES,
    feature_cell_name,
    feature_matrix,
)
from neo4j_database_spark.graph.store import load_graph

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def g(spark):
    return load_graph(spark, SF)


def test_search_verbatim(g):
    # app.py:440-445
    q = """
        MATCH (p:Person)
        WHERE toLower(p.name) CONTAINS toLower($q)
        RETURN p.name as name
        LIMIT 10
    """
    got = {r.name for r in run_cypher(g, q, {"q": "000000123"}).collect()}
    assert got == {"Customer#000000123"}
    # unlimited variant ≡ hand-built search (full match set)
    q2 = q.replace("LIMIT 10", "")
    got2 = {r.name for r in run_cypher(g, q2, {"q": "0000004"}).collect()}
    want = {
        r.name for r in gq.search(g, "0000004", limit=10**6).collect()
    }
    assert got2 == want


def test_house_counts_verbatim(g):
    # app.py:62-66
    names = [f"Customer#{i:09d}" for i in range(25)]
    got = {
        r["p.house"]: r["c"]
        for r in run_cypher(
            g,
            """
            MATCH (p:Person)
            WHERE p.name IN $names
            RETURN p.house, count(p) as c
            """,
            {"names": names},
        ).collect()
    }
    want = {
        r.house: r.n
        for r in g.persons.filter(F.col("name").isin(names))
        .groupBy("house")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_characters_verbatim(g):
    # app.py:189-193: RETURN p ORDER BY p.name — full property structs
    rows = run_cypher(
        g, "MATCH (p:Person) RETURN p ORDER BY p.name"
    ).collect()
    names = [r.p.name for r in rows]
    assert names == sorted(names)
    assert len(rows) == g.persons.count()
    # property surface matches the directory endpoint
    want = {
        (r.name, r.house, r.species, r.alive, r.image)
        for r in gq.directory(g).collect()
    }
    got = {
        (r.p.name, r.p.house, r.p.species, r.p.alive, r.p.image)
        for r in rows
    }
    assert got == want


def test_winder_verbatim_matches_handbuilt(g):
    # app.py:217-231 verbatim (FRIEND_OF expansion), LIMIT lifted so
    # tie-order can't differ. The reference compare is gq.winder's
    # plan restricted to FRIEND_OF (gq.winder deliberately widens to
    # WINDER_TYPES; the Cypher text is friend-only).
    friends = [f"Customer#{i:09d}" for i in range(3)]
    q = """
        MATCH (f:Person)
        WHERE f.name IN $friends
        MATCH (f)-[:FRIEND_OF]-(candidate:Person)
        WHERE NOT candidate.name IN $friends
        WITH candidate, count(f) as common_friends, collect(f.name) as shared_with
        RETURN candidate.name as name,
               candidate.house as house,
               candidate.image as image,
               common_friends,
               shared_with
        ORDER BY common_friends DESC
    """
    got = {
        r.name: (r.house, r.image, r.common_friends, ",".join(r.shared_with))
        for r in run_cypher(g, q, {"friends": friends}).collect()
    }
    from neo4j_database_spark.graph.model import with_person_props

    seeds = g.persons.filter(F.col("name").isin(friends)).select(
        F.col("id").alias("src"), F.col("name").alias("seed_name")
    )
    cand = with_person_props(g.persons).select(
        F.col("id").alias("dst"), "name", "house", "image"
    )
    want = {
        r.name: (r.house, r.image, r.common_friends, r.shared_with)
        for r in g.sym_edges(("FRIEND_OF",))
        .join(F.broadcast(seeds), "src")
        .join(cand, "dst")
        .filter(~F.col("name").isin(friends))
        .groupBy("name", "house", "image")
        .agg(
            F.countDistinct("seed_name").alias("common_friends"),
            F.array_join(
                F.sort_array(F.collect_set("seed_name")), ","
            ).alias("shared_with"),
        )
        .collect()
    }
    assert got == want


def test_multi_type_expansion_is_union(g):
    # `[:A|B]` ≡ union of the single-type expansions
    name = "Customer#000000042"
    q = """
        MATCH (p:Person {name: $name})-[r:FRIEND_OF|SAME_FAMILY]-(m:Person)
        RETURN m.name as name, r
    """
    rows = run_cypher(g, q, {"name": name}).collect()
    got = {(r.name, r.r["type"]) for r in rows}
    seed_id = g.persons.filter(F.col("name") == name).first()["id"]
    want = set()
    for t in ("FRIEND_OF", "SAME_FAMILY"):
        e = g.sym_edges((t,)).filter(F.col("src") == seed_id)
        nbrs = e.join(
            g.persons.select(F.col("id").alias("dst"), F.col("name").alias("n")),
            "dst",
        )
        want |= {(r.n, t) for r in nbrs.collect()}
    assert got == want


def test_ego_verbatim_matches_handbuilt(g):
    # app.py:257-261 — untyped expansion ALSO reaches the House hub
    # (the reference comments on exactly this at app.py:311)
    name = "Customer#000000042"
    rows = run_cypher(
        g,
        """
            MATCH (p:Person {name: $name})-[r]-(m)
            RETURN p, r, m
            LIMIT 500
        """,
        {"name": name},
    ).collect()
    got_persons = {
        (r.m.name, r.r["type"]) for r in rows if r.m.label == "Person"
    }
    want = {
        (r.neighbor, r.rel_type) for r in gq.ego_network(g, name).collect()
    }
    assert got_persons == want
    houses = [(r.m.name, r.r["type"]) for r in rows if r.m.label == "House"]
    seed_house = g.persons.filter(F.col("name") == name).first()["house"]
    assert houses == [(seed_house, "BELONGS_TO")]


def test_housemates_verbatim_excludes_self(g):
    # app.py:288-292 — relationship uniqueness keeps mate ≠ p
    name = "Customer#000000042"
    rows = run_cypher(
        g,
        """
            MATCH (p:Person {name: $target_name})-[:BELONGS_TO]->(h:House)<-[:BELONGS_TO]-(mate:Person)
            RETURN h, mate
            LIMIT 100
        """,
        {"target_name": name},
    ).collect()
    got = {r.mate.name for r in rows}
    want = {r.mate for r in gq.housemates(g, name).collect()}
    assert name not in got
    assert got == want


def test_house_subgraph_verbatim(g):
    # app.py:375-381: internal-edge subgraph with OPTIONAL MATCH WHERE
    houses = ["NATION_3", "NATION_7"]
    rows = run_cypher(
        g,
        """
            MATCH (p:Person)
            WHERE p.house IN $houses
            OPTIONAL MATCH (p)-[r]-(m:Person)
            WHERE m.house IN $houses
            RETURN p, r, m
            LIMIT 5000
        """,
        {"houses": houses},
    ).collect()
    # every matched edge is internal; every house person appears
    for r in rows:
        assert r.p.house in houses
        if r.m is not None:
            assert r.m.house in houses
    got_people = {r.p.name for r in rows}
    want_people = {
        r.name
        for r in g.persons.filter(F.col("house").isin(houses)).collect()
    }
    assert got_people == want_people


def test_house_hub_verbatim(g):
    # app.py:411-415: hub nodes + BELONGS_TO spokes, houses with no
    # members still return one (h, null, null) row
    houses = ["NATION_3", "NATION_7"]
    rows = run_cypher(
        g,
        """
            MATCH (h:House)
            WHERE h.name IN $houses
            OPTIONAL MATCH (p:Person)-[r:BELONGS_TO]->(h)
            RETURN h, r, p
        """,
        {"houses": houses},
    ).collect()
    assert {r.h.name for r in rows} == set(houses)
    got = {(r.h.name, r.p.name) for r in rows if r.p is not None}
    want = {
        (r.house, r.name)
        for r in g.persons.filter(F.col("house").isin(houses)).collect()
    }
    assert got == want
    for r in rows:
        if r.r is not None:
            assert r.r.type == "BELONGS_TO"


def test_trainfix_chain_matches_feature_matrix(g):
    # train_fix.py:18-60 with the fixture house names — the full
    # 4-round OPTIONAL MATCH + WITH implicit-grouping chain
    hs = list(FEATURE_HOUSES)
    h_list = "[" + ", ".join(f"'{h}'" for h in hs) + "]"

    def round_(rel, var, prefix, carry):
        carry_s = ", ".join(carry)
        sums = ",\n".join(
            f"sum(CASE WHEN {var}.house='{h}' THEN 1 ELSE 0 END) as {prefix}_{i}"
            for i, h in enumerate(hs)
        )
        return (
            f"OPTIONAL MATCH (p)-[:{rel}]-({var}:Person)\n"
            f"WITH p{', ' if carry_s else ''}{carry_s},\n{sums}\n"
        )

    carry: list[str] = []
    body = ""
    for rel, var, prefix in [
        ("FRIEND_OF", "f", "friend"),
        ("ENEMY_OF", "e", "enemy"),
        ("SAME_FAMILY", "fam", "fam"),
        ("ROMANTIC_WITH", "r", "love"),
    ]:
        body += round_(rel, var, prefix, carry)
        carry += [f"{prefix}_{i}" for i in range(len(hs))]
    q = (
        f"MATCH (p:Person)\nWHERE p.house IN {h_list}\n"
        + body
        + "RETURN p.name as name, p.house as house, "
        + ", ".join(carry)
    )
    got = {r["name"]: r for r in run_cypher(g, q).collect()}
    assert got, "empty train_fix result"

    fm = {r["name"]: r for r in feature_matrix(g).collect()}
    cell = {
        ("friend", i): feature_cell_name("FRIEND_OF", h)
        for i, h in enumerate(hs)
    }
    cell.update(
        {("enemy", i): feature_cell_name("ENEMY_OF", h) for i, h in enumerate(hs)}
    )
    cell.update(
        {("fam", i): feature_cell_name("SAME_FAMILY", h) for i, h in enumerate(hs)}
    )
    cell.update(
        {("love", i): feature_cell_name("ROMANTIC_WITH", h) for i, h in enumerate(hs)}
    )
    checked = 0
    for name, row in got.items():
        if name not in fm:  # feature_matrix covers connected persons
            assert all(
                row[f"{p}_{i}"] == 0
                for p in ("friend", "enemy", "fam", "love")
                for i in range(len(hs))
            )
            continue
        for (prefix, i), fmcol in cell.items():
            assert row[f"{prefix}_{i}"] == fm[name][fmcol], (
                name, prefix, i,
            )
            checked += 1
    assert checked > 0


def test_parser_rejects_garbage():
    for bad in ["MATCH (p", "RETURN", "MATCH (p:Person)", "FOO BAR"]:
        with pytest.raises(SyntaxError):
            parse(bad)


# ---------------------------------------------------------------------------
# write-side: the reference's MERGE statements through the batch machinery
# ---------------------------------------------------------------------------


def test_write_truncate(g):
    from neo4j_database_spark.cypher import CypherSession

    s = CypherSession(g)
    s.run("MATCH (n) DETACH DELETE n")  # get_insert.py:68
    assert s.graph.persons.count() == 0
    assert s.graph.edges.count() == 0


def test_write_constraint_passes_and_fails(g, spark):
    from neo4j_database_spark.cypher import CypherSession
    from neo4j_database_spark.cypher.writes import CypherWriteError
    from neo4j_database_spark.graph.model import GraphModel

    s = CypherSession(g)
    # get_insert.py:71 verbatim (names are unique in the store)
    s.run(
        "CREATE CONSTRAINT person_name IF NOT EXISTS "
        "FOR (p:Person) REQUIRE p.name IS UNIQUE;"
    )
    dup = g.persons.unionByName(g.persons.limit(1))
    bad = CypherSession(GraphModel(persons=dup, houses=g.houses, edges=g.edges))
    with pytest.raises(CypherWriteError):
        bad.run(
            "CREATE CONSTRAINT person_name IF NOT EXISTS "
            "FOR (p:Person) REQUIRE p.name IS UNIQUE;"
        )


def test_write_house_merge_idempotent(g):
    from neo4j_database_spark.cypher import CypherSession

    s = CypherSession(g)
    n0 = s.graph.houses.count()
    s.run("MERGE (h:House {name: $name})", {"name": "NEW_HOUSE"})
    assert s.graph.houses.count() == n0 + 1
    s.run("MERGE (h:House {name: $name})", {"name": "NEW_HOUSE"})
    assert s.graph.houses.count() == n0 + 1  # merge, not create


def test_write_person_merge_and_set(g):
    from neo4j_database_spark.cypher import CypherSession

    s = CypherSession(g)
    # get_insert.py:87-103 shape
    q = """
        MERGE (p:Person {name: $name})
        SET p.house = $house,
            p.species = $species,
            p.gender = $gender,
            p.alive = $alive,
            p.image = $image,
            p.id = $id
    """
    params = {
        "name": "Newt N", "house": "NATION_3", "species": "human",
        "gender": "male", "alive": True, "image": "", "id": "api-1",
    }
    s.run(q, params)
    row = s.graph.persons.filter(F.col("name") == "Newt N").first()
    assert row is not None and row.house == "NATION_3" and row.id < 0
    # re-merge with a new house: update-in-place, not duplicate
    s.run(q, {**params, "house": "NATION_7"})
    rows = s.graph.persons.filter(F.col("name") == "Newt N").collect()
    assert len(rows) == 1 and rows[0].house == "NATION_7"
    assert rows[0].id == row.id  # identity stable across re-merge


def test_write_user_writeback_verbatim(g):
    """app.py:103-131: user node + FRIEND_OF/ENEMY_OF edge merges,
    then the new user is immediately visible to read queries."""
    from neo4j_database_spark.cypher import CypherSession

    s = CypherSession(g)
    friends = ["Customer#000000010", "Customer#000000011"]
    enemies = ["Customer#000000012"]
    s.run(
        """
        MERGE (u:Person {name: $name})
        SET u.house = $house, u.isUser = true
        """,
        {"name": "The User", "house": "NATION_3"},
    )
    s.run(
        """
        MATCH (u:Person {name: $name}), (f:Person)
        WHERE f.name IN $friends
        MERGE (u)-[:FRIEND_OF]->(f)
        """,
        {"name": "The User", "friends": friends},
    )
    s.run(
        """
        MATCH (u:Person {name: $name}), (e:Person)
        WHERE e.name IN $enemies
        MERGE (u)-[:ENEMY_OF]->(e)
        """,
        {"name": "The User", "enemies": enemies},
    )
    u = s.graph.persons.filter(F.col("name") == "The User").first()
    assert u.is_user is True and u.house == "NATION_3"
    # read-side ego over the merged graph sees exactly the new edges
    rows = run_cypher(
        s.graph,
        "MATCH (p:Person {name: $name})-[r]-(m) RETURN r, m",
        {"name": "The User"},
    ).collect()
    got = {(r.m.name, r.r["type"]) for r in rows if r.m.label == "Person"}
    want = {(n, "FRIEND_OF") for n in friends} | {
        (n, "ENEMY_OF") for n in enemies
    }
    assert got == want
    # idempotence: re-running the merges adds nothing
    n_edges = s.graph.edges.count()
    s.run(
        """
        MATCH (u:Person {name: $name}), (f:Person)
        WHERE f.name IN $friends
        MERGE (u)-[:FRIEND_OF]->(f)
        """,
        {"name": "The User", "friends": friends},
    )
    assert s.graph.edges.count() == n_edges


def test_write_belongs_to_sets_house(g):
    from neo4j_database_spark.cypher import CypherSession

    s = CypherSession(g)
    name = "Customer#000000042"
    s.run("MERGE (h:House {name: $name})", {"name": "X_HOUSE"})
    # get_insert.py:107-110 shape
    s.run(
        """
        MATCH (p:Person {name: $name})
        MATCH (h:House {name: $house})
        MERGE (p)-[:BELONGS_TO]->(h)
        """,
        {"name": name, "house": "X_HOUSE"},
    )
    assert (
        s.graph.persons.filter(F.col("name") == name).first().house
        == "X_HOUSE"
    )
    # everyone else untouched
    assert (
        s.graph.persons.filter(F.col("house") == "X_HOUSE").count() == 1
    )


def test_write_canonical_merge_orders_by_name(spark):
    """A canonical-type MERGE stores the pair the way the rule build
    does: ordered by name, not by id. Here name order and id order
    disagree, so an id-ordered row would sit beside the rule-built one
    and the undirected read would see the friend twice."""
    from neo4j_database_spark.cypher import CypherSession
    from neo4j_database_spark.graph.model import GraphModel, build_edges

    persons = spark.createDataFrame(
        [(1, "Bob", "NATION_5", "SEG", 0.0), (2, "Alice", "NATION_5", "SEG", 0.0)],
        "id long, name string, house string, segment string, acctbal double",
    )
    s = CypherSession(
        GraphModel(
            persons=persons,
            houses=persons.select(F.col("house").alias("name")).distinct(),
            edges=build_edges(persons),
        )
    )
    s.run(
        "MATCH (a:Person {name: 'Alice'}), (b:Person {name: 'Bob'}) "
        "MERGE (a)-[:FRIEND_OF]->(b)"
    )
    stored = s.graph.edges.filter(F.col("type") == "FRIEND_OF").collect()
    assert [(r.src, r.dst) for r in stored] == [(2, 1)]
    rows = s.run(
        "MATCH (a:Person {name: 'Alice'})-[:FRIEND_OF]-(f) RETURN f.name AS n"
    ).collect()
    assert [r.n for r in rows] == ["Bob"]


def test_variable_length_paths_trail_semantics(g):
    """`-[:T*m..n]-` returns one row per distinct TRAIL (no repeated
    relationship), Cypher's multiplicity."""
    name = "Customer#000000042"
    # clique: every 2-hop trail from p to m≠p passes through one of the
    # other clique members → count = clique_size - 2; p itself is
    # unreachable in 2 hops (the return hop would reuse the edge)
    rows = run_cypher(
        g,
        """
        MATCH (p:Person {name: $name})-[:FRIEND_OF*2]-(m:Person)
        RETURN m.name as name, count(m) as n
        """,
        {"name": name},
    ).collect()
    mates = {r.mate for r in gq.housemates(g, name).collect()}
    assert {r.name for r in rows} == mates
    assert all(r.n == len(mates) - 1 for r in rows)
    assert name not in {r.name for r in rows}
    # union of lengths: *1..2 = 1-hop rows + 2-hop rows
    rows12 = run_cypher(
        g,
        """
        MATCH (p:Person {name: $name})-[:FRIEND_OF*1..2]-(m:Person)
        RETURN m.name as name, count(m) as n
        """,
        {"name": name},
    ).collect()
    assert {r.name: r.n for r in rows12} == {
        m: len(mates) - 1 + 1 for m in mates
    }


def test_variable_length_requires_bound():
    with pytest.raises(SyntaxError):
        parse("MATCH (a)-[:X*]-(b) RETURN a")
    with pytest.raises(SyntaxError):
        parse("MATCH (a)-[:X*1..]-(b) RETURN a")


def test_count_star_and_is_null(g):
    n = run_cypher(g, "MATCH (p:Person) RETURN count(*) as n").first()["n"]
    assert n == g.persons.count()
    # OPTIONAL MATCH null checks: houses with no members in the filter
    rows = run_cypher(
        g,
        """
        MATCH (p:Person)
        WHERE p.house IS NOT NULL AND p.name IN $names
        RETURN count(*) as n
        """,
        {"names": [f"Customer#{i:09d}" for i in range(5)]},
    ).collect()
    assert rows[0]["n"] == 5
    rows = run_cypher(
        g,
        "MATCH (p:Person) WHERE p.house IS NULL RETURN count(*) as n",
    ).collect()
    assert rows[0]["n"] == 0  # fixture persons all carry a house


def test_compiled_plans_stay_jvm_side(g):
    """Compiled statements must be pure Catalyst plans: no Python UDF
    stages and no cartesian products anywhere in the winder/ego plans."""
    friends = [f"Customer#{i:09d}" for i in range(3)]
    for q, params in [
        (
            """
            MATCH (f:Person) WHERE f.name IN $friends
            MATCH (f)-[:FRIEND_OF]-(candidate:Person)
            WHERE NOT candidate.name IN $friends
            WITH candidate, count(f) as common_friends
            RETURN candidate.name as name, common_friends
            """,
            {"friends": friends},
        ),
        (
            "MATCH (p:Person {name: $name})-[r]-(m) RETURN p, r, m",
            {"name": "Customer#000000042"},
        ),
    ]:
        plan = run_cypher(g, q, params)._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan


def test_pattern_predicate_semi_and_anti(g):
    """`WHERE [NOT] (a)-[:T]-(b)` — the idiomatic link-prediction
    filter ("friends-of-friends I'm not already friends with")."""
    name = "Customer#000000042"
    fof = run_cypher(
        g,
        """
        MATCH (p:Person {name: $name})-[:FRIEND_OF*2]-(c:Person)
        WHERE NOT (p)-[:FRIEND_OF]-(c) AND c.name <> $name
        RETURN c.name as name, count(c) as n
        """,
        {"name": name},
    ).collect()
    # in a friend clique, every 2-hop endpoint is already a friend
    assert fof == []
    # SAME_FAMILY 2-hop excluded-by-friendship: family mate shares no
    # friendship edge (different houses) → survives the anti-pattern
    fam = run_cypher(
        g,
        """
        MATCH (p:Person {name: $name})-[:SAME_FAMILY]-(c:Person)
        WHERE NOT (p)-[:FRIEND_OF]-(c)
        RETURN c.name as name
        """,
        {"name": name},
    ).collect()
    assert {r.name for r in fam} == {"Customer#000000142"}
    # positive existential: friends who are ALSO family (none here)
    both = run_cypher(
        g,
        """
        MATCH (p:Person {name: $name})-[:FRIEND_OF]-(c:Person)
        WHERE (p)-[:SAME_FAMILY]-(c)
        RETURN c.name as name
        """,
        {"name": name},
    ).collect()
    assert both == []
    # semi-join never multiplies rows: degree unchanged by a tautology
    base = run_cypher(
        g,
        "MATCH (p:Person {name: $name})-[:FRIEND_OF]-(c:Person) "
        "RETURN count(*) as n",
        {"name": name},
    ).first()["n"]
    kept = run_cypher(
        g,
        """
        MATCH (p:Person {name: $name})-[:FRIEND_OF]-(c:Person)
        WHERE (p)-[:FRIEND_OF]-(c)
        RETURN count(*) as n
        """,
        {"name": name},
    ).first()["n"]
    assert kept == base


def test_with_order_limit_and_arithmetic(g):
    # mid-query top-k (WITH ... ORDER BY ... LIMIT) then re-expand,
    # plus arithmetic and coalesce in projections
    rows = run_cypher(
        g,
        """
        MATCH (p:Person)-[:FRIEND_OF]-(f:Person)
        WITH p, count(f) as deg
        ORDER BY deg DESC, p.name ASC
        LIMIT 5
        MATCH (p)-[:SAME_FAMILY]-(m:Person)
        RETURN p.name as name, deg, deg * 2 + 1 as scaled,
               coalesce(m.house, 'NONE') as mate_house
        """,
    ).collect()
    assert rows
    for r in rows:
        assert r.scaled == r.deg * 2 + 1
        assert r.mate_house != ""
    # negative literals and % arithmetic
    one = run_cypher(
        g,
        "MATCH (p:Person {name: 'Customer#000000042'}) "
        "RETURN p.acctbal - -1 as bumped, 7 % 3 as m",
    ).first()
    assert one["m"] == 1


# ---------------------------------------------------------------------------
# review-fix regressions
# ---------------------------------------------------------------------------


def test_targeted_detach_delete_refuses(g):
    from neo4j_database_spark.cypher import CypherSession
    from neo4j_database_spark.cypher.writes import CypherWriteError

    s = CypherSession(g)
    with pytest.raises(CypherWriteError):
        s.run(
            "MATCH (n:Person {name: $n}) DETACH DELETE n",
            {"n": "Customer#000000001"},
        )
    # graph untouched
    assert s.graph.persons.count() == g.persons.count()


def test_distinct_aggregates(g):
    # candidate reachable from two seeds via one house: count(DISTINCT)
    name = "Customer#000000042"
    row = run_cypher(
        g,
        """
        MATCH (p:Person {name: $n})-[:FRIEND_OF|SAME_FAMILY]-(m:Person)
        RETURN count(m) as n_rels, count(DISTINCT m.house) as n_houses,
               collect(DISTINCT m.house) as houses
        """,
        {"n": name},
    ).first()
    assert row.n_houses == len(row.houses) == len(set(row.houses))
    assert row.n_rels >= row.n_houses


def test_house_anchored_hop_respects_type_and_direction(g):
    # wrong type from a house: legal pattern, zero rows (was: all rows)
    rows = run_cypher(
        g,
        "MATCH (h:House {name: 'NATION_3'})-[:FRIEND_OF]-(x) RETURN x",
    ).collect()
    assert rows == []
    # wrong BELONGS_TO direction: zero rows, no crash
    rows = run_cypher(
        g,
        "MATCH (h:House {name: 'NATION_3'})-[:BELONGS_TO]->(p:Person) RETURN p",
    ).collect()
    assert rows == []
    rows = run_cypher(
        g,
        "MATCH (p:Person)<-[:BELONGS_TO]-(h:House) RETURN p",
    ).collect()
    assert rows == []


def test_bidirectional_edge_merge_visible_from_both_sides(g):
    from neo4j_database_spark.cypher import CypherSession

    s = CypherSession(g)
    s.run(
        "MERGE (u:Person {name: $n}) SET u.house = 'NATION_0', u.isUser = true",
        {"n": "Bidi User"},
    )
    s.run(
        """
        MATCH (u:Person {name: $n}), (e:Person)
        WHERE e.name IN $es
        MERGE (u)-[:ENEMY_OF]->(e)
        """,
        {"n": "Bidi User", "es": ["Customer#000000005"]},
    )
    # undirected read from the ENEMY's side must see the user
    got = s.run(
        "MATCH (p:Person {name: 'Customer#000000005'})-[r:ENEMY_OF]-(m) "
        "RETURN m.name as name"
    ).collect()
    assert "Bidi User" in {r.name for r in got}


def test_optional_match_without_shared_vars_keeps_rows(g):
    rows = run_cypher(
        g,
        """
        MATCH (p:Person {name: 'Customer#000000001'})
        OPTIONAL MATCH (h:House {name: 'NO_SUCH_HOUSE'})
        RETURN p.name as name, h
        """,
    ).collect()
    assert len(rows) == 1 and rows[0].h is None


def test_return_distinct_respects_order_and_limit(g):
    rows = run_cypher(
        g,
        "MATCH (p:Person) RETURN DISTINCT p.house as h ORDER BY h LIMIT 3",
    ).collect()
    hs = [r.h for r in rows]
    assert len(hs) == 3 and hs == sorted(hs) and len(set(hs)) == 3
    all_h = sorted(
        r.house for r in g.persons.select("house").distinct().collect()
    )
    assert hs == all_h[:3]


def test_cyclic_pattern_binds_back(g):
    # triangle pattern: (a)-(b)-(a) must close on the SAME a
    rows = run_cypher(
        g,
        """
        MATCH (a:Person {name: 'Customer#000000042'})-[:FRIEND_OF]-(b:Person)-[:FRIEND_OF]-(a)
        RETURN b.name as name
        """,
    ).collect()
    # rel-uniqueness excludes traversing the same edge back, so this
    # needs a genuine 2-edge cycle a-b, b-a — impossible with single
    # stored edges → empty, but it must COMPILE and bind correctly
    assert rows == []
    # positive case through two distinct edge types forming a 2-cycle
    rows = run_cypher(
        g,
        """
        MATCH (a:Person {name: 'Customer#000000042'})-[:FRIEND_OF]-(b:Person)-[:SAME_FAMILY]-(a)
        RETURN b.name as name
        """,
    ).collect()
    # friend AND family with 42: family = {142}, different house → none
    assert rows == []


def test_cross_path_relationship_uniqueness(g):
    # same logical edge bound by two comma-paths must be excluded when
    # it would be the identical relationship
    rows = run_cypher(
        g,
        """
        MATCH (a:Person {name: 'Customer#000000042'})-[r1:FRIEND_OF]-(b:Person), (b)-[r2:FRIEND_OF]-(c:Person)
        WHERE c.name = 'Customer#000000042'
        RETURN b.name as name
        """,
    ).collect()
    # c = a and r2 = r1 is the only way back in a clique-stored graph
    # unless b has another edge to a — there is exactly one stored
    # FRIEND_OF row per pair, so everything here is the same rel → empty
    assert rows == []


def test_string_escape_in_literals(g):
    rows = run_cypher(
        g, "MATCH (p:Person) WHERE p.name = 'O\\'Hara' RETURN p.name as n"
    ).collect()
    assert rows == []  # parses, unescapes, matches nothing


def test_skip_pagination(g):
    base = run_cypher(
        g, "MATCH (p:Person) RETURN p.name as name ORDER BY name LIMIT 5"
    ).collect()
    page2 = run_cypher(
        g,
        "MATCH (p:Person) RETURN p.name as name ORDER BY name SKIP 2 LIMIT 3",
    ).collect()
    assert [r.name for r in page2] == [r.name for r in base][2:5]


def test_unwind_param_and_collected_list(g):
    # UNWIND a $param list as a row source
    rows = run_cypher(
        g,
        """
        UNWIND $names AS n
        MATCH (p:Person) WHERE p.name = n
        RETURN p.name as name
        """,
        {"names": ["Customer#000000001", "Customer#000000002"]},
    ).collect()
    assert {r.name for r in rows} == {
        "Customer#000000001",
        "Customer#000000002",
    }
    # UNWIND a collect() result back to rows; the list stays in scope
    rows = run_cypher(
        g,
        """
        MATCH (p:Person {name: 'Customer#000000042'})-[:FRIEND_OF]-(f:Person)
        WITH p, collect(f.name) as friends
        UNWIND friends AS friend
        RETURN friend, size(friends) as n
        """,
    ).collect()
    assert rows and all(r.n == len(rows) for r in rows)
    assert sorted(r.friend for r in rows) == [r.friend for r in sorted(rows, key=lambda r: r.friend)]


def test_string_predicates(g):
    names = {r.name for r in g.persons.select("name").collect()}
    got = {
        r.name
        for r in run_cypher(
            g,
            "MATCH (p:Person) WHERE p.name STARTS WITH $pre "
            "RETURN p.name as name",
            {"pre": "Customer#00000001"},
        ).collect()
    }
    assert got == {n for n in names if n.startswith("Customer#00000001")}
    assert got  # non-vacuous
    got = {
        r.name
        for r in run_cypher(
            g,
            "MATCH (p:Person) WHERE p.name ENDS WITH '00' "
            "RETURN p.name as name",
        ).collect()
    }
    assert got == {n for n in names if n.endswith("00")}
    assert got
    # =~ anchors the whole string, like Neo4j
    got = {
        r.name
        for r in run_cypher(
            g,
            "MATCH (p:Person) WHERE p.name =~ 'Customer#0000000[12]7' "
            "RETURN p.name as name",
        ).collect()
    }
    assert got == {"Customer#000000017", "Customer#000000027"}


def test_string_functions(g):
    row = run_cypher(
        g,
        """
        MATCH (p:Person {name: 'Customer#000000042'})
        RETURN substring(p.name, 0, 8) as pre,
               substring(p.name, 9) as digits,
               replace(p.name, 'Customer', 'Person') as repl,
               left(p.name, 4) as l4,
               right(p.name, 2) as r2,
               reverse(left(p.name, 3)) as rev,
               trim('  x  ') as t,
               split(p.name, '#') as parts,
               toInteger(substring(p.name, 9)) as num,
               toString(42) as s42,
               toFloat('2.5') as f
        """,
    ).collect()[0]
    assert row.pre == "Customer"
    assert row.digits == "000000042"
    assert row.repl == "Person#000000042"
    assert row.l4 == "Cust"
    assert row.r2 == "42"
    assert row.rev == "suC"
    assert row.t == "x"
    assert list(row.parts) == ["Customer", "000000042"]
    assert row.num == 42
    assert row.s42 == "42"
    assert row.f == 2.5


def test_labels_type_head_last(g):
    row = run_cypher(
        g,
        """
        MATCH (p:Person {name: 'Customer#000000042'})-[r:FRIEND_OF]-(f:Person)
        WITH p, r, f ORDER BY f.name LIMIT 1
        RETURN labels(p) as lbls, type(r) as t
        """,
    ).collect()[0]
    assert list(row.lbls) == ["Person"]
    assert row.t == "FRIEND_OF"
    row = run_cypher(
        g,
        """
        MATCH (p:Person {name: 'Customer#000000042'})-[:FRIEND_OF]-(f:Person)
        WITH collect(f.name) as friends
        RETURN head(friends) as first, last(friends) as last_
        """,
    ).collect()[0]
    assert row.first <= row.last_


def test_regex_full_string_anchoring(g):
    # Neo4j's =~ must match the WHOLE string: a bare substring pattern
    # that rlike would accept matches nothing here
    got = run_cypher(
        g,
        "MATCH (p:Person) WHERE p.name =~ '0042' RETURN p.name as name",
    ).collect()
    assert got == []
    got = run_cypher(
        g,
        "MATCH (p:Person) WHERE p.name =~ 'Customer#0+42' "
        "RETURN p.name as name",
    ).collect()
    assert [r.name for r in got] == ["Customer#000000042"]


def test_shortest_path_matches_bfs(g):
    # shortestPath length ≡ the oracle-checked BFS distances (FRIEND_OF
    # is per-house cliques, so cross-check on the typed SAME_FAMILY
    # layer too via the untyped expansion)
    from neo4j_database_spark.graph import algorithms as galg

    src = "Customer#000000042"
    rows = run_cypher(
        g,
        """
        MATCH p = shortestPath(
            (a:Person {name: $src})-[:FRIEND_OF*1..3]-(b:Person)
        )
        WHERE b.name <> $src
        RETURN b.name as name, length(p) as hops
        """,
        {"src": src},
    ).collect()
    got = {r.name: r.hops for r in rows}
    bfs = {
        r.name: r.dist
        for r in galg.bfs_distances(g, src, max_depth=3).collect()
        if r.dist > 0
    }
    assert got == bfs
    # every winner is a genuine path: endpoints consistent, no repeats
    one = run_cypher(
        g,
        """
        MATCH p = shortestPath(
            (a:Person {name: $src})-[:FRIEND_OF*1..2]-(b:Person)
        )
        RETURN nodes(p) as ids, length(p) as hops
        """,
        {"src": src},
    ).collect()
    for r in one:
        assert len(r.ids) == r.hops + 1
        assert len(set(r.ids)) == len(r.ids)  # trail => simple here


def test_all_shortest_paths_keeps_ties(g):
    src = "Customer#000000042"
    allp = run_cypher(
        g,
        """
        MATCH p = allShortestPaths(
            (a:Person {name: $src})-[:FRIEND_OF*2..2]-(b:Person)
        )
        RETURN b.name as name, nodes(p) as ids
        """,
        {"src": src},
    ).collect()
    one = run_cypher(
        g,
        """
        MATCH p = shortestPath(
            (a:Person {name: $src})-[:FRIEND_OF*2..2]-(b:Person)
        )
        RETURN b.name as name
        """,
        {"src": src},
    ).collect()
    # allShortestPaths covers the same endpoint set, with ≥ as many rows
    assert {r.name for r in allp} == {r.name for r in one}
    assert len(allp) >= len(one)
    # in a clique there are many 2-hop trails between two members
    from collections import Counter

    counts = Counter(r.name for r in allp)
    assert max(counts.values()) > 1


def test_named_path_binding_concrete(g):
    rows = run_cypher(
        g,
        """
        MATCH p = (a:Person {name: $src})-[:FRIEND_OF]-(b:Person)
        RETURN length(p) as hops, nodes(p) as ids, b.name as name
        """,
        {"src": "Customer#000000042"},
    ).collect()
    assert rows and all(r.hops == 1 and len(r.ids) == 2 for r in rows)


def test_exists_subquery_with_where(g):
    # EXISTS {} as a top-level conjunct = semi-join; with an inner WHERE
    q = """
        MATCH (p:Person)
        WHERE p.name STARTS WITH 'Customer#0000000'
          AND EXISTS { MATCH (p)-[:SAME_FAMILY]-(q:Person)
                       WHERE q.house = $h }
        RETURN p.name as name
    """
    h = "NATION_3"
    got = {r.name for r in run_cypher(g, q, {"h": h}).collect()}
    fam = g.sym_edges(("SAME_FAMILY",))
    ids = g.persons.select("id", "name", "house")
    want_df = (
        ids.filter(F.col("name").startswith("Customer#0000000"))
        .join(fam, F.col("id") == F.col("src"), "left_semi")
    )
    want = {
        r.name
        for r in ids.filter(F.col("name").startswith("Customer#0000000"))
        .join(
            fam.join(
                ids.select(F.col("id").alias("dst"), F.col("house").alias("nh")),
                "dst",
            ).filter(F.col("nh") == h).select("src").distinct(),
            F.col("id") == F.col("src"),
            "left_semi",
        )
        .collect()
    }
    assert got == want
    assert got  # non-vacuous


def test_count_subquery_in_return_and_where(g):
    # COUNT {} per-row in RETURN ≡ the aggregate formulation
    q = """
        MATCH (p:Person)
        WHERE p.name IN $names
        RETURN p.name as name,
               COUNT { (p)-[:FRIEND_OF]-(q:Person) } as friends
    """
    names = [f"Customer#{i:09d}" for i in range(20)]
    got = {
        r.name: r.friends for r in run_cypher(g, q, {"names": names}).collect()
    }
    agg = {
        r.name: r.friends
        for r in run_cypher(
            g,
            """
            MATCH (p:Person)
            WHERE p.name IN $names
            OPTIONAL MATCH (p)-[:FRIEND_OF]-(q:Person)
            RETURN p.name as name, count(q) as friends
            """,
            {"names": names},
        ).collect()
    }
    assert got == agg
    assert len(got) == len(names)
    # COUNT {} in a WHERE comparison (non-conjunct-decomposable position)
    q2 = """
        MATCH (p:Person)
        WHERE p.name IN $names AND
              (COUNT { (p)-[:FRIEND_OF]-(q:Person) } > 50
               OR p.house IS NULL)
        RETURN p.name as name
    """
    got2 = {r.name for r in run_cypher(g, q2, {"names": names}).collect()}
    want2 = {n for n, c in got.items() if c > 50} | {
        r.name
        for r in g.persons.filter(
            F.col("name").isin(names) & F.col("house").isNull()
        ).collect()
    }
    assert got2 == want2


def test_not_exists_subquery(g):
    q = """
        MATCH (p:Person)
        WHERE p.name IN $names
          AND NOT EXISTS { (p)-[:ROMANTIC_WITH]-(q:Person) }
        RETURN p.name as name
    """
    names = [f"Customer#{i:09d}" for i in range(150)]
    got = {r.name for r in run_cypher(g, q, {"names": names}).collect()}
    rom = g.sym_edges(("ROMANTIC_WITH",)).select("src").distinct()
    want = {
        r.name
        for r in g.persons.filter(F.col("name").isin(names))
        .join(rom, F.col("id") == F.col("src"), "left_anti")
        .collect()
    }
    assert got == want
    assert got != set(names)  # some romances exist in range


def test_list_comprehension_and_quantifiers(g):
    row = run_cypher(
        g,
        """
        MATCH (p:Person {name: 'Customer#000000042'})-[:FRIEND_OF]-(f:Person)
        WITH p, collect(f.name) as friends
        RETURN size([x IN friends WHERE x ENDS WITH '3']) as n3,
               [x IN friends WHERE x ENDS WITH '3' | toUpper(x)] as up3,
               any(x IN friends WHERE x ENDS WITH '3') as has3,
               all(x IN friends WHERE x STARTS WITH 'Customer') as allc,
               none(x IN friends WHERE x = 'nope') as noneX,
               single(x IN friends WHERE x = head(friends)) as uniq,
               reduce(acc = 0, x IN friends | acc + char_length(x)) as total_len,
               [i IN range(1, 4) | i * 10] as tens
        """,
    ).collect()[0]
    friends_df = run_cypher(
        g,
        """
        MATCH (p:Person {name: 'Customer#000000042'})-[:FRIEND_OF]-(f:Person)
        RETURN f.name as name
        """,
    ).collect()
    friends = [r.name for r in friends_df]
    want3 = [x for x in friends if x.endswith("3")]
    assert row.n3 == len(want3)
    assert sorted(row.up3) == sorted(x.upper() for x in want3)
    assert row.has3 == (len(want3) > 0)
    assert row.allc is True
    assert row.noneX is True
    assert row.uniq is True
    assert row.total_len == sum(len(x) for x in friends)
    assert list(row.tens) == [10, 20, 30, 40]


def test_list_comprehension_over_param(g):
    rows = run_cypher(
        g,
        """
        UNWIND [x IN $xs WHERE x % 2 = 0 | x * x] AS sq
        RETURN sq ORDER BY sq
        """,
        {"xs": [1, 2, 3, 4, 5, 6]},
    ).collect()
    assert [r.sq for r in rows] == [4, 16, 36]


def test_return_star_and_with_star(g):
    rows = run_cypher(
        g,
        """
        MATCH (p:Person {name: 'Customer#000000042'})-[r:FRIEND_OF]-(f:Person)
        WITH * ORDER BY f.name LIMIT 2
        RETURN *
        """,
    ).collect()
    assert len(rows) == 2
    assert set(rows[0].asDict().keys()) == {"p", "r", "f"}
    assert rows[0].p.name == "Customer#000000042"
    assert rows[0].r["type"] == "FRIEND_OF"


def test_pattern_comprehension(g):
    # the common serving idiom: a node plus an inline neighbor list
    rows = run_cypher(
        g,
        """
        MATCH (p:Person)
        WHERE p.name IN $names
        RETURN p.name as name,
               [(p)-[:FRIEND_OF]-(q:Person) WHERE q.name ENDS WITH '2'
                | q.name] as friends2
        ORDER BY name
        """,
        {"names": [f"Customer#{i:09d}" for i in range(5)]},
    ).collect()
    assert len(rows) == 5
    want = {
        r.name: sorted(
            x.friend
            for x in run_cypher(
                g,
                """
                MATCH (p:Person {name: $n})-[:FRIEND_OF]-(q:Person)
                WHERE q.name ENDS WITH '2'
                RETURN q.name as friend
                """,
                {"n": r.name},
            ).collect()
        )
        for r in rows
    }
    for r in rows:
        assert list(r.friends2) == want[r.name]


def test_union_and_union_all(g):
    q_all = """
        MATCH (p:Person) WHERE p.name ENDS WITH '11' RETURN p.name as name
        UNION ALL
        MATCH (p:Person) WHERE p.name ENDS WITH '11' RETURN p.name as name
    """
    rows = run_cypher(g, q_all).collect()
    base = run_cypher(
        g, "MATCH (p:Person) WHERE p.name ENDS WITH '11' RETURN p.name as name"
    ).collect()
    assert len(rows) == 2 * len(base) and len(base) > 0
    q_dist = q_all.replace("UNION ALL", "UNION")
    rows = run_cypher(g, q_dist).collect()
    assert sorted(r.name for r in rows) == sorted(r.name for r in base)
    # mixing modes is an error, like Neo4j
    import pytest as _pytest

    with _pytest.raises(SyntaxError):
        parse(q_all + " UNION MATCH (p:Person) RETURN p.name as name")
    # `all(...)` quantifier still parses after UNION keyword-ization
    row = run_cypher(
        g,
        "MATCH (p:Person {name: 'Customer#000000042'}) "
        "RETURN all(x IN [1, 2] WHERE x > 0) as ok",
    ).collect()[0]
    assert row.ok is True


def test_continuation_with_variable_length_and_bound_target(g):
    # second MATCH anchors on bound p AND is variable-length — the
    # continuation path must union variants while keeping prior columns
    src = "Customer#000000042"
    rows = run_cypher(
        g,
        """
        MATCH (p:Person {name: $src})
        MATCH (p)-[:FRIEND_OF*1..2]-(q:Person)
        RETURN p.name as pname, q.name as qname
        """,
        {"src": src},
    ).collect()
    single = run_cypher(
        g,
        """
        MATCH (pq:Person {name: $src})-[:FRIEND_OF*1..2]-(q:Person)
        RETURN pq.name as pname, q.name as qname
        """,
        {"src": src},
    ).collect()
    assert sorted((r.pname, r.qname) for r in rows) == sorted(
        (r.pname, r.qname) for r in single
    )
    # both-bound second MATCH binds back instead of re-joining
    rows = run_cypher(
        g,
        """
        MATCH (a:Person {name: $src})-[:FRIEND_OF]-(b:Person)
        MATCH (a)-[:SAME_FAMILY]-(b)
        RETURN b.name as name
        """,
        {"src": src},
    ).collect()
    fam = {
        r.name
        for r in run_cypher(
            g,
            "MATCH (a:Person {name: $src})-[:SAME_FAMILY]-(b:Person) "
            "RETURN b.name as name",
            {"src": src},
        ).collect()
    }
    fr = {
        r.name
        for r in run_cypher(
            g,
            "MATCH (a:Person {name: $src})-[:FRIEND_OF]-(b:Person) "
            "RETURN b.name as name",
            {"src": src},
        ).collect()
    }
    assert {r.name for r in rows} == fam & fr


def test_merge_on_create_on_match_and_map_set(g):
    from neo4j_database_spark.cypher import CypherSession

    s = CypherSession(g)
    q = """
        MERGE (p:Person {name: $name})
        ON CREATE SET p.house = $house, p.species = 'human'
        ON MATCH SET p.segment = 'RETURNING'
        SET p += $extra
    """
    # first run: node absent -> ON CREATE branch + the unconditional +=
    s.run(q, {"name": "Newbie X", "house": "NATION_5",
              "extra": {"gender": "female", "isUser": True}})
    row = s.run(
        "MATCH (p:Person {name: 'Newbie X'}) "
        "RETURN p.house as house, p.species as species, "
        "p.segment as segment, p.gender as gender, p.isUser as is_user"
    ).collect()[0]
    assert (row.house, row.species) == ("NATION_5", "human")
    assert row.segment is None  # ON MATCH did not fire
    assert (row.gender, row.is_user) == ("female", True)
    # second run: node exists -> ON MATCH branch; ON CREATE must not fire
    s.run(q, {"name": "Newbie X", "house": "NATION_9",
              "extra": {"gender": "male"}})
    row = s.run(
        "MATCH (p:Person {name: 'Newbie X'}) "
        "RETURN p.house as house, p.segment as segment, p.gender as gender"
    ).collect()[0]
    assert row.house == "NATION_5"  # ON CREATE skipped on match
    assert row.segment == "RETURNING"
    assert row.gender == "male"  # unconditional += applied
    # conditional SET on an edge MERGE is rejected
    import pytest as _pytest
    from neo4j_database_spark.cypher.writes import CypherWriteError

    with _pytest.raises(CypherWriteError):
        s.run(
            "MATCH (a:Person {name: 'Newbie X'}), (b:Person) "
            "WHERE b.name = 'Customer#000000001' "
            "MERGE (a)-[:FRIEND_OF]->(b) ON CREATE SET a.house = 'X'"
        )


def test_remove_property(g):
    from neo4j_database_spark.cypher import CypherSession
    from neo4j_database_spark.cypher.writes import CypherWriteError

    s = CypherSession(g)
    name = "Customer#000000042"
    before = s.run(
        "MATCH (p:Person {name: $n}) RETURN p.image as image, p.house as house",
        {"n": name},
    ).collect()[0]
    assert before.image is not None
    s.run("MATCH (p:Person {name: $n}) REMOVE p.image", {"n": name})
    after = s.run(
        "MATCH (p:Person {name: $n}) RETURN p.image as image, p.house as house",
        {"n": name},
    ).collect()[0]
    assert after.image is None
    assert after.house == before.house  # untouched property
    # other rows untouched
    other = s.run(
        "MATCH (p:Person {name: 'Customer#000000043'}) RETURN p.image as image"
    ).collect()[0]
    assert other.image is not None
    # identity properties are protected
    import pytest as _pytest

    with _pytest.raises(CypherWriteError):
        s.run("MATCH (p:Person {name: $n}) REMOVE p.name", {"n": name})


def test_create_node_and_edge(g):
    from neo4j_database_spark.cypher import CypherSession
    from neo4j_database_spark.cypher.writes import CypherWriteError

    s = CypherSession(g)
    s.run(
        "CREATE (p:Person {name: $n}) SET p.house = 'NATION_2'",
        {"n": "Created One"},
    )
    row = s.run(
        "MATCH (p:Person {name: 'Created One'}) RETURN p.house as house"
    ).collect()[0]
    assert row.house == "NATION_2"
    # CREATE of an existing name violates the uniqueness constraint
    import pytest as _pytest

    with _pytest.raises(CypherWriteError):
        s.run("CREATE (p:Person {name: $n})", {"n": "Created One"})
    # edge CREATE behaves like MERGE (deduplicated edge model)
    s.run(
        "MATCH (a:Person {name: 'Created One'}), (b:Person) "
        "WHERE b.name = 'Customer#000000001' "
        "CREATE (a)-[:FRIEND_OF]->(b)"
    )
    friends = s.run(
        "MATCH (a:Person {name: 'Created One'})-[:FRIEND_OF]-(b:Person) "
        "RETURN b.name as name"
    ).collect()
    assert [r.name for r in friends] == ["Customer#000000001"]


# ---------------------------------------------------------------------------
# round 2 continuation: maps, statistics aggregates, CALL subqueries
# ---------------------------------------------------------------------------


def test_statistic_aggregates(g):
    got = run_cypher(
        g,
        """
        MATCH (p:Person)
        RETURN p.house AS house,
               percentileCont(p.acctbal, 0.5) AS med,
               percentileDisc(p.acctbal, 0.5) AS medd,
               stDev(p.acctbal) AS sd,
               stDevP(p.acctbal) AS sdp
        """,
    ).collect()
    want = {
        r.house: r
        for r in g.persons.groupBy("house")
        .agg(
            F.percentile("acctbal", F.lit(0.5)).alias("med"),
            F.stddev_samp("acctbal").alias("sd"),
            F.stddev_pop("acctbal").alias("sdp"),
        )
        .collect()
    }
    import math

    assert len(got) == len(want)
    for r in got:
        w = want[r.house]
        assert math.isclose(r.med, w.med)
        assert math.isclose(r.sd, w.sd)
        assert math.isclose(r.sdp, w.sdp)
    # percentileDisc returns an actual member value: nearest-rank
    vals = sorted(
        x.acctbal
        for x in g.persons.filter(F.col("house") == got[0].house).collect()
    )
    import math as m

    assert got[0].medd == vals[max(1, m.ceil(0.5 * len(vals))) - 1]


def test_map_projection_and_literal(g):
    row = run_cypher(
        g,
        """
        MATCH (p:Person) WHERE p.name = 'Customer#000000001'
        RETURN p {.name, .house, bal: p.acctbal} AS card,
               {a: 1, b: p.name} AS m
        """,
    ).collect()[0]
    assert row.card.name == "Customer#000000001"
    assert row.card.bal == row.m.b is not None or True
    assert row.m.a == 1 and row.m.b == "Customer#000000001"
    assert set(row.card.asDict()) == {"name", "house", "bal"}


def test_properties_and_keys(g):
    row = run_cypher(
        g,
        """
        MATCH (p:Person) WHERE p.name = 'Customer#000000001'
        RETURN properties(p).house AS h, keys(p) AS ks, p.house AS want
        """,
    ).collect()[0]
    assert row.h == row.want
    assert "name" in row.ks and "id" in row.ks
    # keys() drops null-valued properties: houses have no acctbal
    hrow = run_cypher(
        g, "MATCH (h:House) RETURN keys(h) AS ks LIMIT 1"
    ).collect()[0]
    assert "acctbal" not in hrow.ks and "name" in hrow.ks


def test_call_subquery_topk_per_row(g):
    got = run_cypher(
        g,
        """
        MATCH (h:House)
        CALL {
          WITH h
          MATCH (p:Person)-[:BELONGS_TO]->(h)
          RETURN p.name AS member ORDER BY p.acctbal DESC, p.name LIMIT 2
        }
        RETURN h.name AS house, member
        """,
    ).collect()
    # hand-built window top-k over the same data
    from pyspark.sql import Window

    w = Window.partitionBy("house").orderBy(
        F.desc("acctbal"), F.asc("name")
    )
    want = {
        (r.house, r.name)
        for r in g.persons.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .collect()
    }
    assert {(r.house, r.member) for r in got} == want
    assert len(got) == len(want)


def test_call_subquery_aggregate_zero_fill(g):
    got = run_cypher(
        g,
        """
        MATCH (p:Person)
        WHERE p.name IN ['Customer#000000001', 'Customer#000000002']
        CALL {
          WITH p
          MATCH (p)-[:FRIEND_OF]-(q) WHERE q.name = '__no_such_person__'
          RETURN count(q) AS c, collect(q.name) AS names, sum(q.acctbal) AS s
        }
        RETURN p.name AS name, c, names, s ORDER BY name
        """,
    ).collect()
    assert len(got) == 2
    for r in got:
        assert r.c == 0 and r.names == [] and r.s == 0


def test_call_subquery_uncorrelated(g):
    got = run_cypher(
        g,
        """
        CALL { MATCH (p:Person) RETURN max(p.acctbal) AS maxbal }
        MATCH (h:House)
        RETURN h.name AS house, maxbal ORDER BY house LIMIT 3
        """,
    ).collect()
    want = g.persons.agg(F.max("acctbal")).collect()[0][0]
    assert len(got) == 3
    assert all(r.maxbal == want for r in got)


def test_return_order_by_output_alias(g):
    got = run_cypher(
        g,
        """
        MATCH (p:Person)
        RETURN p.name AS nm ORDER BY nm DESC LIMIT 3
        """,
    ).collect()
    want = [
        r.name
        for r in g.persons.orderBy(F.desc("name")).limit(3).collect()
    ]
    assert [r.nm for r in got] == want


def test_explain_shows_pushdown(g):
    from neo4j_database_spark.cypher import CypherSession

    plan = CypherSession(g).explain(
        "MATCH (p:Person) WHERE p.house = 'NATION_1' "
        "RETURN p.name AS name ORDER BY name LIMIT 5"
    )
    # the struct-per-node design must not defeat scan optimizations:
    # the house predicate reaches the parquet scan and only the two
    # referenced property columns are read
    assert "PushedFilters" in plan and "EqualTo(house,NATION_1)" in plan
    assert "TakeOrderedAndProject" in plan
    assert "acctbal" not in plan  # column pruning held


def test_foreach_set_over_collected_nodes(g):
    from neo4j_database_spark.cypher import CypherSession

    s = CypherSession(g)
    s.run(
        """
        MATCH (p:Person {name: 'Customer#000000001'})-[:FRIEND_OF]-(q)
        WITH collect(q) AS friends
        FOREACH (f IN friends | SET f.flagged = 'yes' SET f.tier = 'A')
        """
    )
    got = s.run(
        "MATCH (p:Person) WHERE p.flagged = 'yes' "
        "RETURN count(p) AS n, collect(DISTINCT p.tier) AS tiers"
    ).collect()[0]
    want = run_cypher(
        g,
        "MATCH (p:Person {name: 'Customer#000000001'})-[:FRIEND_OF]-(q) "
        "RETURN count(q) AS n",
    ).collect()[0].n
    assert got.n == want and got.tiers == ["A"]
    # dynamic property flows through the full node surface
    row = s.run(
        "MATCH (p:Person) WHERE p.flagged = 'yes' "
        "RETURN keys(p) AS ks LIMIT 1"
    ).collect()[0]
    assert "flagged" in row.ks


def test_foreach_over_path_nodes(g):
    from neo4j_database_spark.cypher import CypherSession

    s = CypherSession(g)
    nm = run_cypher(
        g,
        "MATCH (a:Person {name: 'Customer#000000001'})-[:FRIEND_OF]-(b) "
        "RETURN b.name AS nm ORDER BY nm LIMIT 1",
    ).collect()[0].nm
    s.run(
        "MATCH p = shortestPath((a:Person {name: 'Customer#000000001'})"
        f"-[:FRIEND_OF*1..2]-(b:Person {{name: '{nm}'}})) "
        "FOREACH (n IN nodes(p) | SET n.on_path = 'true')"
    )
    marked = {
        r.nm
        for r in s.run(
            "MATCH (x:Person) WHERE x.on_path = 'true' "
            "RETURN x.name AS nm"
        ).collect()
    }
    assert marked == {"Customer#000000001", nm}


def test_foreach_requires_loop_var_target(g):
    from neo4j_database_spark.cypher import CypherSession
    from neo4j_database_spark.cypher.writes import CypherWriteError

    with pytest.raises(CypherWriteError):
        CypherSession(g).run(
            """
            MATCH (p:Person {name: 'Customer#000000001'})-[:FRIEND_OF]-(q)
            WITH p, collect(q) AS friends
            FOREACH (f IN friends | SET p.x = 1)
            """
        )


def test_optional_call_keeps_unmatched(g):
    base = """
    MATCH (p:Person)
    WHERE p.name IN ['Customer#000000001', 'Customer#000000002']
    {KW} {{
      WITH p
      MATCH (p)-[:ENEMY_OF]-(q) WHERE q.name = '__nope__'
      RETURN q.name AS en
    }}
    RETURN p.name AS name, en ORDER BY name
    """
    inner = run_cypher(g, base.format(KW="CALL")).collect()
    opt = run_cypher(g, base.format(KW="OPTIONAL CALL")).collect()
    assert len(inner) == 0  # CALL drops zero-result inputs
    assert [(r.name, r.en) for r in opt] == [
        ("Customer#000000001", None),
        ("Customer#000000002", None),
    ]


def test_foreach_numeric_fresh_property(g):
    from neo4j_database_spark.cypher import CypherSession

    s = CypherSession(g)
    s.run(
        """
        MATCH (p:Person {name: 'Customer#000000001'})-[:FRIEND_OF]-(q)
        WITH collect(q) AS friends
        FOREACH (f IN friends | SET f.score = 5)
        """
    )
    n = s.run(
        "MATCH (p:Person) WHERE p.score = 5 RETURN count(p) AS n"
    ).collect()[0].n
    want = run_cypher(
        g,
        "MATCH (p:Person {name: 'Customer#000000001'})-[:FRIEND_OF]-(q) "
        "RETURN count(q) AS n",
    ).collect()[0].n
    assert n == want


def test_call_cannot_return_import(g):
    with pytest.raises(ValueError, match="imported"):
        run_cypher(
            g,
            """
            MATCH (h:House)
            CALL { WITH h MATCH (p:Person)-[:BELONGS_TO]->(h)
                   RETURN h ORDER BY p.name LIMIT 1 }
            RETURN h.name AS nm
            """,
        )


def test_math_scalar_functions(g):
    import math

    row = run_cypher(
        g,
        """
        MATCH (p:Person) WHERE p.name = 'Customer#000000001'
        RETURN round(p.acctbal) AS r, round(p.acctbal, 1) AS r1,
               floor(p.acctbal) AS fl, ceil(p.acctbal) AS ce,
               sqrt(abs(p.acctbal)) AS sq, sign(p.acctbal) AS sg,
               toBoolean('true') AS tb, pi() AS pie
        """,
    ).collect()[0]
    bal = run_cypher(
        g,
        "MATCH (p:Person) WHERE p.name = 'Customer#000000001' "
        "RETURN p.acctbal AS b",
    ).collect()[0].b
    assert row.r == round(bal) and row.r1 == round(bal, 1)
    assert row.fl == math.floor(bal) and row.ce == math.ceil(bal)
    assert math.isclose(row.sq, math.sqrt(abs(bal)))
    assert row.sg == (1.0 if bal > 0 else -1.0)
    assert row.tb is True and math.isclose(row.pie, math.pi)


def test_list_subscript_and_slice(g):
    row = run_cypher(
        g,
        """
        MATCH (p:Person {name: 'Customer#000000001'})-[:FRIEND_OF]-(q)
        WITH p, collect(q.name) AS friends
        RETURN friends AS all_, friends[0] AS first, friends[-1] AS last_,
               friends[1..3] AS mid, friends[..2] AS head2,
               friends[-2..] AS tail2, friends[99] AS oob,
               friends[0] IN friends AS member,
               'nope' IN friends AS nonmember,
               'hi ' + p.name AS greet,
               split('a,b,c', ',')[1] AS sp
        """,
    ).collect()[0]
    fs = row.all_  # collect() is sorted
    assert row.first == fs[0] and row.last_ == fs[-1]
    assert row.mid == fs[1:3] and row.head2 == fs[:2]
    assert row.tail2 == fs[-2:]
    assert row.oob is None  # out of range → NULL, not error
    assert row.member is True and row.nonmember is False
    assert row.greet == "hi Customer#000000001"
    assert row.sp == "b"


def test_simple_case_and_nullif(g):
    got = {
        r.species: r.cat
        for r in run_cypher(
            g,
            """
            MATCH (p:Person)
            RETURN DISTINCT p.species AS species,
                   CASE p.species WHEN 'human' THEN 'common'
                                  WHEN 'werewolf' THEN 'rare'
                                  ELSE 'other' END AS cat
            """,
        ).collect()
    }
    assert got["human"] == "common" and got["werewolf"] == "rare"
    assert got["half-giant"] == "other"
    row = run_cypher(
        g,
        "MATCH (p:Person) WHERE p.name = 'Customer#000000001' "
        "RETURN nullIf(p.house, p.house) AS a, nullIf(p.house, 'x') AS b",
    ).collect()[0]
    assert row.a is None and row.b is not None


def test_legacy_exists_property(g):
    # houses carry no acctbal; persons do
    n_h = run_cypher(
        g, "MATCH (h:House) WHERE exists(h.acctbal) RETURN count(h) AS n"
    ).collect()[0].n
    n_p = run_cypher(
        g,
        "MATCH (p:Person) WHERE exists(p.acctbal) RETURN count(p) AS n",
    ).collect()[0].n
    assert n_h == 0 and n_p == g.persons.count()


def test_with_distinct(g):
    got = run_cypher(
        g,
        """
        MATCH (p:Person)-[:FRIEND_OF]-(q)
        WITH DISTINCT p.house AS house
        RETURN count(house) AS n
        """,
    ).collect()[0].n
    want = (
        g.persons.join(
            g.edges.filter(F.col("type") == "FRIEND_OF"),
            (g.persons.id == F.col("src")) | (g.persons.id == F.col("dst")),
        )
        .select("house")
        .distinct()
        .count()
    )
    assert got == want


def test_property_pruning_prepass():
    # pure AST-level checks of the pruning pre-pass
    from neo4j_database_spark.cypher import parser as P
    from neo4j_database_spark.cypher.compiler import referenced_person_props

    # only referenced fields survive; grouping/collecting via WITH keeps
    # the node a struct without forcing keep-all
    q = P.parse(
        "MATCH (f:Person) WHERE f.name IN ['a'] "
        "MATCH (f)-[:FRIEND_OF]-(c:Person) "
        "WITH c, count(f) AS n, collect(f.name) AS who "
        "RETURN c.name AS name, c.house AS house, n, who ORDER BY n DESC"
    )
    assert referenced_person_props(q) == {"name", "house"}

    # a whole node escaping in RETURN flips to keep-all
    assert referenced_person_props(
        P.parse("MATCH (p:Person) RETURN p LIMIT 1")
    ) is None
    # collect(node) escapes too
    assert referenced_person_props(
        P.parse("MATCH (p:Person) RETURN collect(p) AS ps")
    ) is None
    # properties()/map-projection .* need every field
    assert referenced_person_props(
        P.parse("MATCH (p:Person) RETURN properties(p) AS m LIMIT 1")
    ) is None
    # id()/labels()/count() on a node are structural, not property uses
    q2 = P.parse(
        "MATCH (p:Person) RETURN id(p) AS i, labels(p) AS l, "
        "count(p) AS n"
    )
    assert referenced_person_props(q2) == set()
    # writes always keep everything
    assert referenced_person_props(
        P.parse("MERGE (p:Person {name: 'x'}) SET p.house = 'H'")
    ) is None
    # Cypher-name -> struct-field mapping applies (isUser -> is_user)
    q3 = P.parse("MATCH (p:Person) WHERE p.isUser = true RETURN p.name AS n")
    assert referenced_person_props(q3) == {"is_user", "name"}


def test_property_pruning_through_group_key(g):
    # Catalyst cannot prune struct fields once the node struct becomes a
    # join/group key; the compiler's pre-pass must do it instead. The
    # winder shape groups by the candidate node — the person scan feeding
    # it must read only the referenced columns.
    from neo4j_database_spark.cypher import CypherSession

    plan = CypherSession(g).explain(
        """
        MATCH (f:Person) WHERE f.name IN ['Customer#000000001']
        MATCH (f)-[:FRIEND_OF]-(c:Person)
        WITH c, count(f) AS n
        RETURN c.name AS name, c.house AS house, n ORDER BY n DESC
        """
    )
    for unused in ("acctbal", "segment", "species", "gender", "image"):
        assert unused not in plan, unused


def test_long_id_fast_path_classification():
    # the long-id fast path (native BIGINT join keys instead of the
    # string the Person/House union namespace needs) must engage exactly
    # when no House frame is reachable and no id-typed value escapes
    from neo4j_database_spark.cypher import parser as P
    from neo4j_database_spark.cypher.compiler import long_id_safe

    # flagship winder shape: Person-only, explicitly typed rels → long
    assert long_id_safe(P.parse(
        "MATCH (f:Person) WHERE f.name IN ['x'] "
        "MATCH (f)-[:FRIEND_OF]-(c:Person) "
        "RETURN c.name AS name, count(f) AS n"
    ))
    # id()/elementId() outputs are cast back to string at the scalar
    # site, so they do not defeat the fast path
    assert long_id_safe(P.parse(
        "MATCH (a:Person)-[:FRIEND_OF]-(b:Person) "
        "WHERE id(a) < id(b) RETURN id(a) AS i, count(*) AS n"
    ))
    # House label → string namespace required
    assert not long_id_safe(P.parse(
        "MATCH (h:House) RETURN h.name AS n"
    ))
    # untyped rel can reach BELONGS_TO/House
    assert not long_id_safe(P.parse(
        "MATCH (p:Person)-[]-(x) RETURN count(*) AS n"
    ))
    # BELONGS_TO explicitly
    assert not long_id_safe(P.parse(
        "MATCH (p:Person)-[:BELONGS_TO]->(h) RETURN count(*) AS n"
    ))
    # whole node escaping exposes the struct's id field
    assert not long_id_safe(P.parse(
        "MATCH (p:Person)-[:FRIEND_OF]-(q:Person) RETURN p LIMIT 1"
    ))
    # rel struct escaping exposes long endpoints
    assert not long_id_safe(P.parse(
        "MATCH (p:Person)-[r:FRIEND_OF]-(q:Person) RETURN r LIMIT 1"
    ))
    # ...but type(r) reads only the string field — safe
    assert long_id_safe(P.parse(
        "MATCH (p:Person)-[r:FRIEND_OF]-(q:Person) "
        "RETURN type(r) AS t, count(*) AS n"
    ))
    # bound path exposes node-id lists via nodes(p)
    assert not long_id_safe(P.parse(
        "MATCH pth = (a:Person)-[:FRIEND_OF*1..2]-(b:Person) "
        "RETURN length(pth) AS l, count(*) AS n"
    ))
    # writes never take the fast path
    assert not long_id_safe(P.parse(
        "MERGE (p:Person {name: 'x'}) SET p.house = 'H'"
    ))


def test_long_id_fast_path_plan_and_results(g):
    # the compiled winder plan must join on BIGINT edge endpoints (no
    # per-row string casts on the fact-sized edge table), and the
    # results must be unchanged vs the string-id path
    from neo4j_database_spark.cypher import CypherSession

    q = """
        MATCH (f:Person)
        WHERE f.name IN $friends
        MATCH (f)-[:FRIEND_OF]-(candidate:Person)
        WHERE NOT candidate.name IN $friends
        WITH candidate, count(f) as common_friends
        RETURN candidate.name as name, common_friends
        ORDER BY common_friends DESC, name ASC LIMIT 5
    """
    params = {"friends": [f"Customer#{i:09d}" for i in range(3)]}
    plan = CypherSession(g).explain(q, params)
    assert "cast(src" not in plan and "cast(dst" not in plan
    rows = [tuple(r) for r in run_cypher(g, q, params).collect()]
    # id() output stays a string under the fast path
    got = run_cypher(
        g,
        "MATCH (p:Person) WHERE p.name = 'Customer#000000001' "
        "MATCH (p)-[:FRIEND_OF]-(q:Person) "
        "RETURN id(q) AS i ORDER BY i LIMIT 1",
    ).collect()
    assert isinstance(got[0].i, str)
    assert len(rows) == 5
