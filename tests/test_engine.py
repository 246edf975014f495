"""Serving-facade tests: endpoint parity shapes (SURVEY.md §3.1)."""

from __future__ import annotations

import pytest

from neo4j_database_spark.engine import WinderEngine


@pytest.fixture(scope="module")
def engine(spark, sf_dir) -> WinderEngine:
    return WinderEngine(spark, sf_dir)


def test_characters_sorted(engine):
    chars = engine.characters()
    names = [c["name"] for c in chars]
    assert names == sorted(names) and len(names) > 0
    # full reference property set (app.py:196-202 serves name/house/
    # species/alive/image; plus fixture-mapping segment/acctbal/gender)
    assert set(chars[0]) == {
        "name",
        "house",
        "species",
        "gender",
        "alive",
        "image",
        "segment",
        "acctbal",
    }


def test_search(engine):
    hits = engine.search("000000004")
    assert 0 < len(hits) <= 10
    assert all("000000004" in h["name"] for h in hits)


def test_winder_response_shape(engine):
    out = engine.winder(["Customer#000000000", "Customer#000000001"])
    assert 0 < len(out) <= 3
    # response keys mirror reference app.py:238-244
    assert all(
        set(r) == {"name", "house", "image", "score", "shared_with"}
        and isinstance(r["shared_with"], list)
        for r in out
    )
    with pytest.raises(ValueError):
        engine.winder([])


def test_ego_graph_cytoscape_shape(engine):
    g = engine.ego_graph("Customer#000000042")
    nodes = g["elements"]["nodes"]
    edges = g["elements"]["edges"]
    assert len(nodes) > 1 and len(edges) >= len(nodes) - 1
    ids = {n["data"]["id"] for n in nodes}
    assert len(ids) == len(nodes)  # deduped
    for e in edges:
        assert e["data"]["source"] in ids and e["data"]["target"] in ids


def test_house_graph(engine):
    g = engine.house_graph(["NATION_3", "NATION_7"])
    nodes = g["elements"]["nodes"]
    person_nodes = [n for n in nodes if n["data"]["group"] == "person"]
    hub_nodes = [n for n in nodes if n["data"]["group"] == "house"]
    assert {n["data"]["house"] for n in person_nodes} <= {"NATION_3", "NATION_7"}
    # House hub nodes present (reference app.py:410-434, query #2)
    assert {n["data"]["id"] for n in hub_nodes} == {"NATION_3", "NATION_7"}
    edges = g["elements"]["edges"]
    belongs = [e for e in edges if e["data"]["label"] == "BELONGS_TO"]
    # every member has a BELONGS_TO spoke into its hub
    assert len(belongs) == len(person_nodes) > 0
    hub_ids = {n["data"]["id"] for n in hub_nodes}
    assert all(e["data"]["target"] in hub_ids for e in belongs)
    assert len(edges) > len(belongs)  # person-person edges still there


def test_predict_house_composite_flow(engine):
    """The /predict composite: histogram features -> RF -> writeback."""
    nation_members = engine.housemates("Customer#000000000")[:3]
    out = engine.predict_house(
        "New Student",
        friends=nation_members,
        enemies=["Customer#000000001"],
        write_back=True,
    )
    assert out["predicted_house"].startswith("NATION_")
    # friends are co-nation members of a tracked house → counted; the
    # enemy's house may fall outside the 4 canonical feature houses
    # (reference semantics: only 4 houses are featurized)
    friend_total = sum(
        v for k, v in out["features"].items() if k.startswith("friend_of")
    )
    assert friend_total in (0, 3)
    assert sum(out["features"].values()) >= friend_total
    # user node written back with edges to the chosen names
    assert engine.search("New Student")[0]["name"] == "New Student"
    ego = engine.ego_graph("New Student")
    labels = {e["data"]["label"] for e in ego["elements"]["edges"]}
    assert labels == {"FRIEND_OF", "ENEMY_OF"}
    # idempotent merge: predicting again adds no duplicate edges
    n_edges = engine.graph.edges.count()
    engine.predict_house(
        "New Student", friends=nation_members,
        enemies=["Customer#000000001"], write_back=True,
    )
    assert engine.graph.edges.count() == n_edges


def test_predict_house_writeback_storage_contract(engine):
    """The writeback stores every chosen list per the model contract:
    the enemy sees the user through the mirrored ENEMY_OF row, the
    family pick gets its SAME_FAMILY edge, and a repeat adds nothing."""
    from neo4j_database_spark.graph import queries as gq

    user, enemy, kin = "Writeback User", "Customer#000000001", "Customer#000000007"

    def ego(name: str) -> set[tuple[str, str]]:
        rows = gq.ego_network(engine.graph, name).collect()
        return {(r.neighbor, r.rel_type) for r in rows}

    engine.predict_house(user, enemies=[enemy], family=[kin], write_back=True)
    assert (user, "ENEMY_OF") in ego(enemy)
    assert ego(user) == {(enemy, "ENEMY_OF"), (kin, "SAME_FAMILY")}
    n_edges = engine.graph.edges.count()
    engine.predict_house(user, enemies=[enemy], family=[kin], write_back=True)
    assert engine.graph.edges.count() == n_edges


def test_housemates_and_histogram(engine):
    mates = engine.housemates("Customer#000000042")
    assert 0 < len(mates) <= 100
    hist = engine.house_histogram([f"Customer#{i:09d}" for i in range(20)])
    assert sum(hist.values()) == 20


def test_suggest_excludes_neighbors_and_self(engine):
    name = "Customer#000000042"
    out = engine.suggest(name, k=5)
    assert 0 < len(out) <= 5
    names = [o["name"] for o in out]
    assert name not in names
    # no direct neighbor may be suggested
    ego = engine.ego_graph(name)
    direct = {
        n["data"].get("label") for n in ego["elements"]["nodes"]
    }
    assert not (set(names) & direct)
    # scores descending
    scores = [o["score"] for o in out]
    assert scores == sorted(scores, reverse=True)


def test_engine_cypher_read_and_write(spark):
    from neo4j_database_spark.engine import WinderEngine

    eng = WinderEngine(spark, "/root/testdata/sf0.001")
    rows = eng.cypher(
        "MATCH (p:Person) WHERE p.name IN $ns RETURN p.name as name",
        {"ns": ["Customer#000000001", "Customer#000000002"]},
    )
    assert {r["name"] for r in rows} == {
        "Customer#000000001",
        "Customer#000000002",
    }
    assert (
        eng.cypher(
            "MERGE (u:Person {name: $n}) SET u.house = $h, u.isUser = true",
            {"n": "Cy User", "h": "NATION_5"},
        )
        is None
    )
    got = eng.cypher(
        "MATCH (p:Person {name: $n}) RETURN p.house as house", {"n": "Cy User"}
    )
    assert got == [{"house": "NATION_5"}]


def test_predict_survival_endpoint(engine):
    """Reference app.py:137-180 contract: {'alive': bool} from the
    request-array lengths + house; unknown house falls back to the
    encoder's first class instead of erroring. (The reference endpoint
    itself 500s — its model artifacts were never shipped — so the
    contract is pinned against the documented request/response shape.)"""
    out = engine.predict_survival(
        friends=["a", "b", "c"], enemies=["x"], family=[], house="NATION_1"
    )
    assert set(out) == {"alive"} and isinstance(out["alive"], bool)
    # unknown house must not raise; equals the first-class fallback
    fb = engine.predict_survival(friends=["a"], house="Hufflepuff")
    first = engine.predict_survival(
        friends=["a"], house=engine._survival.houses[0]
    )
    assert fb == first
    # model quality sanity: beats always-true on its own training frame
    from neo4j_database_spark.ml import survival as sv

    sm = engine._survival
    train = sv.survival_training_frame(engine.graph)
    scored = sm.model.transform(train)
    from pyspark.sql import functions as F

    n = scored.count()
    acc = scored.filter(F.col("prediction") == F.col("label")).count() / n
    majority = max(
        r["c"] for r in train.groupBy("label").agg(F.count("*").alias("c")).collect()
    ) / n
    assert acc >= majority - 1e-9


def _elements(out) -> tuple[set, set]:
    """The Cytoscape node and edge tuples of a response, each unique."""
    els = out["elements"]
    nodes = [
        tuple(n["data"][k] for k in ("id", "label", "group", "house"))
        for n in els["nodes"]
    ]
    edges = [
        tuple(e["data"][k] for k in ("source", "target", "label"))
        for e in els["edges"]
    ]
    assert len(set(nodes)) == len(nodes) and len(set(edges)) == len(edges)
    return set(nodes), set(edges)


def _assert_exact(eng: WinderEngine, name: str, houses: list[str]) -> None:
    """``ego_graph(name)`` and ``house_graph(houses)`` equal a reference
    built from the graph's stored edges joined with its persons."""
    g = eng.graph
    persons = {
        r.id: (r.name, r.house)
        for r in g.persons.select("id", "name", "house").collect()
    }
    edges = [tuple(r) for r in g.edges.select("src", "dst", "type").collect()]

    def node(i):
        return (str(i), persons[i][0], "person", persons[i][1])

    me = next(i for i, (n, _) in persons.items() if n == name)
    ego_edges = {
        (str(me), str(d if s == me else s), t) for s, d, t in edges if me in (s, d)
    }
    ego_nodes = {node(int(x)) for e in ego_edges for x in e[:2]}
    assert ego_edges
    assert _elements(eng.ego_graph(name)) == (ego_nodes, ego_edges)

    members = {i for i, (_, h) in persons.items() if h in houses}
    nodes = {node(i) for i in members} | {(h, h, "house", None) for h in houses}
    house_edges = {
        (str(s), str(d), t) for s, d, t in edges if s in members and d in members
    } | {(str(i), persons[i][1], "BELONGS_TO") for i in members}
    assert _elements(eng.house_graph(houses)) == (nodes, house_edges)


def test_ego_and_house_graph_exact(spark, sf_dir, engine):
    """The Cytoscape responses take ids and houses from the adjacency
    rows; they equal the stored edges joined with persons, on the
    stored graph and after a predict_house writeback."""
    _assert_exact(
        WinderEngine(spark, sf_dir), "Customer#000000042", ["NATION_3", "NATION_7"]
    )
    friends = engine.housemates("Customer#000000042")[:2]
    out = engine.predict_house(
        "Exact Student", friends=friends, enemies=["Customer#000000001"],
        write_back=True,
    )
    home = engine.graph.persons.filter("name = 'Customer#000000042'").first().house
    houses = sorted({out["predicted_house"], home})
    _assert_exact(engine, "Exact Student", houses)
    _assert_exact(engine, friends[0], houses)
