"""Incremental merge vs full rebuild equivalence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neo4j_database_spark.graph import store
from neo4j_database_spark.graph.model import (
    CANONICAL_TYPES,
    GraphModel,
    build_edges,
)


@pytest.fixture()
def base(spark) -> GraphModel:
    persons = spark.createDataFrame(
        [
            (1, "Alice A1", "NATION_0", "SEG", 0.0),
            (2, "Bob B1", "NATION_0", "SEG", 0.0),
            (3, "Cara A1", "NATION_1", "SEG", 0.0),
            (101, "Dan D1", "NATION_1", "SEG", 0.0),
            (102, "Eve E1", "NATION_2", "SEG", 0.0),
        ],
        "id long, name string, house string, segment string, acctbal double",
    )
    return GraphModel(
        persons=persons,
        houses=persons.select(F.col("house").alias("name")).distinct(),
        edges=build_edges(persons),
    )


def _edge_set(df):
    return {(r["src"], r["dst"], r["type"]) for r in df.collect()}


def _materialized(g: GraphModel) -> GraphModel:
    """Checkpoint the merge output once: every test reads out.edges /
    out.persons several times (equivalence + delta assertions), and
    merge_increment returns lazy plans by contract — without this each
    read re-executes the whole delta derivation (r10: the five tests
    here spent ~8 min re-deriving 6-row graphs)."""
    return GraphModel(
        persons=g.persons.localCheckpoint(),
        houses=g.houses,
        edges=g.edges.localCheckpoint(),
    )


def check_equivalent(spark, g_inc: GraphModel):
    full = build_edges(g_inc.persons)
    assert _edge_set(g_inc.edges) == _edge_set(full)


def test_insert_new_person(spark, base):
    # "Fay A1" sorts last among its housemates and surname group, so it
    # is the dst of every new canonical edge; "Aaron A1" sorts first, so
    # it is the src of every one (the (changed, all) side of each rule)
    names = {1: "Alice A1", 2: "Bob B1", 3: "Cara A1"}
    for name in ("Fay A1", "Aaron A1"):
        batch = spark.createDataFrame(
            [(4, name, "NATION_0", "SEG", 0.0)],
            base.persons.schema,
        )
        out = _materialized(store.merge_increment(spark, base, batch))
        assert out.persons.count() == 6
        check_equivalent(spark, out)
        # new FRIEND_OF edges to the other NATION_0 members + SAME_FAMILY
        # 'A1', each stored from the smaller name
        delta = _edge_set(out.edges) - _edge_set(base.edges)
        canonical = {e for e in delta if e[2] in CANONICAL_TYPES}
        assert canonical == {
            (4, o, t) if name < names[o] else (o, 4, t)
            for o, t in (
                (1, "FRIEND_OF"),
                (2, "FRIEND_OF"),
                (1, "SAME_FAMILY"),
                (3, "SAME_FAMILY"),
            )
        }


def test_update_house_moves_edges(spark, base):
    # Bob moves NATION_0 → NATION_1: friend edges must follow
    batch = spark.createDataFrame(
        [(2, "Bob B1", "NATION_1", "SEG", 0.0)], base.persons.schema
    )
    out = _materialized(store.merge_increment(spark, base, batch))
    check_equivalent(spark, out)
    rows = {r["name"]: r["house"] for r in out.persons.collect()}
    assert rows["Bob B1"] == "NATION_1"


def test_update_into_enemy_house(spark, base):
    # moving into NATION_1 creates ENEMY_OF pairs vs NATION_0 members
    batch = spark.createDataFrame(
        [(102, "Eve E1", "NATION_1", "SEG", 0.0)], base.persons.schema
    )
    out = _materialized(store.merge_increment(spark, base, batch))
    check_equivalent(spark, out)
    enemies = {
        (s, d) for s, d, t in _edge_set(out.edges) if t == "ENEMY_OF"
    }
    assert (1, 102) in enemies and (102, 1) in enemies


def test_romance_pair_completion(spark, base):
    # adding id 202 completes nothing; adding 201+202 pairs them? no —
    # pairs are (k, k+1) with k % 101 == 0: add 202 & 203 → edge both ways
    batch = spark.createDataFrame(
        [
            (202, "Gil G1", "NATION_2", "SEG", 0.0),
            (203, "Hank H1", "NATION_2", "SEG", 0.0),
        ],
        base.persons.schema,
    )
    out = _materialized(store.merge_increment(spark, base, batch))
    check_equivalent(spark, out)
    rom = {(s, d) for s, d, t in _edge_set(out.edges) if t == "ROMANTIC_WITH"}
    assert (202, 203) in rom and (203, 202) in rom
