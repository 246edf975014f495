"""Ingest-ETL tests on a characters_raw fixture (FIXTURES.md §4)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from neo4j_database_spark.graph import etl


@pytest.fixture(scope="module")
def raw_path(spark, tmp_path_factory):
    rows = [
        {"id": "u1", "name": "Harry Potter", "house": "Gryffindor",
         "species": "human", "gender": "male", "ancestry": "half-blood",
         "alive": True, "image": "http://x/1.png"},
        {"id": "u2", "name": "Ron Weasley", "house": "Gryffindor",
         "species": "", "gender": "male", "alive": True},
        {"id": "u3", "name": "Ginny Weasley", "house": "Gryffindor",
         "alive": True},
        {"id": "u4", "name": "Draco Malfoy", "house": "Slytherin",
         "alive": True},
        {"id": "u5", "name": "Luna Lovegood", "house": "", "alive": True},
        # duplicate name — upsert keeps the LAST write (house flips)
        {"id": "u6", "name": "Harry Potter", "house": "Slytherin",
         "alive": False},
        {"id": "", "name": "Nameless Ghost", "alive": None},
        {"id": "u8", "name": "", "house": "Hufflepuff"},   # skipped: empty name
        {"id": "u9", "name": "Dobby"},                      # single-token name
    ]
    p = tmp_path_factory.mktemp("raw") / "characters.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in rows))
    return str(p)


@pytest.fixture(scope="module")
def persons(spark, raw_path):
    return etl.normalize_persons(etl.read_characters_json(spark, raw_path))


def test_upsert_last_writer_wins(persons):
    rows = {r["name"]: r for r in persons.collect()}
    assert rows["Harry Potter"]["house"] == "Slytherin"
    assert rows["Harry Potter"]["alive"] is False
    assert "" not in rows  # empty names skipped
    etl.assert_unique_names(persons)


def test_defaults_and_normalization(persons):
    rows = {r["name"]: r for r in persons.collect()}
    assert rows["Luna Lovegood"]["house"] == "Unknown"      # '' → Unknown
    assert rows["Ron Weasley"]["species"] == "human"        # '' → human
    assert rows["Ginny Weasley"]["gender"] == "unknown"
    assert rows["Nameless Ghost"]["alive"] is True          # default true
    assert rows["Nameless Ghost"]["id"] == "Nameless Ghost"  # id falls back
    assert rows["Ron Weasley"]["image"] == ""


def test_derive_houses(persons):
    names = {r["name"] for r in etl.derive_houses(persons).collect()}
    assert names == {"Gryffindor", "Slytherin", "Unknown"}


def test_rule_edges(persons):
    edges = etl.derive_rule_edges(
        persons,
        romances=[("Harry Potter", "Ginny Weasley")],
        name_alias={},
    )
    by_type = {
        t: {(r["src"], r["dst"]) for r in rows}
        for t, rows in _group(edges.collect()).items()
    }
    # family: Ron & Ginny share 'Weasley'; Dobby (single token) excluded
    assert by_type["SAME_FAMILY"] == {("u3", "u2")}  # Ginny < Ron by name
    # friends: same house pairs — Gryffindor = {Ron, Ginny} (Harry flipped
    # to Slytherin), Slytherin = {Harry, Draco}
    assert by_type["FRIEND_OF"] == {("u3", "u2"), ("u4", "u6")}
    # enemies: Gryffindor × Slytherin both directions
    assert ("u2", "u4") in by_type["ENEMY_OF"]
    assert ("u4", "u2") in by_type["ENEMY_OF"]
    assert len(by_type["ENEMY_OF"]) == 2 * 2 * 2
    # romance: both directions
    assert by_type["ROMANTIC_WITH"] == {("u6", "u3"), ("u3", "u6")}


def test_romance_contains_fallback(spark, persons):
    """A pair name that only substring-matches still resolves (J8)."""
    edges = etl.derive_rule_edges(
        persons, romances=[("Draco", "Luna Lovegood")], name_alias={}
    )
    rom = {(r["src"], r["dst"]) for r in
           edges.filter(F.col("type") == "ROMANTIC_WITH").collect()}
    assert ("u4", "u5") in rom and ("u5", "u4") in rom


def test_alias_map_applied(spark, persons):
    edges = etl.derive_rule_edges(
        persons,
        romances=[("Harry P.", "Ginny Weasley")],
        name_alias={"Harry P.": "Harry Potter"},
    )
    rom = {(r["src"], r["dst"]) for r in
           edges.filter(F.col("type") == "ROMANTIC_WITH").collect()}
    assert ("u6", "u3") in rom


def test_user_writeback(spark, persons):
    edges = etl.derive_rule_edges(persons)
    p2, e2 = etl.upsert_user_node(
        persons, edges, "New User", "Gryffindor",
        friends=["Ron Weasley"], enemies=["Draco Malfoy"],
    )
    rows = {r["name"]: r for r in p2.collect()}
    assert rows["New User"]["is_user"] is True
    added = e2.exceptAll(edges).collect()
    assert {(r["src"], r["dst"], r["type"]) for r in added} == {
        ("New User", "u2", "FRIEND_OF"),
        ("New User", "u4", "ENEMY_OF"),
        ("u4", "New User", "ENEMY_OF"),
    }
    # idempotent: merging again adds nothing
    _, e3 = etl.upsert_user_node(
        p2, e2, "New User", "Gryffindor",
        friends=["Ron Weasley"], enemies=["Draco Malfoy"],
    )
    assert e3.count() == e2.count()


def _group(rows):
    out = {}
    for r in rows:
        out.setdefault(r["type"], []).append(r)
    return out
