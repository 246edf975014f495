"""Store round-trip and driver-contract smoke tests."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from neo4j_database_spark.cypher import CypherSession
from neo4j_database_spark.graph import build_graph, store
from neo4j_database_spark.graph import queries as gq
from neo4j_database_spark.graph.model import GraphModel


def test_store_roundtrip_equals_derivation(spark, sf_dir, tmp_path, monkeypatch):
    monkeypatch.setattr(store, "CACHE_ROOT", str(tmp_path))
    derived = build_graph(spark, sf_dir)
    loaded = store.load_graph(spark, sf_dir)
    assert loaded.persons.count() == derived.persons.count()
    d = derived.edges.select("src", "dst", "type")
    l = loaded.edges.select("src", "dst", "type")
    assert d.exceptAll(l).count() == 0
    assert l.exceptAll(d).count() == 0


@pytest.fixture(scope="module")
def stored(spark, sf_dir):
    g = store.load_graph(spark, sf_dir)
    assert g.adjacency is not None
    return g


def _lazy(g: GraphModel) -> GraphModel:
    return GraphModel(persons=g.persons, houses=g.houses, edges=g.edges)


def _same_multiset(a, b) -> None:
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def _flagged_rows_are_edges(g: GraphModel) -> None:
    """The adjacency's ``is_edge`` rows are exactly the stored edges."""
    _same_multiset(
        g.adjacency.filter("is_edge").select("src", "dst", "type"),
        g.edges.select("src", "dst", "type"),
    )


def test_store_files_roll_over_at_row_cap(spark, sf_dir, tmp_path, monkeypatch):
    """Both tables' writes roll a file over at MAX_FILE_ROWS: with a
    small cap, type partitions split into more files than the default
    build writes, no file exceeds the cap, each file keeps its sort
    order, and the stored rows are the default build's rows."""
    import pyarrow.parquet as pq

    cap = 10
    store.build_store(spark, sf_dir, str(tmp_path / "default"))
    monkeypatch.setattr(store, "MAX_FILE_ROWS", cap)
    store.build_store(spark, sf_dir, str(tmp_path / "capped"))

    def files(root):
        return {
            part.name: sorted(part.glob("*.parquet"))
            for part in root.iterdir()
            if part.name.startswith("type=")
        }

    for table, order in (
        ("edges", ["src", "dst"]),
        ("adjacency", ["src_name", "dst_name"]),
    ):
        default = files(tmp_path / "default" / table)
        capped = files(tmp_path / "capped" / table)
        assert capped.keys() == default.keys()
        assert any(len(capped[t]) > len(default[t]) for t in capped)
        for fs in capped.values():
            for f in fs:
                rows = pq.read_table(f, columns=order).to_pylist()
                assert 0 < len(rows) <= cap
                keys = [tuple(r[c] for c in order) for r in rows]
                assert keys == sorted(keys), f
        _same_multiset(
            spark.read.parquet(str(tmp_path / "default" / table)),
            spark.read.parquet(str(tmp_path / "capped" / table)),
        )


def test_stored_adjacency_equals_lazy(stored):
    _same_multiset(stored.named_adjacency(), _lazy(stored).named_adjacency())
    _flagged_rows_are_edges(stored)


@pytest.mark.parametrize(
    "types", [None, gq.WINDER_TYPES, ("FRIEND_OF",)], ids=["all", "winder", "friend"]
)
def test_stored_sym_edges_equal_lazy_union(stored, types):
    _same_multiset(stored.sym_edges(types), _lazy(stored).sym_edges(types))


# One statement of each write shape, in order; each one's result is
# checked against the lazy derivation. `$pair` and `$other` are two
# snapshot persons with no stored FRIEND_OF between them (different
# houses), `$stored_a`/`$stored_b` a stored FRIEND_OF pair.
PARITY_STATEMENTS = [
    # node MERGE creating a person
    "MERGE (u:Person {name: 'Parity User'}) "
    "SET u.house = 'NATION_3', u.isUser = true",
    # edge MERGE from the new person (no snapshot edge can exist)
    "MATCH (u:Person {name: 'Parity User'}), (f:Person) "
    "WHERE f.name IN ['Customer#000000010', 'Customer#000000011'] "
    "MERGE (u)-[:FRIEND_OF]->(f)",
    "MATCH (u:Person {name: 'Parity User'}), (e:Person) "
    "WHERE e.name IN ['Customer#000000012'] MERGE (u)-[:ENEMY_OF]->(e)",
    # re-MERGE of a stored snapshot edge, read the other way
    "MATCH (a:Person {name: $stored_a}), (b:Person {name: $stored_b}) "
    "MERGE (b)-[:FRIEND_OF]->(a)",
    # re-MERGE of an edge the session added
    "MATCH (u:Person {name: 'Parity User'}), (f:Person {name: "
    "'Customer#000000010'}) MERGE (f)-[:FRIEND_OF]->(u)",
    # a new edge between two snapshot persons
    "MATCH (a:Person {name: $pair}), (b:Person {name: $other}) "
    "MERGE (a)-[:FRIEND_OF]->(b)",
    # a canonical self-loop
    "MATCH (u:Person {name: 'Parity User'}) MERGE (u)-[:FRIEND_OF]->(u)",
    # ON MATCH SET changes a snapshot person's house
    "MERGE (p:Person {name: 'Customer#000000010'}) "
    "ON CREATE SET p.house = 'NATION_0' ON MATCH SET p.house = 'NATION_9'",
    # SET changes the new person's image
    "MERGE (u:Person {name: 'Parity User'}) SET u.image = 'u.png'",
    # ON CREATE SET on a created node, then an edge CREATE to it
    "MERGE (c:Person {name: 'Created P'}) "
    "ON CREATE SET c.house = 'NATION_1' ON MATCH SET c.house = 'NATION_2'",
    "CREATE (d:Person {name: 'Created Q'}) SET d.house = 'NATION_1'",
    "MATCH (a:Person {name: 'Created P'}), (b:Person {name: 'Created Q'}) "
    "CREATE (a)-[:SAME_FAMILY]->(b)",
    # REMOVE on a snapshot person with edges
    "MATCH (p:Person {name: 'Customer#000000011'}) REMOVE p.image",
    # FOREACH adds a new property column to snapshot persons
    "MATCH (p:Person {name: 'Customer#000000001'})-[:FRIEND_OF]-(q) "
    "WITH collect(q) AS fs FOREACH (f IN fs | SET f.flagged = 'yes')",
    # BELONGS_TO moves a snapshot person to a new house
    "MERGE (h:House {name: 'X_HOUSE'})",
    "MATCH (p:Person {name: 'Customer#000000012'}), "
    "(h:House {name: 'X_HOUSE'}) MERGE (p)-[:BELONGS_TO]->(h)",
    # a rename flips the name order of `$renamed`'s stored FRIEND_OF
    # edges (it had the least name of its house)
    "MERGE (p:Person {name: $renamed}) SET p.name = 'zzz Renamed'",
]


def _house_subgraph_from_edges(g: GraphModel, houses) -> list:
    """The house subgraph as a join of the stored edges with the member
    persons on both endpoints."""
    m = g.persons.filter(F.col("house").isin(houses))
    rows = (
        g.edges.join(m.select(F.col("id").alias("src"), F.col("name").alias("s")), "src")
        .join(m.select(F.col("id").alias("dst"), F.col("name").alias("d")), "dst")
        .select("s", "d", "type")
        .collect()
    )
    return sorted(tuple(r) for r in rows)


def test_writes_keep_exact_adjacency(spark, stored, monkeypatch):
    """A Cypher write keeps the stored adjacency, and after every write
    shape the session graph's adjacency reads (``named_adjacency``,
    ``sym_edges``) equal their lazy derivation from its own persons and
    edges, and its ``is_edge`` rows are its edges. The stored edges stay
    unique, the house subgraph matches the stored edges (a canonical
    self-loop once, a renamed person's edges in their stored
    orientation, as a directed MATCH reads them), and the ego read sees
    the new neighbors. No statement plans a Python RDD: ``createDataFrame``
    is never called. The incremental merge still returns no adjacency."""
    pairs = (
        stored.edges.filter(F.col("type") == "FRIEND_OF")
        .join(stored.persons.select(F.col("id").alias("src"), F.col("name").alias("a")), "src")
        .join(stored.persons.select(F.col("id").alias("dst"), F.col("name").alias("b")), "dst")
        .orderBy("a", "b")
        .first()
    )
    houses = {r.name: r.house for r in stored.persons.collect()}
    pair = "Customer#000000020"
    other = next(n for n in sorted(houses) if houses[n] != houses[pair])
    renamed = min(n for n in houses if houses[n] == "NATION_1")
    params = {
        "stored_a": pairs.a, "stored_b": pairs.b, "pair": pair, "other": other,
        "renamed": renamed,
    }
    def refuse(*args, **kwargs):
        raise AssertionError("a write statement called createDataFrame")

    monkeypatch.setattr(type(spark), "createDataFrame", refuse)
    s = CypherSession(stored)
    for q in PARITY_STATEMENTS:
        s.run(q, {k: v for k, v in params.items() if f"${k}" in q})
        g = s.graph
        assert g.adjacency is not None, q
        _same_multiset(g.named_adjacency(), _lazy(g).named_adjacency())
        _same_multiset(g.sym_edges(), _lazy(g).sym_edges())
        _flagged_rows_are_edges(g)
        assert g.edges.count() == g.edges.distinct().count(), q
    hs = ["NATION_1", "NATION_3", "NATION_9"]
    got = sorted(tuple(r) for r in gq.house_subgraph(g, hs).collect())
    assert got == _house_subgraph_from_edges(g, hs)
    assert got.count(("Parity User", "Parity User", "FRIEND_OF")) == 1
    # the renamed person's edges keep their stored orientation, which
    # the name order no longer gives; a directed MATCH reads the same
    friends = [(a, b) for a, b, t in got if t == "FRIEND_OF"]
    assert any(a == "zzz Renamed" and b < a for a, b in friends)
    directed = s.run(
        "MATCH (a:Person)-[:FRIEND_OF]->(b:Person) "
        "WHERE a.house IN $hs AND b.house IN $hs RETURN a.name, b.name",
        {"hs": hs},
    ).collect()
    assert sorted(tuple(r) for r in directed) == friends
    rows = gq.ego_network(g, "Parity User").collect()
    assert sorted((r.neighbor, r.rel_type) for r in rows) == [
        ("Customer#000000010", "FRIEND_OF"),
        ("Customer#000000011", "FRIEND_OF"),
        ("Customer#000000012", "ENEMY_OF"),
        ("Parity User", "FRIEND_OF"),
    ]
    batch = stored.persons.limit(1).withColumn("name", F.lit("Adjacency Batch"))
    assert store.merge_increment(spark, stored, batch).adjacency is None


MERGE_USER = "MERGE (u:Person {name: $name}) SET u.house = $house, u.isUser = true"
MERGE_FRIENDS = (
    "MATCH (u:Person {name: $name}), (f:Person) WHERE f.name IN $friends "
    "MERGE (u)-[:FRIEND_OF]->(f)"
)
MERGE_ENEMIES = (
    "MATCH (u:Person {name: $name}), (e:Person) WHERE e.name IN $enemies "
    "MERGE (u)-[:ENEMY_OF]->(e)"
)


_GROUPS = itertools.count()


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted through a job group."""
    sc = spark.sparkContext
    group = f"write-cost-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _writeback(s: CypherSession, user: str, friends, enemies) -> list:
    """The app's writeback statements for ``user``, as thunks."""
    return [
        lambda: s.run(MERGE_USER, {"name": user, "house": "NATION_3"}),
        lambda: s.run(MERGE_FRIENDS, {"name": user, "friends": friends}),
        lambda: s.run(MERGE_ENEMIES, {"name": user, "enemies": enemies}),
    ]


def test_write_statement_job_budget(spark, stored):
    """Each statement of the app's writeback cycle runs a fixed, small
    number of jobs: a node MERGE at most 2 (the name lookup and the
    commit), an edge MERGE at most 3 (the MATCH's broadcast, its collect
    and the commit). The reads after it run as many jobs as on the
    snapshot: the ego read is one scan, and the Cypher winder's plan
    only gains the delta's branches."""
    names = sorted(r.name for r in stored.persons.select("name").collect())
    s = CypherSession(stored)
    # a compiled-plan cache hit would reuse a broadcast: compare
    # freshly compiled plans on both sides
    snapshot = GraphModel(
        persons=stored.persons, houses=stored.houses, edges=stored.edges,
        adjacency=stored.adjacency,
    )
    for cycle in range(2):
        user = f"Budget User {cycle}"
        friends = names[20 + 3 * cycle: 23 + 3 * cycle]
        node, fr, en = [_jobs(spark, w) for w in _writeback(s, user, friends, names[40:41])]
        assert node <= 2 and fr <= 3 and en <= 3, (node, fr, en)
        assert _jobs(spark, lambda: gq.ego_network(s.graph, user).collect()) == 1
        read = _jobs(
            spark,
            lambda: s.run(entrymod._CYPHER_WINDER, {"friends": friends}).collect(),
        )
        snap = _jobs(
            spark,
            lambda: CypherSession(snapshot)
            .run(entrymod._CYPHER_WINDER, {"friends": friends})
            .collect(),
        )
        assert read == snap, (read, snap)


def _stored(spark) -> dict[int, int]:
    """Block-store bytes per stored RDD id."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {i.id(): i.memSize() + i.diskSize() for i in infos}


def test_write_session_block_store_bounded(spark, sf_dir, tmp_path, monkeypatch):
    """What a statement adds to the block store depends on its own rows
    only: the same statements add the same bytes at sf0.001 and sf0.01,
    and a 10-statement session holds only its current delta frames, the
    superseded ones released."""
    import os

    big = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    if not os.path.isdir(big):
        pytest.skip("no sf0.01 test data")
    monkeypatch.setattr(store, "CACHE_ROOT", str(tmp_path))
    graphs = [store.load_graph(spark, d) for d in (sf_dir, big)]
    # friends whose house and image (the values an edge row carries)
    # are the same at both scales
    props = [
        {r.name: (r.house, r.image) for r in g.persons.collect()} for g in graphs
    ]
    same = sorted(n for n, v in props[0].items() if props[1].get(n) == v)
    added = []
    for g in graphs:
        s = CypherSession(g)
        steps = []
        for cycle in range(4):
            steps += _writeback(
                s, f"Bytes User {cycle}", same[3 * cycle: 3 * cycle + 3],
                same[20 + cycle: 21 + cycle],
            )
        # only the RDDs the session stores count: other frames of the
        # test session may be released meanwhile
        mine: set[int] = set()
        per = []
        for w in steps[:10]:
            before = _stored(spark)
            w()
            after = _stored(spark)
            mine |= after.keys() - before.keys()
            per.append(
                sum(after.get(i, 0) - before.get(i, 0) for i in mine)
            )
        held = [i for i in mine if i in after]
        assert len(held) <= 3, held  # persons, houses, adjacency
        assert sum(after[i] for i in held) < 64 * 1024
        added.append(per)
    assert added[0] == added[1]


def test_written_edges_plan_is_snapshot_union_checkpoint(stored):
    """A written model's edges are the snapshot scan plus one
    checkpoint: no join, aggregate or exchange grows with the session."""
    s = CypherSession(stored)
    for w in _writeback(
        s, "Plan User", ["Customer#000000010", "Customer#000000011"],
        ["Customer#000000012"],
    ):
        w()
    plan = s.graph.edges._jdf.queryExecution().executedPlan().toString()
    assert "Union" in plan
    assert plan.count("FileScan parquet") == 1 and "/edges" in plan
    assert plan.count("Scan ExistingRDD") == 1
    for op in ("Join", "Aggregate", "Exchange"):
        assert op not in plan, op


def test_entry_contract(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == [
        "name",
        "house",
        "image",
        "common_friends",
        "shared_with",
    ]


# iterative / floating-point algorithms with no closed-form SQL twin —
# the driver records a weaker rows-only check for these by design
ROWS_ONLY = {
    "mm_image_features",
    "emb_kmeans",
    "events_approx_users",  # HLL sketch — engine-specific estimate
    "events_value_percentiles_approx",  # GK sketch — engine-specific
    "mm_image_near_dups",  # generated media input — no SQL twin
    # (doc_token_heavy_hitters left this set in r07: the registry entry
    # now runs sketch.py::misra_gries_merged — the order-insensitive
    # Agarwal-merge form — so it is exact-oracle-checkable; the
    # partition-dependent single-pass variant stays certified by
    # doc_token_heavy_hitters_audit)
    "mm_video_features",  # generated media input — no SQL twin
    "doc_bpe_train",  # iterative merge loop — fold not SQL-expressible
    "mm_image_resize",  # generated media input — no SQL twin
    "doc_minhash_lsh_prod",  # seeded xxhash64 — engine-specific hashes
    # (measured r06: xxhash64 banding finds a DIFFERENT pair set than
    # the md5 path — 26 vs 31 pairs at sf0.01 — so sharing the md5
    # oracle, as VERDICT r05 item 6 suggested, would be a false oracle)
}


def test_queries_and_oracles_aligned():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert set(qs) - set(oracles) == ROWS_ONLY


# The driver's correctness harness checks exactly the first 50 registry
# entries. Pin the intended set programmatically (round-2 verdict: a
# hand-counted "window ends here" comment drifted by two, leaving two
# queries unchecked for two rounds).
DRIVER_WINDOW = [
    # round-9 rotation (VERDICT r08 item 1): coverage complete at
    # 179/179, so the window is the staleness re-check rotation at
    # DOUBLE rate — coverage_report.py batches 1+2 on the post-r08
    # registry (40 oldest driver greens, the five r04-era rows first)
    # + 10 family-anchor keeps (three chosen because their code changes
    # this round: er.py d>=2 generator, algorithms.py oriented fix).
    # Independent copy of __spark_entry__.DRIVER_WINDOW_R09 — kept
    # separate on purpose so a registry edit cannot silently move the
    # window without this test noticing.
    # keeps (10)
    "g_winder",
    "cypher_winder",
    "g_feature_matrix",
    "g_pagerank",
    "doc_minhash_lsh",
    "emb_ivf_pq_knn",
    "stream_click_attribution",
    "customer_fuzzy_matches",
    "doc_decontaminate_fuzzy",
    "g_ktruss",
    "customer_fuzzy_matches_d2",
    # re-check batch 1 (oldest latest-green rows, schedule order)
    "idle_rich_customers",
    "promo_revenue_share",
    "top_supplier_revenue",
    "important_parts",
    "forecast_revenue_change",
    "g_rule_edge_counts",
    "g_connected_components",
    "doc_bm25",
    "cypher_write_roundtrip",
    "doc_lang_id",
    "top_unshipped_orders",
    "urgent_lineitem_bloom",
    "events_state_transitions",
    "events_session_windows",
    "asof_order_events",
    "sales_marginals",
    "part_skyline",
    "user_error_window_overlap",
    "pricing_summary_prod",
    "nation_revenue_prod",
    # re-check batch 2
    "returned_item_losses",
    "part_supplier_counts",
    "disjunctive_part_revenue",
    "cheapest_supplier_per_part",
    "promo_part_suppliers",
    "doc_token_heavy_hitters_audit",
    "events_approx_users_audit",
    "events_value_quantiles_audit",
    "doc_len_quantiles_audit",
    "customer_merge",
    "user_state_scd2",
    "events_ohlc_daily",
    "customer_hierarchy_rollup",
    "monthly_revenue_growth",
    "customer_order_distribution",
    "late_sole_suppliers",
    "doc_lm_coverage",
    "orders_incremental_rollup",
    "events_twap_daily",
]


def test_driver_window_is_the_intended_50():
    qs = list(entrymod.queries())
    assert qs[:50] == DRIVER_WINDOW
    # every in-window entry must be exact-oracle-checkable: a rows-only
    # query inside the scarce 50-slot window is a wasted slot
    oracles = entrymod.oracle_sql()
    assert [n for n in DRIVER_WINDOW if n not in oracles] == []


def test_all_queries_run_small(spark, sf_dir):
    for name, fn in entrymod.queries().items():
        df = fn(spark, sf_dir)
        assert df.count() >= 0, name
