"""Graph-analytics tests on the hand-built tiny fixture."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neo4j_database_spark.graph import algorithms as alg
from neo4j_database_spark.graph.model import GraphModel


@pytest.fixture(scope="module")
def tiny(spark) -> GraphModel:
    persons = spark.createDataFrame(
        [
            (1, "Alice A", "NATION_0", "SEG", 1.0),
            (2, "Bob B", "NATION_0", "SEG", 2.0),
            (3, "Cara C", "NATION_1", "SEG", 3.0),
            (4, "Dan D", "NATION_1", "SEG", 4.0),
            (5, "Eve E", "NATION_2", "SEG", 5.0),
            (6, "Fay F", "NATION_2", "SEG", 6.0),
            (7, "Gus G", "NATION_3", "SEG", 7.0),  # isolated
        ],
        "id long, name string, house string, segment string, acctbal double",
    )
    edges = spark.createDataFrame(
        [
            (1, 2, "FRIEND_OF"),
            (1, 3, "FRIEND_OF"),
            (2, 3, "FRIEND_OF"),
            (1, 4, "FRIEND_OF"),
            (5, 6, "FRIEND_OF"),
        ],
        "src long, dst long, type string",
    )
    houses = persons.select(F.col("house").alias("name")).distinct()
    return GraphModel(persons=persons, houses=houses, edges=edges)


def test_degree_centrality(tiny):
    deg = {r["name"]: r["degree"] for r in alg.degree_centrality(tiny).collect()}
    assert deg == {
        "Alice A": 3, "Bob B": 2, "Cara C": 2, "Dan D": 1,
        "Eve E": 1, "Fay F": 1, "Gus G": 0,
    }


def test_connected_components(tiny):
    comps = {r["component"]: r["size"]
             for r in alg.connected_components(tiny).collect()}
    assert comps == {1: 4, 5: 2, 7: 1}


def test_triangle_count(tiny):
    n = alg.triangle_count(tiny, types=("FRIEND_OF",)).first()["n_triangles"]
    assert n == 1  # (Alice, Bob, Cara)


def test_bfs_distances_path_graph(spark):
    """Path graph A—B—C—D plus isolated E: real multi-hop distances."""
    from pyspark.sql import functions as F

    persons = spark.createDataFrame(
        [(i, n, "H", "S", 0.0) for i, n in
         enumerate(["A", "B", "C", "D", "E"], start=1)],
        "id long, name string, house string, segment string, acctbal double",
    )
    edges = spark.createDataFrame(
        [(1, 2, "FRIEND_OF"), (2, 3, "FRIEND_OF"), (3, 4, "FRIEND_OF")],
        "src long, dst long, type string",
    )
    g = GraphModel(
        persons=persons,
        houses=persons.select(F.col("house").alias("name")).distinct(),
        edges=edges,
    )
    dist = {r["name"]: r["dist"] for r in alg.bfs_distances(g, "A").collect()}
    assert dist == {"A": 0, "B": 1, "C": 2, "D": 3}  # E unreachable → absent


def test_pagerank_mass_conserved(tiny):
    rows = alg.pagerank(tiny, max_iter=5).collect()
    total = sum(r["rank"] for r in rows)
    assert total == pytest.approx(1.0, abs=1e-6)
    ranks = {r["name"]: r["rank"] for r in rows}
    # the hub has the highest rank
    assert max(ranks, key=ranks.get) == "Alice A"


# The ten iterative algorithms whose supersteps go through
# algorithms._Layout, each as called on the tiny fixture.
LAYOUT_USERS = {
    "connected_components": lambda g: alg.connected_components(g),
    "pagerank": lambda g: alg.pagerank(g, max_iter=5),
    "personalized_pagerank": lambda g: alg.personalized_pagerank(g, "Alice A"),
    "hits": lambda g: alg.hits(g),
    "label_propagation": lambda g: alg.label_propagation(g),
    "sssp_distances": lambda g: alg.sssp_distances(g, "Alice A"),
    "bfs_distances": lambda g: alg.bfs_distances(g, "Alice A"),
    "kcore_members": lambda g: alg.kcore_members(g, k=2),
    "closeness_landmarks": lambda g: alg.closeness_landmarks(g),
    "betweenness_landmarks": lambda g: alg.betweenness_landmarks(g),
}


@pytest.mark.parametrize("name", list(LAYOUT_USERS))
def test_forced_large_mode_matches_broadcast(tiny, monkeypatch, name):
    """The co-partitioned (big-graph) superstep layout must give exactly
    the broadcast layout's rows: every sum is integer or nano-quantized,
    so no result can depend on partitioning or join strategy. The
    _copartition spy proves each mode took its own path."""
    calls = []
    copartition = alg._copartition

    def spy(df, key):
        calls.append(key)
        return copartition(df, key)

    monkeypatch.setattr(alg, "_copartition", spy)
    run = LAYOUT_USERS[name]
    broadcast = [tuple(r) for r in run(tiny).collect()]
    assert broadcast and calls == []
    monkeypatch.setattr(alg, "BROADCAST_NODE_LIMIT", 0)
    copart = [tuple(r) for r in run(tiny).collect()]
    assert calls, "large mode never co-partitioned"
    assert copart == broadcast


def test_pagerank_tol_early_exit_parity(tiny):
    """Convergence early exit (tol) must agree with the fixed-round
    path on an already-converged graph, and exit genuinely early: with
    a generous max_iter and a loose tol the result matches the
    converged fixed-round ranks to well inside the tolerance."""
    fixed = {
        r["name"]: r["rank"] for r in alg.pagerank(tiny, max_iter=40).collect()
    }
    early = {
        r["name"]: r["rank"]
        for r in alg.pagerank(tiny, max_iter=40, tol=1e-9).collect()
    }
    assert set(fixed) == set(early)
    for name, rank in fixed.items():
        assert early[name] == pytest.approx(rank, abs=1e-7), name
    # tol=inf exits at the first delta check — after the 4th superstep
    # (prev snapshot at checkpoint it=1, delta measured at it=3) — so
    # the result must be BIT-identical to a fixed 4-round run, pinning
    # both that the exit triggers and that the early-exit bookkeeping
    # (isolated-node closed form, dangling mass) tracks the completed
    # supersteps exactly
    four_iter = alg.pagerank(tiny, max_iter=4).collect()
    first_ck = alg.pagerank(tiny, max_iter=40, tol=float("inf")).collect()
    assert [tuple(r) for r in first_ck] == [tuple(r) for r in four_iter]
    assert sum(r["rank"] for r in first_ck) == pytest.approx(1.0, abs=1e-6)


def test_pagerank_tol_then_ml_pipeline_serializes(tiny, spark):
    """Session-poisoning regression (Spark 4.1): df.observe(Observation)
    combined with localCheckpoint leaves the session's
    ObservationManager reachable from later task closures — every
    subsequent spark.ml fit/transform then dies with
    Task-not-serializable. The convergence check must therefore stay
    observation-free; this pins that an ML pipeline still runs after a
    tol-mode pagerank in the same session (the exact full-suite
    ordering that caught it: test_algorithms before test_engine)."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.feature import VectorAssembler

    alg.pagerank(tiny, max_iter=6, tol=1e-9).collect()
    train = spark.createDataFrame(
        [(1.0, 2.0, 0.0), (2.0, 1.0, 1.0)] * 5,
        "x double, y double, label double",
    )
    pipe = Pipeline(
        stages=[
            VectorAssembler(inputCols=["x", "y"], outputCol="features"),
            RandomForestClassifier(
                featuresCol="features", labelCol="label", numTrees=3
            ),
        ]
    )
    model = pipe.fit(train)
    pred = model.transform(train).select("prediction").first()[0]
    assert pred in (0.0, 1.0)


def test_label_propagation_two_triangles(spark):
    from neo4j_database_spark.graph.algorithms import label_propagation
    from neo4j_database_spark.graph.model import GraphModel

    persons = spark.createDataFrame(
        [(i, f"P{i}", "H", "S", 0.0) for i in range(1, 7)],
        "id long, name string, house string, segment string, acctbal double",
    )
    tri = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)]
    edges = spark.createDataFrame(
        [(a, b, "FRIEND_OF") for a, b in tri], "src long, dst long, type string"
    )
    houses = persons.select(F.col("house").alias("name")).distinct()
    g = GraphModel(persons=persons, houses=houses, edges=edges)
    got = {r.name: r.community for r in label_propagation(g, max_iter=6).collect()}
    # deterministic min-tie-break LPA settles each triangle on one label;
    # the bridge edge 3-4 must not merge the two communities
    assert got == {"P1": 1, "P2": 1, "P3": 1, "P4": 3, "P5": 3, "P6": 3}


def test_sssp_weighted_relaxation(spark):
    """Indirect path must beat the heavy direct edge:
    w(2,11) = (13 % 7) + 1 = 7, but 2→5→11 costs 1 + 3 = 4."""
    persons = spark.createDataFrame(
        [
            (2, "P Two", "NATION_9", "SEG", 1.0),
            (5, "P Five", "NATION_9", "SEG", 1.0),
            (11, "P Eleven", "NATION_9", "SEG", 1.0),
            (99, "P Isolated", "NATION_8", "SEG", 1.0),
        ],
        "id long, name string, house string, segment string, acctbal double",
    )
    edges = spark.createDataFrame(
        [(2, 5, "FRIEND_OF"), (2, 11, "FRIEND_OF"), (5, 11, "FRIEND_OF")],
        "src long, dst long, type string",
    )
    houses = persons.select(F.col("house").alias("name")).distinct()
    g = GraphModel(persons=persons, houses=houses, edges=edges)
    out = {r["name"]: r["dist"] for r in alg.sssp_distances(g, "P Two").collect()}
    assert out == {"P Two": 0, "P Five": 1, "P Eleven": 4}


def test_kcore_peeling_cascades(spark):
    """Triangle with a tail: removing the leaf must doom its parent the
    NEXT round (2-core = the triangle alone) — the cascade that makes
    peeling iterative."""
    persons = spark.createDataFrame(
        [(i, f"N{i}", "NATION_5", "SEG", 1.0) for i in range(1, 6)],
        "id long, name string, house string, segment string, acctbal double",
    )
    edges = spark.createDataFrame(
        [(1, 2, "FRIEND_OF"), (1, 3, "FRIEND_OF"), (2, 3, "FRIEND_OF"),
         (3, 4, "FRIEND_OF"), (4, 5, "FRIEND_OF")],
        "src long, dst long, type string",
    )
    houses = persons.select(F.col("house").alias("name")).distinct()
    g = GraphModel(persons=persons, houses=houses, edges=edges)
    core = {r["name"] for r in alg.kcore_members(g, k=2).collect()}
    assert core == {"N1", "N2", "N3"}
    # k above max degree → empty core
    assert alg.kcore_members(g, k=5).count() == 0


def test_deterministic_walks_choice_and_dead_ends(tiny):
    import hashlib

    out = alg.deterministic_walks(tiny, walk_len=2, walks_per_node=2)
    rows = {(r.start, r.walk_no): r for r in out.collect()}
    # one row per (node, walk_no)
    assert len(rows) == 7 * 2
    # isolated node 7: all steps NULL
    assert rows[(7, 0)].step_1 is None and rows[(7, 0)].step_2 is None
    # walks are reproducible
    again = {
        (r.start, r.walk_no): r
        for r in alg.deterministic_walks(tiny, walk_len=2, walks_per_node=2).collect()
    }
    assert {k: tuple(v) for k, v in rows.items()} == {
        k: tuple(v) for k, v in again.items()
    }

    # step 1 from node 1 must be the hash-indexed sorted neighbor of {2,3,4}
    def pick(start, walk_no, t, neighbors):
        draw = int(
            hashlib.md5(f"{start}|{walk_no}|{t}".encode()).hexdigest()[:5], 16
        )
        return sorted(neighbors)[draw % len(neighbors)]

    assert rows[(1, 0)].step_1 == pick(1, 0, 1, [2, 3, 4])
    assert rows[(1, 1)].step_1 == pick(1, 1, 1, [2, 3, 4])
    # node 5's only neighbor is 6, then 6's only neighbor is back to 5
    assert rows[(5, 0)].step_1 == 6 and rows[(5, 0)].step_2 == 5


def test_personalized_pagerank_concentrates_near_seed(tiny):
    out = {r.name: r.rank for r in alg.personalized_pagerank(tiny, "Alice A").collect()}
    # isolated node 7 and the disconnected 5-6 pair are unreachable: rank 0,
    # filtered from the output
    assert "Gus G" not in out and "Eve E" not in out and "Fay F" not in out
    # seed holds the most mass; all emitted ranks positive, total ≤ 1
    assert max(out, key=out.get) == "Alice A"
    assert all(v > 0 for v in out.values())
    assert sum(out.values()) <= 1.0 + 1e-9
    # neighbors of the seed outrank the non-neighbor reachable node? all
    # of 2,3,4 are direct neighbors here; just pin reachability set
    assert set(out) == {"Alice A", "Bob B", "Cara C", "Dan D"}


def test_personalized_pagerank_isolated_seed_raises(tiny):
    import pytest

    with pytest.raises(ValueError, match="isolated"):
        alg.personalized_pagerank(tiny, "Gus G")


def test_linkpred_training_set_properties(tiny):
    rows = alg.link_prediction_training_set(tiny, neg_per_pos=2).collect()
    pos = [(r.src, r.dst) for r in rows if r.label == 1]
    neg = [(r.src, r.dst) for r in rows if r.label == 0]
    assert set(pos) == {(1, 2), (1, 3), (2, 3), (1, 4), (5, 6)}
    # no negative is a real (undirected) edge or a self-loop
    sym = set(pos) | {(b, a) for a, b in pos}
    assert all(p not in sym and p[0] != p[1] for p in neg)
    assert len(neg) <= 2 * len(pos)
    # deterministic across runs
    again = alg.link_prediction_training_set(tiny, neg_per_pos=2).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


def test_closeness_landmarks_path_graph(spark):
    """Path A—B—C—D with landmarks {A, B} (2 smallest ids): hop sums
    are exact within the depth budget."""
    persons = spark.createDataFrame(
        [(i, n, "H", "S", 0.0) for i, n in
         enumerate(["A", "B", "C", "D"], start=1)],
        "id long, name string, house string, segment string, acctbal double",
    )
    edges = spark.createDataFrame(
        [(1, 2, "FRIEND_OF"), (2, 3, "FRIEND_OF"), (3, 4, "FRIEND_OF")],
        "src long, dst long, type string",
    )
    g = GraphModel(
        persons=persons,
        houses=persons.select(F.col("house").alias("name")).distinct(),
        edges=edges,
    )
    out = {r.name: (r.n_reached, r.total_dist)
           for r in alg.closeness_landmarks(g, n_landmarks=2).collect()}
    # dists to A/B: A=(0,1) B=(1,0) C=(2,1) D=(3,2)
    assert out == {"A": (2, 1), "B": (2, 1), "C": (2, 3), "D": (2, 5)}


def test_betweenness_landmarks_matches_python_brandes(spark):
    """Bowtie graph, landmarks {1, 2}: engine scores equal a Python
    Brandes restricted to the same sources (within quantization)."""
    ids = {1: "A", 2: "B", 3: "C", 4: "D", 5: "E", 6: "F"}
    und = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (4, 6), (5, 6)]
    persons = spark.createDataFrame(
        [(i, n, "H", "S", 0.0) for i, n in ids.items()],
        "id long, name string, house string, segment string, acctbal double",
    )
    edges = spark.createDataFrame(
        [(a, b, "FRIEND_OF") for a, b in und], "src long, dst long, type string"
    )
    g = GraphModel(
        persons=persons,
        houses=persons.select(F.col("house").alias("name")).distinct(),
        edges=edges,
    )
    got = {r.name: r.betweenness
           for r in alg.betweenness_landmarks(g, n_landmarks=2).collect()}

    # Python Brandes from the same sources
    from collections import defaultdict, deque

    adj = defaultdict(set)
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    bet = defaultdict(float)
    for s in (1, 2):
        dist = {s: 0}
        sigma = defaultdict(int)
        sigma[s] = 1
        order = [s]
        q = deque([s])
        while q:
            v = q.popleft()
            for w in sorted(adj[v]):
                if w not in dist:
                    dist[w] = dist[v] + 1
                    q.append(w)
                    order.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
        delta = defaultdict(float)
        for v in reversed(order):
            for w in adj[v]:
                if dist.get(w) == dist[v] + 1:
                    delta[v] += sigma[v] / sigma[w] * (1 + delta[w])
            if v != s:
                bet[ids[v]] += delta[v]
    want = {k: v for k, v in bet.items() if v > 0}
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-6, (k, got[k], want[k])


def test_clustering_coefficient_tiny(tiny):
    # FRIEND_OF fixture: triangle (1,2,3) + pendant 4 + pair 5-6.
    rows = {
        r["name"]: r
        for r in alg.clustering_coefficient(
            tiny, types=("FRIEND_OF",)
        ).collect()
    }
    # Alice: neighbors {2,3,4}, 1 adjacent pair of 3 → 1/3
    assert rows["Alice A"]["degree"] == 3
    assert rows["Alice A"]["triangles"] == 1
    assert rows["Alice A"]["clustering_coeff"] == pytest.approx(1 / 3)
    # Bob and Cara: neighbors form one adjacent pair → 1.0
    assert rows["Bob B"]["clustering_coeff"] == 1.0
    assert rows["Cara C"]["clustering_coeff"] == 1.0
    # Dan: degree 1 → defined as 0; Eve/Fay degree 1 → 0
    assert rows["Dan D"]["clustering_coeff"] == 0.0
    assert rows["Eve E"]["clustering_coeff"] == 0.0
    assert "Gus G" not in rows  # isolated → no degree row


def test_jaccard_similarity_tiny(tiny):
    rows = alg.jaccard_similarity(tiny, types=("FRIEND_OF",), k=100).collect()
    scores = {(r["name_a"], r["name_b"]): r for r in rows}
    # Bob {1,3} vs Cara {1,2}: common {1} (not each other — open
    # neighborhoods), union {1,2,3} → 1/3
    bc = scores[("Bob B", "Cara C")]
    assert bc["common"] == 1
    assert bc["jaccard"] == pytest.approx(1 / 3)
    # Dan {1} vs Bob {1,3}: common {1}, union {1,3} → 1/2
    assert scores[("Bob B", "Dan D")]["jaccard"] == pytest.approx(1 / 2)
    # Eve-Fay share no common neighbor (only each other) → absent
    assert ("Eve E", "Fay F") not in scores
    # ordering: jaccard descending
    js = [r["jaccard"] for r in rows]
    assert js == sorted(js, reverse=True)


def test_jaccard_similarity_max_degree_prunes_hub(tiny):
    # With max_degree=2 node 1 (degree 3) is excluded from the
    # common-neighbor role, so pairs whose ONLY common neighbor is the
    # hub disappear while degree values stay true.
    rows = alg.jaccard_similarity(
        tiny, types=("FRIEND_OF",), k=100, max_degree=2
    ).collect()
    pairs = {(r["name_a"], r["name_b"]) for r in rows}
    assert ("Bob B", "Dan D") not in pairs  # only common neighbor was 1
    # Alice-Bob still share Cara (degree 2 ≤ cap)
    assert ("Alice A", "Bob B") in pairs


def test_hits_matches_python_reference(tiny):
    """HITS on the tiny directed fixture ≡ a plain-Python implementation
    of the identical quantized recurrence (same op order)."""
    got = {
        r["name"]: (r["hub"], r["authority"])
        for r in alg.hits(tiny).collect()
    }
    edges = [(1, 2), (1, 3), (2, 3), (1, 4), (5, 6)]
    ids = [1, 2, 3, 4, 5, 6, 7]
    names = {1: "Alice A", 2: "Bob B", 3: "Cara C", 4: "Dan D",
             5: "Eve E", 6: "Fay F", 7: "Gus G"}
    S = 1.0e9

    def quant_sum(vals):
        return float(sum(int(round(v * S)) for v in vals)) / S

    hub = {i: 1.0 / len(ids) for i in ids}
    for _ in range(5):
        raw_a = {
            v: quant_sum(hub[u] for (u, w) in edges if w == v) for v in ids
        }
        nrm = (quant_sum((raw_a[v] * raw_a[v]) for v in ids)) ** 0.5
        auth = {v: raw_a[v] / nrm for v in ids}
        raw_h = {
            u: quant_sum(auth[w] for (x, w) in edges if x == u) for u in ids
        }
        nrm = (quant_sum((raw_h[u] * raw_h[u]) for u in ids)) ** 0.5
        hub = {u: raw_h[u] / nrm for u in ids}
    for i in ids:
        gh, ga = got[names[i]]
        assert gh == pytest.approx(hub[i], abs=1e-12)
        assert ga == pytest.approx(auth[i], abs=1e-12)
    # structure sanity: Alice is the dominant hub, Cara the dominant
    # authority; the isolated node is zero on both
    assert max(got, key=lambda n: got[n][0]) == "Alice A"
    assert max(got, key=lambda n: got[n][1]) == "Cara C"
    assert got["Gus G"] == (0.0, 0.0)


def test_ktruss_peeling_cascades(spark):
    """k=4 truss: a full 4-clique survives (every edge in 2 triangles);
    two triangles sharing an edge cascade to empty (peeling the weak
    edges drops the shared edge's support to 0 next round)."""
    persons = spark.createDataFrame(
        [(i, f"N{i}", "H", "S", 0.0) for i in range(1, 9)],
        "id long, name string, house string, segment string, acctbal double",
    )
    clique = [(5, 6), (5, 7), (5, 8), (6, 7), (6, 8), (7, 8)]
    bowtie = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)]
    edges = spark.createDataFrame(
        [(a, b, "FRIEND_OF") for a, b in clique + bowtie],
        "src long, dst long, type string",
    )
    houses = persons.select(F.col("house").alias("name")).distinct()
    g = GraphModel(persons=persons, houses=houses, edges=edges)
    got = {
        (r.a_name, r.b_name): r.support
        for r in alg.ktruss_edges(g, k=4).collect()
    }
    assert got == {
        (f"N{a}", f"N{b}"): 2 for a, b in clique
    }


def test_ktruss_grid_path_parity(spark, sf_dir, monkeypatch):
    """The 2D-grid support kernel (large-graph path) is byte-identical
    to the broadcast path on the real sf graph — support counts are
    exact integers, so the routing gate can never change the answer.
    A tiny cell_entry_target forces a multi-block grid (B >> 2) so
    cross-cell edge placement and both replication sides are
    exercised, not just the degenerate 2x2 grid."""
    from neo4j_database_spark.graph.model import build_graph

    g = build_graph(spark, sf_dir)
    base = sorted(
        (r.a_name, r.b_name, r.support)
        for r in alg.ktruss_edges(g).collect()
    )
    assert len(base) > 0
    monkeypatch.setattr(alg, "BROADCAST_ADJ_ENTRY_LIMIT", 0)
    monkeypatch.setattr(alg, "GRID_CELL_ENTRY_TARGET", 1_000)
    grid = sorted(
        (r.a_name, r.b_name, r.support)
        for r in alg.ktruss_edges(g).collect()
    )
    assert grid == base


def test_ktruss_grid_peeling_cascades(spark, monkeypatch):
    """The grid path peels identically on the clique+bowtie fixture
    (multi-round cascade, B=2 minimum grid)."""
    monkeypatch.setattr(alg, "BROADCAST_ADJ_ENTRY_LIMIT", 0)
    persons = spark.createDataFrame(
        [(i, f"N{i}", "H", "S", 0.0) for i in range(1, 9)],
        "id long, name string, house string, segment string, acctbal double",
    )
    clique = [(5, 6), (5, 7), (5, 8), (6, 7), (6, 8), (7, 8)]
    bowtie = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)]
    edges = spark.createDataFrame(
        [(a, b, "FRIEND_OF") for a, b in clique + bowtie],
        "src long, dst long, type string",
    )
    houses = persons.select(F.col("house").alias("name")).distinct()
    g = GraphModel(persons=persons, houses=houses, edges=edges)
    got = {
        (r.a_name, r.b_name): r.support
        for r in alg.ktruss_edges(g, k=4).collect()
    }
    assert got == {(f"N{a}", f"N{b}"): 2 for a, b in clique}


def _ktruss_routed(monkeypatch, g, route, **kw):
    """ktruss_edges rows with ``route`` forced through the routing
    constants ("default" leaves them alone), plus the support kernels
    a spy saw run — proof the forced route was taken."""
    seen = set()
    with monkeypatch.context() as m:
        for name in ("_oriented_support", "_grid_support"):

            def spy(*args, _kernel=getattr(alg, name), _name=name):
                seen.add(_name)
                return _kernel(*args)

            m.setattr(alg, name, spy)
        if route == "oriented":
            m.setattr(alg, "ORIENTED_DEG2_RATIO", 0)
        elif route in ("broadcast", "grid"):
            m.setattr(alg, "ORIENTED_DEG2_RATIO", float("inf"))
        if route == "grid":
            m.setattr(alg, "BROADCAST_ADJ_ENTRY_LIMIT", 0)
        rows = sorted(
            (r.a_name, r.b_name, r.support)
            for r in alg.ktruss_edges(g, **kw).collect()
        )
    return rows, seen


def test_ktruss_oriented_strategy_parity(spark, sf_dir, monkeypatch):
    """The oriented route (degree-ordered triangle enumeration, forced
    with ORIENTED_DEG2_RATIO = 0) is byte-identical to the default
    edge-iterator on the real sf graph and on the multi-round
    clique+bowtie cascade."""
    from neo4j_database_spark.graph.model import build_graph

    g = build_graph(spark, sf_dir)
    base, seen = _ktruss_routed(monkeypatch, g, "default")
    assert "_oriented_support" not in seen
    oriented, seen = _ktruss_routed(monkeypatch, g, "oriented")
    assert seen == {"_oriented_support"}
    assert oriented == base and len(base) > 0

    persons = spark.createDataFrame(
        [(i, f"N{i}", "H", "S", 0.0) for i in range(1, 9)],
        "id long, name string, house string, segment string, acctbal double",
    )
    clique = [(5, 6), (5, 7), (5, 8), (6, 7), (6, 8), (7, 8)]
    bowtie = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)]
    edges = spark.createDataFrame(
        [(a, b, "FRIEND_OF") for a, b in clique + bowtie],
        "src long, dst long, type string",
    )
    tiny = GraphModel(
        persons=persons,
        houses=persons.select(F.col("house").alias("name")).distinct(),
        edges=edges,
    )
    got, seen = _ktruss_routed(monkeypatch, tiny, "oriented", k=4)
    assert seen == {"_oriented_support"}
    assert got == sorted((f"N{a}", f"N{b}", 2) for a, b in clique)


def _hub_graph(spark, n_hubs=6, spokes=40):
    """Miniature of the r07 hub-graph probe (SCALE_PROBE.md; its
    script's last copy is in commit 5850eb7): pure stars (zero
    triangles) + a 6-clique that survives as the 5-truss."""
    clique_ids = list(range(1, 7))
    hub_ids = list(range(100, 100 + n_hubs))
    spoke_ids = [1000 + h * 100 + s for h in range(n_hubs) for s in range(spokes)]
    ids = clique_ids + hub_ids + spoke_ids
    persons = spark.createDataFrame(
        [(i, f"N{i}", "H", "S", 0.0) for i in ids],
        "id long, name string, house string, segment string, acctbal double",
    )
    edges = [
        (a, b)
        for i, a in enumerate(clique_ids)
        for b in clique_ids[i + 1 :]
    ] + [
        (hub_ids[h], 1000 + h * 100 + s)
        for h in range(n_hubs)
        for s in range(spokes)
    ]
    edf = spark.createDataFrame(
        [(a, b, "FRIEND_OF") for a, b in edges],
        "src long, dst long, type string",
    )
    return GraphModel(
        persons=persons,
        houses=persons.select(F.col("house").alias("name")).distinct(),
        edges=edf,
    )


def test_ktruss_auto_router(spark, sf_dir, monkeypatch):
    """ktruss_edges's skew probe (VERDICT r07 item 2) routes each
    measured regime correctly WITHOUT caller knowledge:

    - hub graph (stars + small clique): Σ deg² / Σ outdeg² in the
      thousands → oriented;
    - sf FRIEND_OF cliques (uniform degree): ratio ≈ 4 → stays on the
      edge-iterator family (ORIENTED_DEG2_RATIO = 10 sits above the
      uniform-degree floor);
    and every route forced through ORIENTED_DEG2_RATIO and
    BROADCAST_ADJ_ENTRY_LIMIT is byte-identical to the default on the
    hub graph, so routing can never change the answer.
    """
    from neo4j_database_spark.graph.model import build_graph

    hub = _hub_graph(spark)
    e = (
        hub.edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .distinct()
        .localCheckpoint()
    )
    n, d2, od2 = alg._degree_skew_probe(e, True)
    assert d2 > alg.ORIENTED_DEG2_RATIO * od2  # routes oriented
    assert n == e.select(F.explode(F.array("src", "dst"))).distinct().count()

    g = build_graph(spark, sf_dir)
    ge = (
        g.edges.filter(F.col("type") == "FRIEND_OF")
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .distinct()
        .localCheckpoint()
    )
    _, gd2, god2 = alg._degree_skew_probe(ge, True)
    assert gd2 <= alg.ORIENTED_DEG2_RATIO * god2  # stays edge-iterator

    expected_kernels = {
        "default": {"_oriented_support"},
        "broadcast": set(),
        "grid": {"_grid_support"},
        "oriented": {"_oriented_support"},
    }
    results = {}
    for route, kernels in expected_kernels.items():
        results[route], seen = _ktruss_routed(monkeypatch, hub, route)
        assert seen == kernels, route
    assert len(results["default"]) == 15  # the 6-clique survives as 5-truss
    assert (
        results["default"]
        == results["broadcast"]
        == results["grid"]
        == results["oriented"]
    )
