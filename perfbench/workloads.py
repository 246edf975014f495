"""The two benchmark workloads.

``app`` is the Winder web app's traffic: read requests over the stored
graph plus a user's writeback statements. ``batch`` is the ETL, feature
and curation jobs. Between them every engine module the benchmark
measures is called, and each workload bypasses the other's layers.

Each workload has a ``prepare`` step (state it needs: the graph store,
a Cypher session), a ``warm_up`` step (one untimed pass, so first-call
JIT and codegen land in set-up), ``pass_ops`` (one deck of requests, or
one pass over the job list) and ``check`` (DuckDB comparison of the
outputs, after the timed section).

Every engine call goes through ``execute``, which wraps it in spans
named after the public function it calls: ``<module>.<function>`` for
the call itself (plan construction plus any eager jobs) and
``<module>.<function>:exec`` for running the plan.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pyarrow.parquet as pq

import __spark_entry__ as entry
from neo4j_database_spark.cypher import CypherSession, run_cypher
from neo4j_database_spark.graph import algorithms as galg
from neo4j_database_spark.graph import features
from neo4j_database_spark.graph import queries as gq
from neo4j_database_spark.graph import store
from neo4j_database_spark.graph.model import GraphModel
from neo4j_database_spark.pipeline import dedup

import oracle

# Input sizes shared by both workloads: about the reference's sf0.01
# (1,500 persons, 25 houses, ~63,000 stored edges). sf0.1 does not fit
# the benchmark's time budget (see perfbench/BENCHMARK.md).
SIZES = {"persons": 1500, "documents": 2000, "embeddings": 5000}
# Hot request set: Zipf-skewed, far smaller than the 256-entry Cypher
# plan cache, and primed during set-up.
HOT = 4
HOT_P = (1.0 / np.arange(1, HOT + 1)) / (1.0 / np.arange(1, HOT + 1)).sum()

MERGE_USER = "MERGE (u:Person {name: $name}) SET u.house = $house, u.isUser = true"
MERGE_FRIENDS = (
    "MATCH (u:Person {name: $name}), (f:Person) WHERE f.name IN $friends "
    "MERGE (u)-[:FRIEND_OF]->(f)"
)
MERGE_ENEMIES = (
    "MATCH (u:Person {name: $name}), (e:Person) WHERE e.name IN $enemies "
    "MERGE (u)-[:ENEMY_OF]->(e)"
)


@dataclass
class Op:
    kind: str  # the operation's name in the metrics, e.g. "winder"
    fn: str  # the public function it calls, "<module>.<function>"
    call: Callable  # returns a DataFrame, or None for writes
    sink: str = "collect"  # "collect", "noop" or "none"
    params: dict = field(default_factory=dict)


@dataclass
class Done:
    op: Op
    seconds: float
    cols: list | None = None
    rows: list | None = None
    error: str | None = None
    stored_mb: float | None = None  # block-store growth, traced writes only


def execute(ctx, op: Op, op_id: int) -> Done:
    tr = ctx.tracer
    probe = tr.enabled and op.fn == "cypher.writes.apply_cypher_write"
    before = ctx.stored_bytes() if probe else 0
    cols = rows = err = None
    s_op = None
    t0 = time.perf_counter()
    try:
        with tr.span("op." + op.kind, op_id=op_id, fn=op.fn) as s_op:
            with tr.span(op.fn):
                df = op.call()
            if op.sink != "none":
                with tr.span(op.fn + ":exec"):
                    if op.sink == "collect":
                        rows = [tuple(r) for r in df.collect()]
                        cols = df.columns
                    else:
                        df.write.mode("overwrite").format("noop").save()
    except Exception as e:  # a failed operation is counted, not fatal
        err = f"{type(e).__name__}: {e}"[:400]
    d = Done(op, time.perf_counter() - t0, cols, rows, err)
    if probe:
        d.stored_mb = (ctx.stored_bytes() - before) / 2**20
    if s_op is not None:
        s_op.extra.update(hit=op.params.get("hit", False), stored_mb=d.stored_mb)
    return d


class Workload:
    name = ""
    batch = False  # True: the loop runs whole passes over the job list
    warm: list[Done] = []  # warm-up outputs that ``check`` compares

    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = np.random.default_rng([ctx.seed, len(self.name)])

    def prepare(self) -> None:
        pass

    def warm_up(self) -> None:
        raise NotImplementedError

    def pass_ops(self) -> list[Op]:
        raise NotImplementedError

    def check(self, done: list[Done]) -> int:
        """Number of checked operations that raised or answered wrong."""
        raise NotImplementedError

    # -- request parameters ------------------------------------------
    def _names(self, k: int, hot: bool) -> list[str]:
        """``k`` distinct person names: one of the hot lists, or
        uniform over all persons."""
        if hot:
            return list(self.ctx.hot_lists[self.rng.choice(HOT, p=HOT_P)][:k])
        idx = self.rng.choice(len(self.ctx.names), size=k, replace=False)
        return [self.ctx.names[i] for i in idx]


class App(Workload):
    """Closed loop, one client. A deck is 20 read requests over the
    stored graph in a seeded order, half of the person picks hot, with
    one user's writeback cycle at a seeded place in it: the reference's
    user MERGE, 3-target FRIEND_OF MERGE and 1-target ENEMY_OF MERGE
    into one CypherSession, then the Cypher winder over the user's
    friends and the user's ego network, both over the mutated graph."""

    name = "app"
    DECK = (
        ("winder", 6),
        ("cypher_winder", 4),
        ("ego_network", 4),
        ("search", 3),
        ("house_subgraph", 3),
    )
    READS_AFTER_WRITE = ("read_winder", "read_ego")
    CYCLE = ("merge_node", "merge_edge") + READS_AFTER_WRITE

    def prepare(self) -> None:
        self.g = self.ctx.graph()
        self.session = CypherSession(self.g)
        self.cycle = 0
        self._plans: dict = {}

    def warm_up(self) -> None:
        """One request of each kind and one user cycle, its writes into
        a throwaway session, then the hot Cypher statements: a
        long-running server has compiled those already."""
        live, self.session = self.session, CypherSession(self.g)
        first = {op.kind: op for op in reversed(self.pass_ops()) if op.kind not in self.CYCLE}
        ops = list(first.values()) + self._user_cycle()
        for i, op in enumerate(ops):
            d = execute(self.ctx, op, -1 - i)
            if d.error:
                raise RuntimeError(f"warm-up {op.kind} failed: {d.error}")
        self.session = live
        for lst in self.ctx.hot_lists:
            self._cypher(lst).collect()

    def _cypher(self, friends, op: Op | None = None):
        df = run_cypher(self.g, entry._CYPHER_WINDER, {"friends": friends})
        key = tuple(friends)
        if op is not None:
            op.params["hit"] = self._plans.get(key) is df
        self._plans[key] = df
        return df

    def pass_ops(self) -> list[Op]:
        # the same hot share of every kind in every deck, so that the
        # seed moves the order and the picks, not the plan-cache hits
        picks = [(k, j % 2 == 0) for k, n in self.DECK for j in range(n)]
        order = self.rng.permutation(len(picks))
        reads = [self._read(*picks[i]) for i in order]
        at = int(self.rng.integers(len(reads) + 1))
        return reads[:at] + self._user_cycle() + reads[at:]

    def _read(self, kind: str, hot: bool) -> Op:
        g = self.g
        if kind == "winder":
            seeds = self._names(3, hot)
            return Op(kind, "graph.queries.winder", lambda: gq.winder(g, seeds), params={"seeds": seeds})
        if kind == "cypher_winder":
            seeds = self._names(3, hot)
            op = Op(kind, "cypher.compiler.run_cypher", None, params={"seeds": seeds})
            op.call = lambda: self._cypher(seeds, op)
            return op
        if kind == "ego_network":
            name = self._names(1, hot)[0]
            return Op(kind, "graph.queries.ego_network", lambda: gq.ego_network(g, name), params={"name": name})
        if kind == "search":
            q = self._names(1, hot)[0][-5:]
            return Op(kind, "graph.queries.search", lambda: gq.search(g, q), params={"q": q})
        pick = self.rng.choice(len(self.ctx.houses), size=2, replace=False)
        houses = sorted(self.ctx.houses[j] for j in pick)
        return Op(kind, "graph.queries.house_subgraph", lambda: gq.house_subgraph(g, houses), params={"houses": houses})

    def _user_cycle(self) -> list[Op]:
        self.cycle += 1
        s = self.session
        user = f"User {self.ctx.seed}-{self.cycle}-{int(self.rng.integers(1 << 30))}"
        house = self.ctx.houses[int(self.rng.integers(len(self.ctx.houses)))]
        friends = self._names(3, self.cycle % 2 == 0)
        enemies = self._names(1, False)
        w = "cypher.writes.apply_cypher_write"
        return [
            Op("merge_node", w, lambda: s.run(MERGE_USER, {"name": user, "house": house}), "none", {"name": user, "house": house}),
            Op("merge_edge", w, lambda: s.run(MERGE_FRIENDS, {"name": user, "friends": friends}), "none", {"name": user, "friends": friends}),
            Op("merge_edge", w, lambda: s.run(MERGE_ENEMIES, {"name": user, "enemies": enemies}), "none", {"name": user, "enemies": enemies}),
            Op("read_winder", "cypher.compiler.run_cypher", lambda: s.run(entry._CYPHER_WINDER, {"friends": friends}), params={"seeds": friends}),
            Op("read_ego", "graph.queries.ego_network", lambda: gq.ego_network(s.graph, user), params={"name": user}),
        ]

    @staticmethod
    def expected_sql(op: Op) -> str:
        p = op.params
        seeds = oracle.sql_list(entry.WINDER_SEEDS)
        if op.kind in ("winder", "cypher_winder", "read_winder"):
            reg = "g_winder" if op.kind == "winder" else "cypher_winder"
            return oracle.registry_sql(reg, s=(seeds, oracle.sql_list(p["seeds"])))
        if op.kind in ("ego_network", "read_ego"):
            return oracle.registry_sql("g_ego_network", n=(f"'{entry.EGO_NAME}'", f"'{p['name']}'"))
        if op.kind == "search":
            return oracle.registry_sql("g_search", q=(f"'{entry.SEARCH_Q}'", f"'{p['q']}'"))
        return oracle.registry_sql(
            "g_house_subgraph",
            h=(oracle.sql_list(entry.SUBGRAPH_HOUSES), oracle.sql_list(p["houses"])),
        )

    def check(self, done: list[Done]) -> int:
        """Reads of the stored graph are checked against the base graph.
        The session's statements are replayed into a second DuckDB copy,
        and each read after a write against the state it saw."""
        base, live = self.ctx.duckdb(), self.ctx.duckdb()
        verdict: dict = {}
        bad = 0
        for d in done:
            p = d.op.params
            if d.error:
                bad += 1
            elif d.op.kind == "merge_node":
                live.execute(
                    "INSERT INTO persons (id, name, house, is_user) "
                    "SELECT -1 - (SELECT count(*) FROM persons WHERE id < 0), ?, ?, TRUE",
                    [p["name"], p["house"]],
                )
            elif d.op.kind == "merge_edge":
                rtype = "FRIEND_OF" if "friends" in p else "ENEMY_OF"
                for other in p.get("friends", p.get("enemies")):
                    live.execute(
                        f"""INSERT INTO sym_edges
                        SELECT u.id, o.id, '{rtype}' FROM persons u, persons o
                        WHERE u.name = $1 AND o.name = $2
                        UNION ALL
                        SELECT o.id, u.id, '{rtype}' FROM persons u, persons o
                        WHERE u.name = $1 AND o.name = $2""",
                        [p["name"], other],
                    )
            elif d.op.kind in self.READS_AFTER_WRITE:
                bad += not oracle.same(d.cols, d.rows, live, self.expected_sql(d.op))
            else:
                sql = self.expected_sql(d.op)
                key = (sql, tuple(sorted(map(str, d.rows))))
                if key not in verdict:
                    verdict[key] = oracle.same(d.cols, d.rows, base, sql)
                bad += not verdict[key]
        base.close()
        live.close()
        return bad


class Batch(Workload):
    """Whole passes, one job at a time, noop sink: the ETL build,
    pagerank (10 fixed rounds) and connected components, the feature
    matrix and link prediction over the graph that build wrote, then
    entity resolution, MinHash near-duplicate detection and exact kNN
    through the registry.

    The warm-up pass collects instead, and its outputs are what
    ``check`` compares: the same calls on the same inputs, without
    re-running a pass after the timed section. The timed calls count as
    failed only if they raise."""

    name = "batch"
    batch = True
    CURATION = (
        ("fuzzy_d1", "operators.er.edit_distance_pairs", "customer_fuzzy_matches"),
        ("fuzzy_d2", "operators.er.edit_distance_pairs", "customer_fuzzy_matches_d2"),
        ("minhash", "pipeline.dedup.minhash_lsh_pairs", "doc_minhash_lsh_prod"),
        ("knn", "pipeline.similarity.knn_bruteforce", "emb_knn_bruteforce"),
    )

    def prepare(self) -> None:
        self.out = os.path.join(self.ctx.work, "batch_store")
        self.g: GraphModel | None = None
        self.q = entry.queries()

    def warm_up(self) -> None:
        self.warm = [
            execute(self.ctx, op, -1 - i)
            for i, op in enumerate(self.pass_ops("collect"))
        ]

    def _build(self) -> None:
        store.build_store(self.ctx.spark, self.ctx.data, self.out)
        sp = self.ctx.spark
        self.g = GraphModel(
            persons=sp.read.parquet(os.path.join(self.out, "persons")),
            houses=sp.read.parquet(os.path.join(self.out, "houses")),
            edges=sp.read.parquet(os.path.join(self.out, "edges")),
        )
        self.ctx.note_store(self.out)

    def pass_ops(self, sink: str = "noop") -> list[Op]:
        name = self._names(1, False)[0]
        sp, data = self.ctx.spark, self.ctx.data
        return [
            Op("build_store", "graph.store.build_store", self._build, "none"),
            Op("pagerank", "graph.algorithms.pagerank", lambda: galg.pagerank(self.g), sink),
            Op("connected_components", "graph.algorithms.connected_components", lambda: galg.connected_components(self.g), sink),
            Op("feature_matrix", "graph.features.feature_matrix", lambda: features.feature_matrix(self.g), sink),
            Op("link_prediction", "graph.queries.link_prediction_scores", lambda: gq.link_prediction_scores(self.g, name), sink, {"name": name}),
        ] + [
            Op(kind, fn, lambda r=reg: self.q[r](sp, data), sink, {"registry": reg})
            for kind, fn, reg in self.CURATION
        ]

    def check(self, done: list[Done]) -> int:
        """Compares the warm-up pass with the registry oracles, and the
        edge counts of the store the last timed pass built."""
        con = self.ctx.duckdb()
        expect = {
            "pagerank": "g_pagerank",
            "connected_components": "g_connected_components",
            "feature_matrix": "g_feature_matrix",
        }
        bad = sum(1 for d in done if d.error)
        for d in self.warm:
            kind = d.op.kind
            if d.error:
                bad += 1
            elif kind == "build_store":
                counts = gq.rule_edge_counts(self.g)
                rows = [tuple(r) for r in counts.collect()]
                bad += not oracle.same(counts.columns, rows, con, oracle.registry_sql("g_rule_edge_counts"))
            elif kind == "link_prediction":
                name = d.op.params["name"]
                sql = oracle.registry_sql("g_link_pred_scores", n=(f"'{entry.EGO_NAME}'", f"'{name}'"))
                bad += not oracle.same(d.cols, d.rows, con, sql)
            elif kind == "minhash":
                bad += not self._minhash_ok(con, d)
            else:
                sql = oracle.registry_sql(expect.get(kind) or d.op.params["registry"])
                bad += not oracle.same(d.cols, d.rows, con, sql)
        con.close()
        return bad

    @staticmethod
    def _minhash_ok(con, d: Done) -> bool:
        """The xxhash64 MinHash path has no exact oracle (its hashes are
        engine-specific), so check what LSH guarantees under any hash:
        each reported pair shares a shingle, collides in 1..bands bands
        and is reported once, and every pair of documents with equal
        non-empty shingle sets is reported with all bands colliding."""
        import pyarrow as pa

        bands = dedup.NUM_HASHES // dedup.BAND_SIZE
        got = pa.table({c: [r[i] for r in d.rows] for i, c in enumerate(d.cols)})
        con.register("got", got)
        sql = f"""
WITH {entry._SHINGLE_CTES.strip()},
sets AS (
  SELECT doc_id, string_agg(shingle, ' ' ORDER BY shingle) AS s FROM sh GROUP BY doc_id
),
same_set AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sets a JOIN sets b
    ON a.s = b.s AND a.doc_id < b.doc_id
),
shared AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
)
SELECT
  (SELECT count(*) FROM got WHERE NOT (id_a < id_b AND n_bands_hit BETWEEN 1 AND {bands})),
  (SELECT count(*) - count(DISTINCT (id_a, id_b)) FROM got),
  (SELECT count(*) FROM got g ANTI JOIN shared s USING (id_a, id_b)),
  (SELECT count(*) FROM same_set s ANTI JOIN
     (SELECT * FROM got WHERE n_bands_hit = {bands}) g USING (id_a, id_b)),
  (SELECT count(*) FROM same_set)
"""
        bad_range, dup, unshared, missed, n_same = con.execute(sql).fetchone()
        con.unregister("got")
        return bad_range == dup == unshared == missed == 0 and n_same > 0


WORKLOADS = {w.name: w for w in (App, Batch)}


def load_names(data_dir: str) -> list[str]:
    return pq.read_table(
        os.path.join(data_dir, "customer.parquet"), columns=["c_name"]
    ).column("c_name").to_pylist()
