"""WinderEngine: the reference app's full serving surface on one object.

One method per reference HTTP endpoint (reference app.py:37-449), so a
user of the Flask+Neo4j app can switch by replacing Bolt calls with
these — same inputs, same semantics, same response shapes (including
the Cytoscape.js elements JSON the UI consumes, app.py:325-363).

The engine holds the materialized graph (store.load_graph) and the
trained classifier; every method is a Catalyst plan + a small collect,
mirroring the query-then-serialize lifecycle of SURVEY.md §3.1.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neo4j_database_spark.graph import queries as gq
from neo4j_database_spark.graph.model import GraphModel
from neo4j_database_spark.graph.store import load_graph


def cytoscape_elements(
    nodes: DataFrame, edges: DataFrame
) -> dict[str, Any]:
    """S8: serialize a (nodes, edges) pair into the Cytoscape.js
    ``{elements: {nodes: [...], edges: [...]}}`` shape (app.py:325-363).

    nodes needs (id, label, group, house); edges needs
    (source, target, label). Dedup matches the reference's added_nodes
    set (app.py:265).
    """
    node_rows = nodes.dropDuplicates(["id"]).collect()
    edge_rows = edges.dropDuplicates(["source", "target", "label"]).collect()
    return {
        "elements": {
            "nodes": [
                {
                    "data": {
                        "id": str(r["id"]),
                        "label": r["label"],
                        "group": r["group"],
                        "house": r["house"],
                    }
                }
                for r in node_rows
            ],
            "edges": [
                {
                    "data": {
                        "source": str(r["source"]),
                        "target": str(r["target"]),
                        "label": r["label"],
                    }
                }
                for r in edge_rows
            ],
        }
    }


class WinderEngine:
    """The seven serving endpoints, Spark-native."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.graph: GraphModel = load_graph(spark, sf_dir)
        self._classifier = None
        self._train_result = None
        self._survival = None

    # -- raw Cypher (the reference's driver.session().run surface) --
    def cypher(
        self, query: str, params: dict | None = None
    ) -> list[dict[str, Any]] | None:
        """Run a Cypher statement against the engine's graph: reads
        return rows (serving boundary — list of dicts, like the
        neo4j driver's .data()); writes mutate the in-session graph
        and return None. See cypher/ for the supported subset."""
        from neo4j_database_spark.cypher import CypherSession

        s = CypherSession(self.graph)
        out = s.run(query, params)
        self.graph = s.graph
        if out is None:
            return None
        return [r.asDict(recursive=True) for r in out.collect()]

    # -- GET /characters (app.py:188-204) --
    def characters(self) -> list[dict[str, Any]]:
        return [r.asDict() for r in gq.directory(self.graph).collect()]

    # -- GET /search?q= (app.py:437-446) --
    def search(self, q: str, limit: int = 10) -> list[dict[str, Any]]:
        return [r.asDict() for r in gq.search(self.graph, q, limit).collect()]

    # -- POST /winder (app.py:206-245) --
    def winder(self, friends: Sequence[str], k: int = 3) -> list[dict[str, Any]]:
        if not friends:
            raise ValueError("friends list must be non-empty")  # app.py:210-212
        out = gq.winder(self.graph, friends, k).collect()
        # response keys mirror app.py:238-244: name, house, image, score
        # (= common_friends), shared_with
        return [
            {
                "name": r["name"],
                "house": r["house"],
                "image": r["image"],
                "score": r["common_friends"],
                "shared_with": r["shared_with"].split(",") if r["shared_with"] else [],
            }
            for r in out
        ]

    def suggest(self, name: str, k: int = 5) -> list[dict[str, Any]]:
        """Beyond-reference endpoint: personalized-PageRank friend
        suggestions from an ego node — the whole-graph upgrade of
        ``winder``'s 1-hop common-neighbor score (multi-hop paths and
        path multiplicity count too). Direct neighbors are excluded:
        suggestions are people you are NOT yet connected to."""
        from neo4j_database_spark.graph import algorithms as galg

        ranks = galg.personalized_pagerank(self.graph, name)
        exclude = {name} | {
            r["dst_name"]
            for r in self.graph.named_adjacency(seeds=F.col("src_name") == name)
            .select("dst_name")
            .collect()
        }
        out = []
        for r in ranks.collect():
            if r["name"] in exclude:
                continue
            out.append({"name": r["name"], "score": r["rank"]})
            if len(out) == k:
                break
        return out

    # -- GET /graph/ego/<name> (app.py:247-285) --
    def ego_graph(self, name: str, limit: int = 500) -> dict[str, Any]:
        """The ego network's rows, as nodes and edges by person id: the
        adjacency rows carry both endpoints' ids and houses."""
        ego = gq.ego_adjacency(self.graph, name, limit)
        nodes = [
            ego.select(
                F.col(side).alias("id"),
                F.col(f"{side}_name").alias("label"),
                F.lit("person").alias("group"),
                F.col(f"{side}_house").alias("house"),
            )
            for side in ("src", "dst")
        ]
        edges = ego.select(
            F.col("src").alias("source"),
            F.col("dst").alias("target"),
            F.col("type").alias("label"),
        )
        return cytoscape_elements(nodes[0].union(nodes[1]), edges)

    # -- GET /graph/houses?houses= (app.py:366-434) --
    def house_graph(
        self, houses: Sequence[str], limit: int = 5000
    ) -> dict[str, Any]:
        """Person-person subgraph PLUS the House hub nodes and BELONGS_TO
        spokes (reference app.py:410-434 runs a second query for exactly
        this, so the UI's "House Connection" filter and hub rendering
        work). House node ids are the house NAME — the reference's
        ``h.get("id", h["name"])`` — which cannot collide with numeric
        person ids. The subgraph's adjacency rows carry the person
        ids."""
        nodes = gq.house_nodes(self.graph, houses).withColumnsRenamed(
            {"node_id": "id", "grp": "group"}
        )
        pp_edges = gq.house_subgraph_adjacency(self.graph, houses, limit).select(
            F.col("src").cast("string").alias("source"),
            F.col("dst").cast("string").alias("target"),
            F.col("type").alias("label"),
        )
        belongs_edges = self.graph.persons.filter(
            F.col("house").isin(list(houses))
        ).select(
            F.col("id").cast("string").alias("source"),
            F.col("house").alias("target"),
            F.lit("BELONGS_TO").alias("label"),
        )
        return cytoscape_elements(nodes, pp_edges.unionByName(belongs_edges))

    # -- GET /housemates/<name> (app.py:287-301) --
    def housemates(self, name: str, limit: int = 100) -> list[str]:
        return [r["mate"] for r in gq.housemates(self.graph, name, limit).collect()]

    # -- POST /predict house histogram part (app.py:62-66) --
    def house_histogram(self, names: Sequence[str]) -> dict[str, int]:
        return {
            r["house"]: r["n"]
            for r in gq.house_histogram(self.graph, names).collect()
        }

    # -- POST /predict: the full composite flow (app.py:41-132) --
    # -- POST /predict_survival (app.py:137-180) --
    def predict_survival(
        self,
        friends: Sequence[str] = (),
        enemies: Sequence[str] = (),
        family: Sequence[str] = (),
        house: str = "NATION_0",
    ) -> dict[str, Any]:
        """The reference endpoint 500s as checked in (its model/encoder
        pickles were never shipped and no training script exists). Same
        request contract here — features are the LIST LENGTHS plus the
        encoded house, unknown houses fall back to the encoder's first
        class (app.py:168-171) — but backed by a model the engine trains
        from its own graph (``ml.survival``), lazily on first call.
        Response shape matches: ``{'alive': bool}``.
        """
        from neo4j_database_spark.ml import survival as sv

        if self._survival is None:
            self._survival = sv.train_survival(self.graph)
        alive = sv.predict_survival(
            self._survival, list(friends), list(enemies), list(family), house
        )
        return {"alive": alive}

    def predict_house(
        self,
        name: str,
        friends: Sequence[str] = (),
        enemies: Sequence[str] = (),
        family: Sequence[str] = (),
        romance: Sequence[str] = (),
        write_back: bool = False,
    ) -> dict[str, Any]:
        """Predict a new user's house from their chosen connections.

        Reference semantics (app.py:62-97): each relationship list is
        histogrammed by house into the 16-dim feature vector, the
        RandomForest scores the single row, and (optionally) the user
        node + chosen edges merge back into the graph (S6). The
        reference's predict() forgot its return statement (SURVEY.md
        §3.3 known bug) — here the response is, intentionally, returned.
        """
        from neo4j_database_spark.graph.features import (
            FEATURE_HOUSES,
            FEATURE_TYPES,
            feature_cell_name,
        )
        from neo4j_database_spark.ml import house_classifier as hc

        if self._classifier is None:
            self._train_result = hc.train(self.graph)
            self._classifier = self._train_result.model

        lists = {
            "FRIEND_OF": list(friends),
            "ENEMY_OF": list(enemies),
            "SAME_FAMILY": list(family),
            "ROMANTIC_WITH": list(romance),
        }
        cells = {}
        for etype in FEATURE_TYPES:
            hist = self.house_histogram(lists[etype]) if lists[etype] else {}
            for house in FEATURE_HOUSES:
                cells[feature_cell_name(etype, house)] = int(hist.get(house, 0))
        row = self.spark.createDataFrame(
            [tuple(cells[c] for c in sorted(cells))],
            ", ".join(f"{c} long" for c in sorted(cells)),
        )
        pred = self._classifier.transform(row).select("prediction").first()
        labels = self._classifier.stages[1].labelsArray[0]
        idx = int(pred["prediction"])
        predicted = labels[idx] if idx < len(labels) else "Unknown"

        if write_back:
            # S6 writeback (app.py:100-132): the reference's statements
            # through the Cypher write path, which owns node identity
            # (MERGE keeps an existing id, mints one for a new name),
            # the edge storage contract and the per-statement commit.
            # is_user=true marks the node (app.py:105); species, alive
            # and image take the ingest defaults (get_insert.py:98-101).
            from neo4j_database_spark.cypher import apply_cypher_write

            props = {
                "house": predicted,
                "segment": "USER",
                "acctbal": 0.0,
                "species": "human",
                "gender": "",
                "alive": True,
                "image": "",
                "isUser": True,
            }
            g = apply_cypher_write(
                self.graph,
                "MERGE (u:Person {name: $name}) SET u += $props",
                {"name": name, "props": props},
            )
            for etype, names in lists.items():
                if names:
                    g = apply_cypher_write(
                        g,
                        "MATCH (u:Person {name: $name}), (p:Person) "
                        f"WHERE p.name IN $names MERGE (u)-[:{etype}]->(p)",
                        {"name": name, "names": names},
                    )
            self.graph = g
        return {"name": name, "predicted_house": predicted, "features": cells}
