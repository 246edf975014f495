"""Pattern-match serving queries: Cypher-equivalent Catalyst plans.

Each function re-expresses one of the reference's HTTP-endpoint Cypher
statements (reference: app.py:37-449) as a declarative DataFrame plan.
All results carry deterministic ORDER BY + tie-breaks (name-based total
order replaces Neo4j's internal ``id()`` — SURVEY.md §2 F4) so every
query is DuckDB-oracle-checkable.

Physical notes: the ego and Winder reads filter the named adjacency on
the seed names, and the house subgraph on both endpoints' houses; the
house subgraph, house adjacency and friend counts read the stored
edges as its ``is_edge`` rows, which carry both endpoints' houses. On
a stored graph each of these is one scan with no join. Other point
lookups (``name = $x``) become one-row broadcast sides; top-k becomes
``TakeOrderedAndProject`` (no global sort); the house dim is always
broadcast.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neo4j_database_spark.graph.model import GraphModel, with_person_props

# Edge types that carry "social" signal for link prediction (the reference's
# winder expands FRIEND_OF; our graph adds family/romance so common-neighbor
# scores vary — ENEMY_OF is deliberately excluded from recommendations).
WINDER_TYPES = ("FRIEND_OF", "SAME_FAMILY", "ROMANTIC_WITH")


def directory(g: GraphModel) -> DataFrame:
    """Full person directory, sorted, with the complete property set the
    reference serves (app.py:188-204 returns name, house, species, alive,
    image; get_insert.py:87-103 defines the stored properties). P1/T2."""
    return (
        with_person_props(g.persons)
        .select(
            "name",
            "house",
            "species",
            "gender",
            "alive",
            "image",
            "segment",
            "acctbal",
        )
        .orderBy("name")
    )


def search(g: GraphModel, q: str, limit: int = 10) -> DataFrame:
    """Case-insensitive substring autocomplete. Reference: app.py:441-444
    (P4/T3, ``toLower(p.name) CONTAINS toLower($q) ... LIMIT 10``)."""
    return (
        g.persons.filter(F.lower(F.col("name")).contains(q.lower()))
        .select("name", "house")
        .orderBy("name")
        .limit(limit)
    )


def ego_adjacency(g: GraphModel, name: str, limit: int) -> DataFrame:
    """The named-adjacency rows of :func:`ego_network`, in its order and
    limit (``engine.ego_graph`` reads their ids and houses)."""
    return (
        g.named_adjacency(seeds=F.col("src_name") == name)
        .orderBy("dst_name", "type")
        .limit(limit)
    )


def ego_network(g: GraphModel, name: str, limit: int = 500) -> DataFrame:
    """1-hop undirected any-type expansion. Reference: app.py:257-261 (J1).

    One read of the named adjacency, filtered on the seed's name: on a
    stored graph that is a single pruned scan with no join, and the
    ordered limit is a TakeOrderedAndProject.
    """
    return ego_adjacency(g, name, limit).select(
        F.col("src_name").alias("person"),
        F.col("dst_name").alias("neighbor"),
        F.col("type").alias("rel_type"),
    )


def ego_network_fuzzy(g: GraphModel, q: str, limit: int = 50) -> DataFrame:
    """Fuzzy-fallback ego: expand every person whose name contains the
    query (case-insensitive). Reference: app.py:272-277 — the fallback
    path when the exact-name ego match is empty (``toLower(p.name)
    CONTAINS toLower($q) ... LIMIT 50``)."""
    return (
        g.named_adjacency(seeds=F.lower(F.col("src_name")).contains(q.lower()))
        .select(
            F.col("src_name").alias("person"),
            F.col("dst_name").alias("neighbor"),
            F.col("type").alias("rel_type"),
        )
        .orderBy("person", "neighbor", "rel_type")
        .limit(limit)
    )


def survival_features(g: GraphModel) -> DataFrame:
    """Per-person degree counts by relationship family — the survival
    model's feature vector (len(friends), len(enemies), len(family);
    reference app.py:163-165 / A7). The undirected degree per type in
    one conditional aggregation over the symmetrized edges."""
    deg = (
        g.sym_edges()
        .groupBy(F.col("src").alias("id"))
        .agg(
            F.sum(F.when(F.col("type") == "FRIEND_OF", 1).otherwise(0))
            .cast("long")
            .alias("n_friends"),
            F.sum(F.when(F.col("type") == "ENEMY_OF", 1).otherwise(0))
            .cast("long")
            .alias("n_enemies"),
            F.sum(F.when(F.col("type") == "SAME_FAMILY", 1).otherwise(0))
            .cast("long")
            .alias("n_family"),
        )
    )
    return (
        g.persons.select("id", "name")
        .join(deg, "id", "left")
        .fillna(0, subset=["n_friends", "n_enemies", "n_family"])
        .select("name", "n_friends", "n_enemies", "n_family")
        .orderBy("name")
    )


def housemates(g: GraphModel, name: str, limit: int = 100) -> DataFrame:
    """2-hop path (p)-[:BELONGS_TO]->(h)<-[:BELONGS_TO]-(mate).
    Reference: app.py:288-292 (J2). BELONGS_TO is normalized as the
    ``house`` FK, so the 2-hop is a self-join on house."""
    me = g.persons.filter(F.col("name") == name).select(
        F.col("house").alias("house"), F.col("name").alias("person")
    )
    return (
        g.persons.join(F.broadcast(me), "house")
        .filter(F.col("name") != F.col("person"))
        .select(F.col("name").alias("mate"), "house")
        .orderBy("mate")
        .limit(limit)
    )


def house_subgraph_adjacency(
    g: GraphModel, houses: Sequence[str], limit: int
) -> DataFrame:
    """The named-adjacency rows of :func:`house_subgraph`, in its order
    and limit (``engine.house_graph`` reads their ids)."""
    hs = list(houses)
    return (
        g.named_adjacency()
        .filter(
            F.col("is_edge")
            & F.col("src_house").isin(hs)
            & F.col("dst_house").isin(hs)
        )
        .orderBy("type", "src_name", "dst_name")
        .limit(limit)
    )


def house_subgraph(
    g: GraphModel, houses: Sequence[str], limit: int = 5000
) -> DataFrame:
    """Edges whose BOTH endpoints live in the requested houses.
    Reference: app.py:376-416 (P5/J4/J9, ``LIMIT 5000``).

    One filter of the named adjacency: its ``is_edge`` rows are the
    stored edges in their stored orientation, and each carries both
    endpoints' houses. On a stored graph that is one scan with no
    join."""
    return house_subgraph_adjacency(g, houses, limit).select(
        "src_name", "dst_name", F.col("type").alias("rel_type")
    )


def winder(g: GraphModel, seed_names: Sequence[str], k: int = 3) -> DataFrame:
    """Common-neighbors link prediction — the flagship query.
    Reference: app.py:217-231 ("Winder").

    seed IN-filter (P2) over the named adjacency (J3) → anti-filter of
    the seed set (J3b) → one collect of the shared seeds per candidate,
    whose size is the score (A2) → top-k (T1). The adjacency row already
    carries the candidate's house and image (the reference returns
    candidate.name, candidate.house, candidate.image, app.py:223-227 —
    J9), so a stored graph reads one pruned scan: one shuffle for the
    aggregate, then TakeOrderedAndProject.
    """
    seeds = list(seed_names)
    return (
        g.named_adjacency(WINDER_TYPES, F.col("src_name").isin(seeds))
        .filter(~F.col("dst_name").isin(seeds))
        # names are unique, so house/image are functionally dependent on
        # name — grouping on all three adds no groups, just carries them
        .groupBy(
            F.col("dst_name").alias("name"),
            F.col("dst_house").alias("house"),
            F.col("dst_image").alias("image"),
        )
        .agg(F.collect_set("src_name").alias("shared"))
        .select(
            "name",
            "house",
            "image",
            F.size("shared").cast("long").alias("common_friends"),
            F.array_join(F.sort_array("shared"), ",").alias("shared_with"),
        )
        .orderBy(F.desc("common_friends"), F.asc("name"))
        .limit(k)
    )


def house_nodes(g: GraphModel, houses: Sequence[str]) -> DataFrame:
    """Node list of the house-subgraph endpoint, unordered: the member
    persons PLUS one hub node per requested house. Reference:
    app.py:410-434 (query #2 of /graph/houses fetches House nodes so
    the UI can render hubs and the BELONGS_TO spokes). House hub ids
    are the house NAME, like the reference's ``h.get("id", h["name"])``
    — person ids are numeric, so the namespaces can't collide.
    ``engine.house_graph`` dedups it without a sort, which would add a
    range-partition sampling job and an exchange."""
    members = (
        g.persons.filter(F.col("house").isin(list(houses)))
        .select(
            F.col("id").cast("string").alias("node_id"),
            F.col("name").alias("label"),
            F.lit("person").alias("grp"),
            "house",
        )
    )
    hubs = (
        g.houses.filter(F.col("name").isin(list(houses)))
        .select(
            F.col("name").alias("node_id"),
            F.col("name").alias("label"),
            F.lit("house").alias("grp"),
            F.lit(None).cast("string").alias("house"),
        )
    )
    return members.unionByName(hubs)


def house_subgraph_nodes(
    g: GraphModel, houses: Sequence[str]
) -> DataFrame:
    """:func:`house_nodes`, ordered by group and node id."""
    return house_nodes(g, houses).orderBy("grp", "node_id")


def house_histogram(g: GraphModel, names: Sequence[str]) -> DataFrame:
    """House distribution of a name list. Reference: app.py:62-66 (A1/P2)."""
    return (
        g.persons.filter(F.col("name").isin(list(names)))
        .groupBy("house")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("house")
    )


def rule_edge_counts(g: GraphModel) -> DataFrame:
    """Audit aggregate over the rule-derived edge table: count per type.

    Checks the ETL joins J5-J8 (get_insert.py:113-163) end-to-end without
    materializing millions of edge rows into the comparison."""
    return g.edges.groupBy("type").agg(F.count(F.lit(1)).alias("n")).orderBy("type")


def friend_counts_by_house(g: GraphModel) -> DataFrame:
    """Per-house FRIEND_OF edge count — C(n_house, 2) per house; the skew
    profile of the quadratic self-join J6 (get_insert.py:132-138).
    Counted on the source's house of the stored FRIEND_OF rows of the
    adjacency, which carry it: one scan, no join, on a stored graph."""
    return (
        g.named_adjacency(("FRIEND_OF",))
        .filter("is_edge")
        .groupBy(F.col("src_house").alias("house"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("house")
    )


def link_prediction_scores(g: GraphModel, name: str, k: int = 20) -> DataFrame:
    """Link-prediction score suite for one seed person: common neighbors,
    Jaccard (as an exact integer numerator/denominator pair), and
    preferential attachment.

    Extends the reference's flagship common-neighbors ranking
    (app.py:217-231) with the other classic neighborhood scores from the
    link-prediction literature (Liben-Nowell & Kleinberg 2003), kept
    integer-exact so the DuckDB oracle hashes identically — Jaccard is
    reported as (num, den) instead of a float quotient.

    Physical shape: the deduped neighbor-pair view and the degree table
    feed four consumers each (seed side, candidate side, expansion,
    anti-joins), so both are materialized once with ``localCheckpoint``
    — otherwise Catalyst re-executes the distinct/aggregate subplan per
    consumer (ReusedExchange only covers some of them; measured 6.6s →
    ~1s at sf0.01). The seed's neighborhood is one ego's adjacency
    (small by construction) → broadcast.
    """
    nbr = (
        g.sym_edges(WINDER_TYPES).select("src", "dst").distinct().localCheckpoint()
    )
    deg = (
        nbr.groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint()
    )
    seed = g.persons.filter(F.col("name") == name).select(F.col("id").alias("sid"))
    seed_nbrs = (
        nbr.join(F.broadcast(seed), nbr["src"] == F.col("sid"))
        .select(F.col("dst").alias("nid"))
    )
    seed_deg = F.broadcast(
        deg.join(F.broadcast(seed), deg["id"] == F.col("sid")).select(
            F.col("deg").alias("seed_deg")
        )
    )
    common = (
        nbr.join(F.broadcast(seed_nbrs), nbr["src"] == F.col("nid"))
        .join(F.broadcast(seed), nbr["dst"] == F.col("sid"), "left_anti")
        .join(
            F.broadcast(seed_nbrs.select(F.col("nid").alias("dst"))),
            "dst",
            "left_anti",
        )
        .groupBy(F.col("dst").alias("cand"))
        .agg(F.count(F.lit(1)).alias("common_neighbors"))
    )
    cand_names = g.persons.select(
        F.col("id").alias("cand"), F.col("name").alias("cand_name")
    )
    return (
        common.join(deg.withColumnRenamed("id", "cand"), "cand")
        .crossJoin(seed_deg)
        .join(cand_names, "cand")
        .select(
            F.col("cand_name").alias("name"),
            "common_neighbors",
            F.col("common_neighbors").alias("jaccard_num"),
            (F.col("seed_deg") + F.col("deg") - F.col("common_neighbors")).alias(
                "jaccard_den"
            ),
            (F.col("seed_deg") * F.col("deg")).alias("pref_attach"),
        )
        .orderBy(
            F.desc("common_neighbors"), F.desc("pref_attach"), F.asc("name")
        )
        .limit(k)
    )


def house_adjacency(g: GraphModel) -> DataFrame:
    """Graph summarization / coarsening: collapse the person graph to a
    house-level adjacency — edge counts between house pairs per
    relationship type (the supergraph of the quotient partition).

    One aggregate of the stored edges, the adjacency's ``is_edge`` rows,
    which carry both endpoints' houses (one scan, no join, on a stored
    graph). Its output is |houses|² × types at most — coarsening is how
    interactive exploration works at 100 TB: the supergraph is tiny no
    matter how big the base graph is.
    """
    return (
        g.named_adjacency()
        .filter("is_edge")
        .groupBy("src_house", "dst_house", "type")
        .agg(F.count(F.lit(1)).alias("n_edges"))
        .orderBy("src_house", "dst_house", "type")
    )
