"""Materialized graph store: build the property graph once, serve many.

The reference separates ETL (get_insert.py writes the graph into Neo4j)
from serving (app.py queries the stored graph). Re-deriving the
rule-based edges (a quadratic self-join) inside every serving query is
the anti-pattern; this module materializes ``persons`` / ``houses`` /
``edges`` as parquet once per source directory and serves queries from
the store.

Layout & scale design:
- ``edges`` is written partitioned by ``type``: every serving query that
  touches a subset of relationship types (winder excludes ENEMY_OF, ego
  reads all, feature matrix reads 4) gets partition pruning for free.
- Within each type partition, edges are written sorted by ``src`` —
  parquet min/max row-group stats turn point expansions (ego of one
  person) into a near-point read. At 100 TB this becomes bucketing on
  ``src`` so 1-hop expansion is a co-located join.
- ``adjacency`` is the undirected serving table (v5): every stored edge
  (``is_edge`` true) plus the reverse of each canonical-type row
  (``is_edge`` false), with both endpoint names and houses and the
  other endpoint's image (``model.ADJACENCY_COLS``). It is also
  partitioned by ``type``, and sorted by ``src_name`` within each
  file, so the name filter of an ego or Winder read prunes row groups.
  Neither those reads nor the house subgraph, house adjacency and
  friend counts need a ``persons`` join: the last three read the
  flagged rows. A Cypher write session keeps it (``model.Delta``).
  Both tables are written from one materialization of the rule joins.
- Both tables hash-partition on ``src`` to the cluster width, so each
  task writes one sorted file per type, and the writer rolls a file
  over at ``MAX_FILE_ROWS`` rows: file sizes follow each table's own
  rows with no sizing pass before the write.
- The store is content-addressed by source dir; a marker file makes the
  build idempotent and safe to race.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from neo4j_database_spark.session import shuffle_partitions
from neo4j_database_spark.graph.model import (
    GraphModel,
    build_edges,
    build_graph,
    houses_df,
    name_adjacency,
    persons_df,
    symmetrize,
)

CACHE_ROOT = os.environ.get(
    "SPARK_GRAFT_GRAPH_CACHE", "/tmp/neo4j_database_spark_graph"
)

# Bump when the materialized schema changes so stale caches self-invalidate
# (v2: persons gained species/gender/alive/image/is_user; v3: the
# adjacency table; v4: the adjacency's src_house; v5: its is_edge).
STORE_VERSION = 5


def _store_dir(sf_dir: str) -> str:
    key = sf_dir.strip("/").replace("/", "_")
    return os.path.join(CACHE_ROOT, f"{key}__v{STORE_VERSION}")


# Row cap per written file (Spark's ``maxRecordsPerFile``): a type
# partition with more rows than this per task rolls over to further
# files, so file size follows the table's own rows instead of the
# cluster width. Sized for the 128 MB - 1 GB output-file range on
# serialized row widths: an edge row is ~24 B (8M rows ≈ 192 MB) and
# an adjacency row ~96 B (two ids plus ~80 B of names, house and image
# at sf0.01; 8M rows ≈ 770 MB). No measured scale reaches it, so the
# writes land one file per non-empty task and type.
MAX_FILE_ROWS = 8_000_000


def build_store(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """One-shot ETL: derive the graph and persist it (SURVEY.md §3.2).

    This is the Spark replacement for the reference's per-row MERGE loop
    (get_insert.py:76-111) — one batch job, set-based rule joins, no
    round trips.
    """
    # The persons dim feeds both sides of all four rule joins (8 scans);
    # cache it once for the build and release after.
    persons = persons_df(spark, sf_dir).cache()
    persons.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, "persons")
    )
    houses_df(spark, sf_dir).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, "houses")
    )
    # One run of the quadratic rule joins feeds both tables.
    edges = build_edges(persons).localCheckpoint()
    # Hash-partition on src (NOT repartitionByRange: its sampling pass
    # is one more job), sorted within each task. The writer's
    # partitionBy(type) then lands one file per task and type —
    # parallel scans for the dominant FRIEND_OF partition — rolling
    # over at MAX_FILE_ROWS. Each file keeps its task's sort order, so
    # parquet row-group min/max stats stay effective for point reads:
    # by src for edges, by src_name for the adjacency. At 100 TB this
    # is bucketing on src, making 1-hop a co-located join.
    width = shuffle_partitions(spark)
    for name, frame, order in (
        ("edges", edges, ("src", "dst")),
        (
            "adjacency",
            name_adjacency(symmetrize(edges), persons),
            ("src_name", "dst_name"),
        ),
    ):
        (
            frame.repartition(width, "src")
            .sortWithinPartitions("type", *order)
            .write.mode("overwrite")
            .option("maxRecordsPerFile", MAX_FILE_ROWS)
            .partitionBy("type")
            .parquet(os.path.join(out_dir, name))
        )
    persons.unpersist()


def merge_increment(spark: SparkSession, graph, new_persons):
    """Incremental graph maintenance: apply a person batch without the
    full quadratic rebuild.

    Cypher MERGE applies per-row upserts; the batch equivalent derives
    only the DELTA edges — the model's rule joins run as (changed × all)
    and (all × changed): linear in the batch size instead of quadratic
    in the corpus. Steps:
      1. upsert persons (last-writer-wins on name, ids preserved for
         existing names);
      2. drop edges incident to changed persons (their house/surname may
         have changed — stale rule edges must go);
      3. re-derive rule edges for changed persons against the full
         person set; a pair of two changed persons comes out of both
         sides, so the delta is deduplicated. Kept edges touch no
         changed person and every delta edge does, so the final union
         needs no dedup.
    Returns the new GraphModel (plans; caller persists). Batch contract:
    a row updating an existing name must carry that name's existing id
    (the reference's MERGE key is name; ids are stable). At 100 TB with
    an ACID table format steps 2-3 become a MERGE INTO on the edge
    table keyed by (src, dst, type) plus a src/dst IN (changed) delete —
    identical logic, transactional apply.
    """
    from pyspark.sql import functions as F

    persons = graph.persons
    # 1. upsert: new batch wins on name collisions; existing ids kept
    existing = persons.join(
        new_persons.select(F.col("name").alias("_n")),
        persons.name == F.col("_n"),
        "left_anti",
    )
    merged = existing.unionByName(new_persons)

    changed = new_persons.select("id").distinct()
    changed_persons = merged.join(changed, "id", "left_semi")

    # 2. remove stale edges touching changed persons
    kept = (
        graph.edges.join(changed.select(F.col("id").alias("src")), "src", "left_anti")
        .join(changed.select(F.col("id").alias("dst")), "dst", "left_anti")
        .select("src", "dst", "type")
    )

    # 3. delta rule edges: changed × all ∪ all × changed
    delta = (
        build_edges(changed_persons, merged)
        .unionByName(build_edges(merged, changed_persons))
        .dropDuplicates(["src", "dst", "type"])
    )
    return GraphModel(
        persons=merged, houses=graph.houses, edges=kept.unionByName(delta)
    )


def load_graph(spark: SparkSession, sf_dir: str) -> GraphModel:
    """Load the materialized graph, building it first if absent.

    Falls back to the purely-lazy derivation if the cache location is
    not writable (e.g. read-only sandbox).
    """
    out_dir = _store_dir(sf_dir)
    marker = os.path.join(out_dir, "_BUILT")
    if not os.path.exists(marker):
        try:
            build_store(spark, sf_dir, out_dir)
            with open(marker, "w") as f:
                f.write(sf_dir)
        except Exception:
            # Cache unavailable → serve from the lazy plans.
            return build_graph(spark, sf_dir)
    return GraphModel(
        persons=spark.read.parquet(os.path.join(out_dir, "persons")),
        houses=spark.read.parquet(os.path.join(out_dir, "houses")),
        edges=spark.read.parquet(os.path.join(out_dir, "edges")),
        # immutable-snapshot identity → Cypher plan cache is sound
        plan_cache_key=(out_dir, os.path.getmtime(marker)),
        adjacency=spark.read.parquet(os.path.join(out_dir, "adjacency")),
    )
