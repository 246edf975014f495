"""Scale cells for the two round-6 perf rewrites (VERDICT r06 item 4):

1. FastSS deletion-neighborhood edit-distance ER
   (operators/er.py::edit_distance_pairs, the customer_fuzzy_matches
   kernel) at 1x/16x/64x replicated customer.
2. Edge-iterator k-truss (graph/algorithms.py::ktruss_edges) at
   1x/16x replicated FRIEND_OF graphs, with an explicit
   cold-vs-warm split (the r06 commit claimed the warm number; the
   judge measured a 6x cold/warm gap in a fresh session).

Replication keeps per-key work CONSTANT so measured growth isolates
the plan, not the input construction:

- ER: every replica's names get a 4-char double-letter prefix
  ("aabb", "aacc", ...) in which any two distinct replicas differ in
  >= 2 positions, so no cross-replica pair can match at d=1 — the
  true-pair count scales exactly linearly. The 1x cell gets replica
  0's prefix too, so all cells run the same string-length regime.
- k-truss: persons replicated with shifted ids AND a per-replica
  house salt, producing N disjoint copies of the same-house clique
  graph — edge count, degrees, and triangle structure scale linearly.
  Only FRIEND_OF edges are built (the kernel under test filters to
  that type anyway).

Usage: python scripts/er_ktruss_probe.py [sf_dir]
Writes rows for SCALE_PROBE.md to stdout; inputs under
/tmp/er_ktruss_probe (reused if present).
"""

from __future__ import annotations

import os
import string
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from neo4j_database_spark.catalog import load_table
from neo4j_database_spark.session import get_spark

BASE = "/tmp/er_ktruss_probe"
SHIFT = 100_000_000


def _prefix(i: int) -> str:
    # double-letter pairs: distinct i differ in >= 2 char positions,
    # so cross-replica edit distance >= 2 > max_dist=1
    a, b = divmod(i, 8)
    return (
        string.ascii_lowercase[a] * 2 + string.ascii_lowercase[b] * 2
    )


def build_er_input(spark, sf_dir: str, mult: int) -> str:
    path = os.path.join(BASE, f"er_x{mult}")
    if os.path.exists(os.path.join(path, "_done")):
        return path
    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_name"
    )
    parts = []
    for i in range(mult):
        parts.append(
            cust.withColumn(
                "c_custkey", F.col("c_custkey") + F.lit(i * SHIFT)
            ).withColumn(
                "c_name", F.concat(F.lit(_prefix(i)), F.col("c_name"))
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(path)
    open(os.path.join(path, "_done"), "w").write("ok")
    return path


def build_graph_input(spark, sf_dir: str, mult: int) -> str:
    path = os.path.join(BASE, f"persons_x{mult}")
    if os.path.exists(os.path.join(path, "_done")):
        return path
    from neo4j_database_spark.graph.model import persons_df

    persons = persons_df(spark, sf_dir)
    parts = []
    for i in range(mult):
        parts.append(
            persons.withColumn("id", F.col("id") + F.lit(i * SHIFT))
            .withColumn(
                "name", F.concat(F.lit(_prefix(i)), F.col("name"))
            )
            .withColumn(
                "house", F.concat(F.col("house"), F.lit(f"#r{i}"))
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(path)
    open(os.path.join(path, "_done"), "w").write("ok")
    return path


def time_noop(df) -> float:
    t0 = time.perf_counter()
    df.write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    # the 16x k-truss cell checkpoints a ~70M-row symmetric edge list
    # plus neighbor-array frames; claim heap up front (scale_probe.py
    # precedent)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "110g")
    spark = get_spark("er-ktruss-probe")

    from neo4j_database_spark.operators.er import edit_distance_pairs

    print("== FastSS ER (edit_distance_pairs d=1) ==", flush=True)
    for mult in (1, 16, 64):
        path = build_er_input(spark, sf_dir, mult)
        cust = spark.read.parquet(path)
        runs = []
        for _ in range(3):
            runs.append(
                time_noop(
                    edit_distance_pairs(
                        cust, "c_custkey", "c_name", max_dist=1
                    )
                )
            )
        n_pairs = edit_distance_pairs(
            cust, "c_custkey", "c_name", max_dist=1
        ).count()
        print(
            f"er x{mult}: cold {runs[0]:.2f}s warm {min(runs[1:]):.2f}s "
            f"pairs={n_pairs}",
            flush=True,
        )

    from neo4j_database_spark.graph.algorithms import ktruss_edges
    from neo4j_database_spark.graph.model import GraphModel, friend_edges

    print("== edge-iterator k-truss (k=5) ==", flush=True)
    for mult in (1, 16):
        path = build_graph_input(spark, sf_dir, mult)
        persons = spark.read.parquet(path)
        houses = persons.select(
            F.col("house").alias("name")
        ).distinct().withColumn("id", F.lit(0))
        runs = []
        for r in range(3):
            g = GraphModel(
                persons=persons,
                houses=houses,
                edges=friend_edges(persons),
            )
            # ktruss_edges runs eager actions (checkpoint + per-round
            # counts) during construction — time the whole call
            t0 = time.perf_counter()
            n_edges = ktruss_edges(g).count()
            runs.append(time.perf_counter() - t0)
            print(
                f"ktruss x{mult} run{r}: {runs[-1]:.2f}s "
                f"surviving_edges={n_edges}",
                flush=True,
            )
        print(
            f"ktruss x{mult}: cold {runs[0]:.2f}s warm {min(runs[1:]):.2f}s",
            flush=True,
        )


if __name__ == "__main__":
    main()
