"""Per-round scale-cell bench → BENCH_SCALE_r{N}.json (VERDICT r07
item 6).

Promotes the ad-hoc 16× probe runs (FastSS ER, Ed-Join d=2 templated
replicas, k-truss grid, MinHash-LSH, bucketed spine) into one script
emitting one JSON artifact per round, so a scale regression — like the
~700 GB k-truss sort-spill the r07 probe caught — surfaces every
round, not only when a verdict asks for it.

Cells (all on sf0.1 inputs replicated with disjoint key spaces so
join/group cardinalities scale too — the same builders as
er_ktruss_probe.py / scale_probe.py):

  er_fastss_d1_x16     FastSS deletion-neighborhood ER, 16× customer
                       (prefix-salted: cross-replica ed >= 2 > d).
  er_edjoin_d2_x1/x16  Ed-Join prefix-filter ER at d=2 on SUFFIX-salted
                       replicas (6-char triple-letter codes, pairwise
                       ed >= 3, pairwise-disjoint char bags) — the
                       TEMPLATED-CORPUS cell: every replica shares the
                       gram vocabulary, so r07 measured 16× rows →
                       ~30× runtime (631-656 s) from cross-replica
                       candidates that all fail verification. The r08
                       bag-distance filter (operators/er.py) prunes
                       those candidates inside the join stage; target
                       x16 <= 8× of x1 with an IDENTICAL pair set
                       (x16 true pairs must stay exactly 16× of x1).
                       Since r09 this cell forces the gram route (both
                       deletion length ceilings set to 0) — it
                       measures the gram mitigations' floor, which the
                       verdict's measured-floor analysis showed cannot
                       reach the <= 8× target on this corpus.
  er_deletion_d2_x1/x16  The SAME corpus through the default route
                       (deletion-neighborhood d=2 generator): template
                       mates share no <= 2-deletion variant — including
                       the anagram code pair the bag filter cannot
                       prune — so the candidate set is output-shaped
                       and the 16× cell is the VERDICT r08 item 3
                       target (<= 8× of x1, identical 65,337,136
                       pairs).
  ktruss_grid_x16      2D-grid k-truss support kernel on the 16×
                       replicated FRIEND_OF graph (the cell whose r06
                       join fallback died in a ~700 GB spill), forced
                       with BROADCAST_ADJ_ENTRY_LIMIT = 0 and an
                       infinite ORIENTED_DEG2_RATIO.
  minhash_lsh_x16      MinHash-LSH banding (xxhash64) on 16× shingle-
                       salted documents.
  spine_q18_x16        Q18 fact-fact join on the bucketed order spine
                       vs raw parquet at 16× (zero-exchange claim).

Usage: python scripts/bench_scale.py [round_no] [sf_dir] [cells...]
Writes BENCH_SCALE_r{round_no}.json at the repo root; cells default to
all. Inputs cached under /tmp (rebuilt if a prior round's were wiped).
"""

from __future__ import annotations

import json
import os
import string
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

from pyspark.sql import functions as F

from neo4j_database_spark.catalog import load_table
from neo4j_database_spark.session import get_spark

BASE = "/tmp/er_ktruss_probe"
SHIFT = 100_000_000


def _d2_suffix(i: int) -> str:
    """6-char triple-letter code for replica i (the r07 ad-hoc probe's
    scheme, kept byte-identical so r08 numbers compare directly):
    letters (a, b) = divmod(i, 8); code = a*3 + b*3. Any two distinct
    codes differ in >= 3 positions (cross-replica ed >= 3 > d = 2, so
    the true pair set is exactly linear in the replica count), and all
    but ONE code pair have char bags differing by >= 6 in L1 (the bag
    filter prunes at > 2d = 4). The exception — ("aaabbb", "bbbaaa"),
    anagrams — is deliberate adversarial coverage of the filter's
    documented residual exposure: that replica pair's candidates
    survive to verification and must still be rejected by levenshtein.
    """
    a, b = divmod(i, 8)
    return (
        string.ascii_lowercase[a] * 3 + string.ascii_lowercase[b] * 3
    )


def build_er_d2_input(spark, sf_dir: str, mult: int) -> str:
    # r07's ad-hoc probe wrote the same inputs as er2_x{mult} without a
    # _done marker; reuse them when present
    path = os.path.join(BASE, f"er2_x{mult}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
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
                "c_name",
                F.concat(F.col("c_name"), F.lit(" " + _d2_suffix(i))),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(path)
    return path


def time_noop(df) -> float:
    t0 = time.perf_counter()
    df.write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


def load_avgs() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def _flush(
    round_no: int, sf_dir: str, cells: dict, load_start: list, busy: bool
) -> str:
    """Merge the cells measured SO FAR into the round file. Called
    after every cell (r09: a global OOM during the ktruss cell killed
    the whole run and lost five finished er readings that only lived
    in process memory — the artifact must survive a crashed cell)."""
    load_end = load_avgs()
    for c in cells.values():
        c.setdefault("busy", busy)
        c.setdefault(
            "driver_mem", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
        )
    out_path = os.path.join(REPO, f"BENCH_SCALE_r{round_no:02d}.json")
    out = {"round": round_no, "sf_dir": sf_dir, "cells": {}}
    if os.path.exists(out_path):
        with open(out_path) as f:
            out = json.load(f)
    out["cells"].update(cells)
    out["load_avg_start"] = load_start
    out["load_avg_end"] = load_end
    out["busy"] = bool(out.get("busy", False) or busy)
    with open(out_path, "w") as f:
        json.dump(out, f, indent=2)
        f.write("\n")
    return out_path


def main() -> None:
    round_no = int(sys.argv[1]) if len(sys.argv) > 1 else 0
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    only = set(sys.argv[3:])
    # 110g is the measured config of every r07/r08 cell — keep it for
    # cross-round comparability. It is a global-OOM trap when a heavy
    # cell follows heap-filling cells in the same JVM (the r09 first
    # run: er cells grew old-gen to ~100 GB RSS, then the ktruss grid
    # cell's Python workers pushed the box over — kernel OOM-killed
    # java and the artifact lost five finished readings). Mitigations:
    # _flush persists after every cell, and heavy cells (ktruss_grid,
    # er_*_x16) should run as separate batch invocations (fresh JVM).
    # Heap sensitivity is real and recorded per cell via driver_mem:
    # r09 measured ktruss_grid_x16 823 s and er_deletion_d2_x16
    # 328-387 s at 72g vs 262 s (r07) / ~170 s at 110g — the grid
    # cells and the candidate dedup spill hard below ~100g.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "110g")
    spark = get_spark("bench-scale")
    from er_ktruss_probe import build_er_input, build_graph_input

    from neo4j_database_spark.operators import er
    from neo4j_database_spark.operators.er import edit_distance_pairs

    cells: dict[str, dict] = {}
    # Mechanical noise protocol (VERDICT r08 item 5): record 1/5/15-min
    # load averages at script start (BEFORE our own Spark work pollutes
    # the 1-min average) and at script end, and tag the artifact busy
    # when the start load shows a co-tenant (> 4.0 of 32 threads — the
    # r08 ktruss cell ran at load 20-30 and its 438-593 s readings were
    # uninterpretable). Per-cell pre-loads are recorded too, but they
    # include OUR OWN previous cell's decaying load — only the start
    # load gates.
    load_start = load_avgs()
    busy = load_start[0] > 4.0
    if busy:
        print(
            f"WARNING: box busy at start (load {load_start}); cells "
            "will be tagged busy=true — treat readings as upper bounds",
            flush=True,
        )

    def want(name: str) -> bool:
        return not only or name in only

    if want("er_fastss_d1_x16"):
        path = build_er_input(spark, sf_dir, 16)
        cust = spark.read.parquet(path)

        def fastss():
            return edit_distance_pairs(
                cust, "c_custkey", "c_name", max_dist=1
            )

        runs = [time_noop(fastss()) for _ in range(3)]
        cells["er_fastss_d1_x16"] = {
            "cold_s": round(runs[0], 2),
            "warm_s": round(min(runs[1:]), 2),
            "rows": fastss().count(),
        }
        print(f"er_fastss_d1_x16: {cells['er_fastss_d1_x16']}", flush=True)
        _flush(round_no, sf_dir, cells, load_start, busy)

    for mult in (1, 16):
        name = f"er_edjoin_d2_x{mult}"
        if not want(name):
            continue
        path = build_er_d2_input(spark, sf_dir, mult)
        cust = spark.read.parquet(path)

        def edjoin():
            # the bag filter and the templated-trigger salt ARE the r08
            # templated-corpus mitigation under test (q is always 3);
            # r07's 631-656 s baseline ran the same cell with no
            # filter and no salt. The router sends
            # these 25-char keys to the deletion generator (measured by
            # er_deletion_d2), so the length ceilings are zeroed below.
            return edit_distance_pairs(
                cust, "c_custkey", "c_name", max_dist=2
            )

        ceilings = er.DELETION_LEN_CEILING, er.DELETION_TEMPLATED_LEN_CEILING
        er.DELETION_LEN_CEILING = er.DELETION_TEMPLATED_LEN_CEILING = 0
        try:
            runs = [time_noop(edjoin()) for _ in range(2)]
            rows = edjoin().count()
        finally:
            er.DELETION_LEN_CEILING, er.DELETION_TEMPLATED_LEN_CEILING = (
                ceilings
            )
        cells[name] = {
            "cold_s": round(runs[0], 2),
            "warm_s": round(min(runs[1:]), 2),
            "rows": rows,
        }
        print(f"{name}: {cells[name]}", flush=True)
        _flush(round_no, sf_dir, cells, load_start, busy)

    for mult in (1, 16):
        name = f"er_deletion_d2_x{mult}"
        if not want(name):
            continue
        path = build_er_d2_input(spark, sf_dir, mult)
        cust = spark.read.parquet(path)

        def deljoin():
            # the default route: 25-char keys -> deletion-neighborhood
            # d=2 generator (VERDICT r08 item 3)
            return edit_distance_pairs(
                cust, "c_custkey", "c_name", max_dist=2
            )

        runs = [time_noop(deljoin()) for _ in range(2)]
        cells[name] = {
            "cold_s": round(runs[0], 2),
            "warm_s": round(min(runs[1:]), 2),
            "rows": deljoin().count(),
        }
        print(f"{name}: {cells[name]}", flush=True)
        _flush(round_no, sf_dir, cells, load_start, busy)

    if want("ktruss_grid_x16"):
        from neo4j_database_spark.graph import algorithms as galg
        from neo4j_database_spark.graph.algorithms import ktruss_edges
        from neo4j_database_spark.graph.model import (
            GraphModel,
            friend_edges,
        )

        path = build_graph_input(spark, sf_dir, 16)
        persons = spark.read.parquet(path)
        houses = (
            persons.select(F.col("house").alias("name"))
            .distinct()
            .withColumn("id", F.lit(0))
        )
        # cold + warm (r09: r07's 262 s reading was WARM via
        # er_ktruss_probe.py's 3-run protocol while r08's 438-593 s
        # were cold-only — the two are not comparable; record both so
        # the busy-box-vs-regression question never recurs)
        runs = []
        limits = galg.BROADCAST_ADJ_ENTRY_LIMIT, galg.ORIENTED_DEG2_RATIO
        galg.BROADCAST_ADJ_ENTRY_LIMIT = 0
        galg.ORIENTED_DEG2_RATIO = float("inf")
        try:
            for _ in range(2):
                g = GraphModel(
                    persons=persons,
                    houses=houses,
                    edges=friend_edges(persons),
                )
                t0 = time.perf_counter()
                n_edges = ktruss_edges(g).count()
                runs.append(round(time.perf_counter() - t0, 2))
        finally:
            galg.BROADCAST_ADJ_ENTRY_LIMIT, galg.ORIENTED_DEG2_RATIO = limits
        cells["ktruss_grid_x16"] = {
            "cold_s": runs[0],
            "warm_s": runs[1],
            "rows": n_edges,
        }
        print(f"ktruss_grid_x16: {cells['ktruss_grid_x16']}", flush=True)
        _flush(round_no, sf_dir, cells, load_start, busy)

    if want("minhash_lsh_x16"):
        from neo4j_database_spark.pipeline.dedup import band_keys

        d = "/tmp/scale_probe/x16/documents"
        if not os.path.exists(d):
            docs = load_table(spark, "documents", sf_dir)
            dparts = []
            for i in range(16):
                dparts.append(
                    docs.withColumn(
                        "doc_id", F.col("doc_id") + F.lit(i * SHIFT)
                    ).withColumn(
                        "text",
                        F.regexp_replace("text", " ", f" c{i} ")
                        if i
                        else F.col("text"),
                    )
                )
            dout = dparts[0]
            for p in dparts[1:]:
                dout = dout.unionByName(p)
            dout.write.mode("overwrite").parquet(d)
        D = spark.read.parquet(d)

        def lsh():
            ex = band_keys(D, hash_fn="xxhash64")
            a = ex.select(
                F.col("doc_id").alias("id_a"), "band_idx", "band_key"
            )
            b = ex.select(
                F.col("doc_id").alias("id_b"), "band_idx", "band_key"
            )
            return (
                a.join(b, ["band_idx", "band_key"])
                .filter(F.col("id_a") < F.col("id_b"))
                .groupBy("id_a", "id_b")
                .agg(F.count(F.lit(1)).alias("n_bands_hit"))
            )

        runs = [time_noop(lsh()) for _ in range(2)]
        cells["minhash_lsh_x16"] = {
            "cold_s": round(runs[0], 2),
            "warm_s": round(min(runs[1:]), 2),
        }
        print(f"minhash_lsh_x16: {cells['minhash_lsh_x16']}", flush=True)
        _flush(round_no, sf_dir, cells, load_start, busy)

    if want("spine_q18_x16"):
        from scale_probe import replicate

        from neo4j_database_spark.queries.relational import _big_volume
        from neo4j_database_spark.sources.io import write_bucketed

        d = "/tmp/scale_probe/x16"
        for t, key in (
            ("lineitem", ["l_orderkey"]),
            ("orders", ["o_orderkey", "o_custkey"]),
            ("customer", ["c_custkey"]),
        ):
            p = os.path.join(d, t)
            if not os.path.exists(os.path.join(p, "_SUCCESS")):
                replicate(
                    load_table(spark, t, sf_dir), 16, key, SHIFT
                ).write.mode("overwrite").parquet(p)
        li = spark.read.parquet(os.path.join(d, "lineitem"))
        orders = spark.read.parquet(os.path.join(d, "orders"))
        cust = spark.read.parquet(os.path.join(d, "customer"))
        names = {}
        t0 = time.perf_counter()
        for t, key, frame in (
            ("orders", "o_orderkey", orders),
            ("lineitem", "l_orderkey", li),
        ):
            name = f"bkt_probe_x16_{t}_32"
            names[t] = name
            if not spark.catalog.tableExists(name):
                write_bucketed(
                    frame.repartition(32, F.col(key)),
                    table=name,
                    path=os.path.join("/tmp/scale_probe/warehouse", name),
                    bucket_by=key,
                    buckets=32,
                    sort_by=key,
                )
        build_s = round(time.perf_counter() - t0, 2)
        b_orders = spark.table(names["orders"]).hint("merge")
        b_li = spark.table(names["lineitem"])
        raw = min(
            time_noop(_big_volume(li, orders, cust, 250)) for _ in range(2)
        )
        spine = min(
            time_noop(_big_volume(b_li, b_orders, cust, 250))
            for _ in range(2)
        )
        cells["spine_q18_x16"] = {
            "raw_s": round(raw, 2),
            "spine_s": round(spine, 2),
            "spine_build_s": build_s,
        }
        print(f"spine_q18_x16: {cells['spine_q18_x16']}", flush=True)
        _flush(round_no, sf_dir, cells, load_start, busy)

    out_path = _flush(round_no, sf_dir, cells, load_start, busy)
    with open(out_path) as f:
        print(f.read().strip(), flush=True)


if __name__ == "__main__":
    main()
