"""Physical-plan regression tests: the optimizations we rely on must
stay visible in the executed plan (SURVEY.md §4.3). A correctness-green
query whose plan regressed to full scans / shuffle joins is a perf bug
these tests catch before the benchmark does."""

from __future__ import annotations

import pytest

from neo4j_database_spark.graph import queries as gq
from neo4j_database_spark.graph.features import feature_matrix
from neo4j_database_spark.graph.store import load_graph
from neo4j_database_spark.queries import relational as rel


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def g(spark, sf_dir):
    return load_graph(spark, sf_dir)


def test_pricing_summary_scan_pruned(spark, sf_dir):
    plan = plan_of(rel.pricing_summary(spark, sf_dir))
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    # projection pruning: the scan must not read unused columns
    scan = plan.split("FileScan parquet")[1].split("]")[0]
    assert "l_orderkey" not in scan and "l_partkey" not in scan


def assert_one_adjacency_scan(plan: str) -> None:
    """A serving read of the stored graph is one scan of the stored
    adjacency: no join (names come with the row) and no union (the
    reverse direction is stored)."""
    assert "Join" not in plan
    assert "Union" not in plan
    assert plan.count("FileScan parquet") == 1
    assert "/adjacency" in plan


def test_winder_plan_broadcasts_and_topk(g):
    """One adjacency scan, one shuffle for the per-candidate aggregate,
    then top-k (not a global sort)."""
    plan = plan_of(gq.winder(g, ["Customer#000000000"], k=3))
    assert_one_adjacency_scan(plan)
    assert plan.count("Exchange") == 1
    assert "TakeOrderedAndProject" in plan


@pytest.mark.parametrize(
    "query, top_k",
    [
        (lambda g: gq.house_subgraph(g, ["NATION_1", "NATION_4"]), True),
        (gq.house_adjacency, False),
        (gq.friend_counts_by_house, False),
    ],
    ids=["house_subgraph", "house_adjacency", "friend_counts_by_house"],
)
def test_house_subgraph_one_adjacency_scan(g, query, top_k):
    """The stored edges are the adjacency's ``is_edge`` rows, and both
    endpoints' houses ride on each row: one scan and a filter, no join
    with persons."""
    plan = plan_of(query(g))
    assert_one_adjacency_scan(plan)
    if top_k:
        assert "TakeOrderedAndProject" in plan


def test_feature_matrix_partition_pruning(g):
    plan = plan_of(feature_matrix(g))
    # store is partitioned by type: the scan must carry partition filters
    assert "PartitionFilters" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_ego_no_shuffle_join(g):
    plan = plan_of(gq.ego_network(g, "Customer#000000042"))
    assert_one_adjacency_scan(plan)


def test_top_customers_broadcast_dim(spark, sf_dir):
    plan = plan_of(rel.top_customers_by_spend(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_order_priority_semi_join(spark, sf_dir):
    plan = plan_of(rel.order_priority_counts(spark, sf_dir))
    assert "LeftSemi" in plan


def test_anti_join_plan(spark, sf_dir):
    plan = plan_of(rel.customers_without_orders(spark, sf_dir))
    assert "LeftAnti" in plan


def test_bucketed_join_no_exchange(spark, sf_dir, tmp_path):
    """Two tables co-bucketed on the join key join with zero exchanges —
    the co-located join layout write_bucketed exists for."""
    from neo4j_database_spark.sources.io import write_bucketed

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    for t in ("b_orders", "b_customer"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    write_bucketed(
        orders, "b_orders", str(tmp_path / "bo"), "o_custkey", 8, "o_custkey"
    )
    write_bucketed(
        cust, "b_customer", str(tmp_path / "bc"), "c_custkey", 8, "c_custkey"
    )
    joined = (
        spark.table("b_orders")
        .hint("merge")  # force SMJ so the broadcast path can't hide a shuffle
        .join(
            spark.table("b_customer"),
            spark.table("b_orders").o_custkey == spark.table("b_customer").c_custkey,
        )
    )
    plan = plan_of(joined)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan  # bucket layout replaces the shuffle
    # bucket-local aggregation also skips the exchange
    agg = spark.table("b_orders").groupBy("o_custkey").count()
    assert "Exchange" not in plan_of(agg)


def test_chunk_documents_no_shuffle(spark, sf_dir):
    """Chunking claims zero shuffle (sequence→explode→slice map stage);
    the final orderBy is presentation-only, so at most ONE exchange (the
    sort's range partitioning) and no hash-partition exchange at all."""
    from neo4j_database_spark.pipeline.text import chunk_documents

    plan = plan_of(chunk_documents(spark, sf_dir))
    assert "hashpartitioning" not in plan.lower()
    assert plan.count("Exchange") <= 1  # only the output sort's range exchange


def test_asof_join_single_exchange(spark):
    """The union-sort carry-forward must cost one hash exchange of the
    merged timeline — never a nested-loop or per-row range join."""
    from neo4j_database_spark.operators.asof import asof_join

    orders = spark.createDataFrame(
        [(1, 10, 100.0)], "user long, ts long, price double"
    )
    events = spark.createDataFrame([(1, 12, "e")], "user long, ts long, eid string")
    plan = plan_of(
        asof_join(events, orders, on="user", left_ts="ts", right_ts="ts",
                  value_cols=["price"])
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 1  # one timeline shuffle


def test_pack_sequences_shard_partitioned_window(spark, sf_dir):
    """Packing must window per shard (scales out), never a global
    single-partition window."""
    from neo4j_database_spark.pipeline.text import pack_sequences

    plan = plan_of(pack_sequences(spark, sf_dir))
    assert "hashpartitioning(shard" in plan


def test_bucketed_spine_join_no_exchange(spark, sf_dir):
    """Bucketed warehouse co-location: a fact-to-fact join AND the
    per-orderkey aggregate over it must run with ZERO Exchange when both
    tables are bucketed by the join key — the storage layout, not the
    planner, provides the partitioning. Also pins the one-file-per-bucket
    write (repartition-by-bucket-hash before bucketBy), without which a
    T-task write yields T*N files."""
    import os

    from pyspark.sql import functions as F

    from neo4j_database_spark.sources.warehouse import (
        WAREHOUSE_ROOT,
        ensure_bucketed_spine,
        spine_table_name,
    )

    buckets = 8
    names = ensure_bucketed_spine(spark, sf_dir, buckets=buckets)
    o = spark.table(names["orders"]).select("o_orderkey", "o_orderpriority")
    li = spark.table(names["lineitem"]).select("l_orderkey", "l_quantity")
    # merge hint: at test SF the planner would broadcast (also exchange-
    # free, trivially); force the join strategy a 100 TB plan would use
    agg = (
        o.hint("merge")
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    plan = plan_of(agg)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    # layout: exactly one parquet file per bucket
    for table in names:
        path = os.path.join(
            WAREHOUSE_ROOT, spine_table_name(table, sf_dir, buckets)
        )
        files = [f for f in os.listdir(path) if f.endswith(".parquet")]
        assert len(files) == buckets, (table, len(files))


def test_fill_profile_twins_agree_and_bucketed_plan(spark, sf_dir):
    """The bucketed twin must return exactly the raw-parquet result, and
    its plan must contain exactly one exchange — the 5-row priority
    rollup — versus ≥2 for the raw twin (both fact scans shuffle)."""
    from neo4j_database_spark.queries.relational import (
        order_fill_profile,
        order_fill_profile_bucketed,
    )

    raw = order_fill_profile(spark, sf_dir)
    bkt = order_fill_profile_bucketed(spark, sf_dir, buckets=8)
    # read the plan BEFORE collect: the post-execution AQE string prints
    # Final AND Initial sections, double-counting each exchange
    assert plan_of(bkt).count("Exchange hashpartitioning") == 1
    assert [tuple(r) for r in raw.collect()] == [
        tuple(r) for r in bkt.collect()
    ]


def test_ivf_index_partition_pruning(spark, sf_dir):
    """The persisted IVF index scan must prune to the probed lists via
    PartitionFilters (cent_id is a write-time partition column) — the
    storage-layout form of 'a query touches n_probe/n_lists of the
    corpus'. Also: the twin must equal the in-memory IVF result."""
    from neo4j_database_spark.pipeline.similarity import (
        ivf_index_knn,
        ivf_knn,
    )

    bkt = ivf_index_knn(spark, sf_dir)
    plan = plan_of(bkt)
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1][:200]
    assert "cent_id" in pf
    assert [tuple(r) for r in bkt.collect()] == [
        tuple(r) for r in ivf_knn(spark, sf_dir).collect()
    ]


def test_fuzzy_join_plan_broadcast_reattach(spark, sf_dir):
    """The r06 deletion-neighborhood fuzzy join: the candidate stream
    must flow from the variant equi-join through levenshtein without an
    intermediate shuffle — strings re-attach via TWO broadcast joins
    (size-gated), and the only hash exchanges are the variant join's
    two inputs plus the post-verification dedup."""
    from neo4j_database_spark.catalog import load_table
    from neo4j_database_spark.operators.er import edit_distance_pairs

    cust = load_table(spark, "customer", sf_dir)
    df = edit_distance_pairs(cust, "c_custkey", "c_name", max_dist=1)
    plan = plan_of(df)
    # >= 2: the two string re-attach joins; at tiny SFs the variant
    # self-join broadcasts too (3 total), at sf0.1 it shuffles
    assert plan.count("BroadcastHashJoin") >= 2
    assert plan.count("SortMergeJoin") == 0
    # the candidate stream itself must NOT appear as an exchange —
    # only the variant join inputs + the post-verification dedup
    assert plan.count("Exchange hashpartitioning") <= 4


# route name -> (max_dist, zero the d=2 deletion length ceilings?)
ER_ROUTES = {
    "d1_fastss": (1, False),
    "d2_deletion": (2, False),
    "d2_gram": (2, True),
    "d3_gram": (3, False),
}


@pytest.mark.parametrize("route", list(ER_ROUTES))
def test_fuzzy_join_forced_shuffle_matches(spark, sf_dir, monkeypatch, route):
    """BROADCAST_KEY_ROWS = 0 sends every ER route down _verify's
    shuffle branch: the string re-attach joins stop broadcasting, the
    FastSS and gram routes gain their pinned pre-verification dedup
    (the deletion route never runs one), and the rows equal both the
    default (broadcast) plan's and a brute-force levenshtein scan's.
    Auto-broadcast is off so only the explicit hints can broadcast."""
    import re

    from pyspark.sql import functions as F

    from neo4j_database_spark.catalog import load_table
    from neo4j_database_spark.operators import er

    max_dist, gram = ER_ROUTES[route]
    if gram:
        monkeypatch.setattr(er, "DELETION_LEN_CEILING", 0)
        monkeypatch.setattr(er, "DELETION_TEMPLATED_LEN_CEILING", 0)
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cust = load_table(spark, "customer", sf_dir)

        def run():
            df = er.edit_distance_pairs(
                cust, "c_custkey", "c_name", max_dist=max_dist
            )
            return plan_of(df), sorted(tuple(r) for r in df.collect())

        plan_bc, rows_bc = run()
        monkeypatch.setattr(er, "BROADCAST_KEY_ROWS", 0)
        plan_sh, rows_sh = run()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)

    def reattach_broadcasts(plan):
        return len(re.findall(r"BroadcastHashJoin \[id_[ab]#", plan))

    def pinned_dedup(plan):
        return bool(
            re.search(
                r"hashpartitioning\(id_a#\d+L, id_b#\d+L, \d+\), "
                r"REPARTITION_BY_NUM",
                plan,
            )
        )

    assert reattach_broadcasts(plan_bc) == 2
    assert reattach_broadcasts(plan_sh) == 0
    assert not pinned_dedup(plan_bc)
    assert pinned_dedup(plan_sh) == (route != "d2_deletion")
    assert ("row_number" in plan_sh) == route.endswith("gram")

    names = cust.select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("s")
    )
    a, b = names.alias("a"), names.alias("b")
    brute = sorted(
        tuple(r)
        for r in a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.s").alias("s_a"),
            F.col("b.s").alias("s_b"),
            F.levenshtein("a.s", "b.s").cast("long").alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
        .collect()
    )
    assert rows_sh == rows_bc == brute and brute
