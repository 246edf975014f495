"""Graph analytics over the node/edge DataFrames.

BASELINE.json's north star is "GraphX for analytics, not OLTP
traversal"; GraphX has no Python API, so the idiomatic PySpark
realization is iterative DataFrame programs — aggregateMessages
expressed as join + groupBy per superstep, with ``localCheckpoint()``
truncating the lineage each iteration (without it the plan tree grows
linearly in iterations and Catalyst analysis time explodes).

Scale notes:
- A superstep is one logical plan — node-sized state ⋈ static edge
  frame → combine (Pregelix, VLDB 2014) — and its physical strategy is
  chosen in one place, ``_Layout``, never per algorithm. CC, PageRank,
  PPR, HITS, LPA, SSSP, BFS, k-core, closeness and betweenness each
  build one ``_Layout`` from the exact node count they already take; it
  compares that count with ``BROADCAST_NODE_LIMIT`` (read at call time,
  so tests force large mode by setting the module global to 0) and
  owns the static-frame layout, the state-side join hint and the
  checkpoint cadence. Small mode broadcasts the state, so the static
  frame never moves; large mode hash-partitions the static frames on
  their join key once and each superstep shuffles only the state.
- Convergence checks are cheap aggregates (count of changed labels),
  evaluated once per superstep — not per row.
"""

from __future__ import annotations

import threading

from pyspark.sql import Column, DataFrame, GroupedData
from pyspark.sql import functions as F

from neo4j_database_spark.session import shuffle_partitions
from neo4j_database_spark.graph.model import GraphModel


def degree_centrality(g: GraphModel, types: tuple[str, ...] | None = None) -> DataFrame:
    """Undirected degree per person (+ isolated persons with 0)."""
    deg = (
        g.sym_edges(types)
        .groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        g.persons.select("id", "name")
        .join(deg, "id", "left")
        .fillna(0, subset=["degree"])
        .select("name", F.col("degree").cast("long").alias("degree"))
        .orderBy("name")
    )


# Node-count threshold for broadcasting the per-node state frame in
# iterative supersteps (read by _Layout at call time). Below it,
# broadcasting ranks/labels avoids shuffling anything per iteration
# (the edge table never moves and the aggregate combines map-side).
# Above it, a broadcast would ship an executor-memory-sized frame to
# every executor each superstep — the classic driver/executor OOM at
# billion-node scale — so the loop switches to co-partitioned joins.
# ~10M ids × ~16B/row ≈ 160 MB broadcast — a sane ceiling.
BROADCAST_NODE_LIMIT = 10_000_000

# Entry-count threshold for broadcasting ADJACENCY frames (node →
# neighbor-array). Unlike the node-state frames above, an adjacency
# frame's size scales with EDGE count (2·|E| array entries after
# symmetrization), not node count — FRIEND_OF is quadratic per house,
# so a graph can pass the node gate while its adjacency is multi-GB
# (ADVICE r06, medium). 20M long entries ≈ 160-320 MB serialized —
# the same ceiling as BROADCAST_NODE_LIMIT, measured in what actually
# ships.
BROADCAST_ADJ_ENTRY_LIMIT = 20_000_000

# Per-cell adjacency-entry budget for the 2D-grid support kernel
# (_grid_support): each grid cell holds the full neighbor arrays of
# two node blocks (~2·ENTRIES/B where ENTRIES = 2·|E| ≈ the target),
# so this bounds per-task memory at ~256 MB of array payload (×2-3
# pandas/Arrow overhead per concurrent task) regardless of graph
# size. Measured at the 16×-sf0.1 probe graph (144M entries): 16M →
# B=18, 262 s warm; 32M → B=9, 191 s (the halved replication exchange
# wins); 64M → B=5 KILLED the local[32] JVM (~1.4 GB of Arrow batch
# per task × 32 concurrent). Smaller target = more cells = lower task
# memory but a larger adjacency replication exchange (2·B·|adj| per
# pass) — see _grid_support's docstring for the trade.
GRID_CELL_ENTRY_TARGET = 32_000_000

# ktruss_edges router (VERDICT r07 item 2): route to the
# degree-ordered oriented kernel when Σ_v deg(v)² (the edge-iterator's
# per-pass probe cost — each edge ships both endpoints' full-degree
# arrays) exceeds this multiple of Σ_v outdeg(v)² under the
# (degree, id) orientation (the oriented kernel's cost: out-arrays are
# orientation-bounded, and 3·|triangles| ≤ Σ outdeg² bounds its
# scatter). The ratio separates the measured regimes by three orders
# of magnitude: ~4 on uniform-degree clique graphs (sf0.1 FRIEND_OF
# and its 16× replicas — where oriented degenerates to the
# triangle-sized exchange and edge-iterator/grid wins) vs ~25,000 on
# the hub probe graphs (SCALE_PROBE.md r07 hub cells; the probe
# script's last copy is in commit 5850eb7 — where oriented wins 3-5×).
# 10 sits just above the uniform-degree floor.
ORIENTED_DEG2_RATIO = 10

_AQE_TOGGLE_LOCK = threading.Lock()


def _copartition(df: DataFrame, key: str) -> DataFrame:
    """Hash-partition ``df`` on ``key`` and pin the partitioning.

    ``localCheckpoint`` materializes the RDD and records the executed
    plan's output partitioning in the resulting LogicalRDD, so later
    equi-joins on ``key`` reuse it (only the other side shuffles).

    AQE must be OFF while the checkpoint materializes: under
    AdaptiveSparkPlanExec the checkpoint records UnknownPartitioning,
    and every downstream superstep silently re-shuffles this frame —
    profiled at 4x-replicated sf0.1, that one lost annotation re-moved
    the 48M-row edge table ten times per pagerank call (~2× the whole
    algorithm). The toggle only covers the materialization; supersteps
    still run with AQE on.
    """
    import os

    spark = df.sparkSession
    n = shuffle_partitions(spark, default=200)
    # SPARK_GRAFT_CKPT_STORAGE selects the checkpoint storage level for
    # the big static frames (e.g. DISK_ONLY). Default MEMORY_AND_DISK is
    # right on a real cluster, where the edge table spreads across
    # executors; on local[32] one JVM holds the WHOLE graph, and a
    # replicated-scale probe's ~770M-row edge checkpoint overruns any
    # heap while it materializes — disk-backed blocks are the honest
    # single-box stand-in for distributed memory.
    level_name = os.environ.get("SPARK_GRAFT_CKPT_STORAGE")
    level = None
    if level_name:
        from pyspark import StorageLevel

        level = getattr(StorageLevel, level_name)
    # the save/toggle/restore must be atomic: the conf is session-global,
    # so two concurrent _copartition calls could interleave such that one
    # restores the other's temporary 'false' and leaves AQE off for the
    # whole session (and unrelated concurrent queries would plan with
    # AQE off either way — a serving engine runs queries concurrently)
    with _AQE_TOGGLE_LOCK:
        aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            return df.repartition(n, key).localCheckpoint(
                eager=True, storageLevel=level
            )
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", aqe)


class _Layout:
    """Physical layout of one iterative algorithm's supersteps.

    Built once per call from the exact node count the algorithm already
    takes; the one comparison with ``BROADCAST_NODE_LIMIT`` lives here.
    It owns the four decisions every superstep loop makes:

    - mode: ``small`` when the node count is at most the limit;
    - static frames (``static``): small mode checkpoints them, width-
      pinned by default; large mode hash-partitions them on their join
      key once (``_copartition``), so each superstep shuffles only the
      node-sized state;
    - state side (``side``): broadcast in small mode, ``shuffle_hash``
      in large mode;
    - checkpoint cadence (``due``/``cut``).
    """

    def __init__(self, n_nodes: int) -> None:
        self.small = n_nodes <= BROADCAST_NODE_LIMIT

    @classmethod
    def over_nodes(cls, nodes: DataFrame) -> tuple["_Layout", DataFrame, int]:
        """Checkpoint and count an id-keyed node frame, choose the layout
        from that count, and return (layout, node frame, count).

        Large mode also keys the node frame on ``id``: a checkpointed
        frame keeps its SOURCE partitioning (e.g. hundreds of scan
        partitions), and without the key every superstep re-shuffles the
        full node frame from that layout (measured: the 16x scale probe
        spent each superstep in replicated-scan-sized shuffles).
        """
        nodes = nodes.localCheckpoint()
        n = nodes.count()
        layout = cls(n)
        return layout, layout.static(nodes, "id", reuse=nodes), n

    def static(
        self,
        df: DataFrame,
        key: str,
        pin: bool = True,
        reuse: DataFrame | None = None,
    ) -> DataFrame:
        """Materialize a frame every superstep joins on ``key``.

        Large mode: ``_copartition(df, key)``. Small mode: ``reuse`` if
        given (an already-materialized copy: the key does not matter
        when the state side broadcasts), else a ``localCheckpoint``.

        ``pin`` hash-repartitions to the session shuffle width first: a
        plain checkpoint inherits the SCAN partitioning (8 file splits
        at sf0.1), and every superstep then runs at that width — the
        defect fixed for pagerank in r09 (dropping the pin made the
        10-superstep loop 2.6× slower) and again for HITS in r10
        (pinned 6.22 vs unpinned 6.86 s min at sf0.1). The pin is one
        extra exchange of the frame, so it pays back only over enough
        supersteps: CC, which converges in ~3 supersteps on clique-shaped
        graphs, measured pinned 4.24 s vs unpinned 3.48 s min at sf0.1, so
        CC passes ``pin=False``. LPA does too (5 supersteps; at sf0.01
        on 4 cores unpinned used 1.24 vs pinned 1.43 s median executor
        CPU), and the BFS/SSSP/k-core/closeness/betweenness loops keep
        the unpinned layout they always had. (A/Bs: scripts/
        pagerank_ab_probe.py and scripts/hits_pin_r10.py, last present in
        commit 292bfdf.)
        """
        if not self.small:
            return _copartition(df, key)
        if reuse is not None:
            return reuse
        if pin:
            df = df.repartition(shuffle_partitions(df.sparkSession), key)
        return df.localCheckpoint()

    def side(self, df: DataFrame) -> DataFrame:
        """The node-sized state side of a superstep join.

        Large mode hints ``shuffle_hash``: without it Catalyst picks
        sort-merge and re-SORTS the static edge table every superstep
        (the dominant superstep cost); hash-building the state side and
        streaming edges is sort-free and the build fits per partition
        (n/P rows) at any scale.
        """
        return F.broadcast(df) if self.small else df.hint("shuffle_hash")

    @staticmethod
    def due(it: int, n_iter: int) -> bool:
        """Whether superstep ``it`` of ``n_iter`` cuts the lineage.

        The cut must happen or Catalyst analysis time grows with the
        plan tree, but each cut materializes a job: every OTHER superstep
        (and the last) is the measured sweet spot for pagerank (~7% over
        every superstep; every 5th is ~35% slower from re-analysis of
        the doubled tree). Loops that count their state every superstep
        (CC, BFS, betweenness) or read it twice per update (LPA)
        checkpoint every superstep instead.
        """
        return it % 2 == 1 or it == n_iter - 1

    def cut(self, df: DataFrame, it: int, n_iter: int) -> DataFrame:
        """``df`` checkpointed when superstep ``it`` is ``due``."""
        return df.localCheckpoint() if self.due(it, n_iter) else df


def connected_components(
    g: GraphModel,
    types: tuple[str, ...] = ("FRIEND_OF",),
    max_iter: int = 20,
) -> DataFrame:
    """Min-label propagation connected components.

    Each superstep pulls the minimum component id over neighbors and
    keeps the smaller of (own, neighbor-min); terminates when no label
    changes. On clique-shaped graphs (the friendship rule) this
    converges in 2 supersteps; the max_iter bound is the safety rail for
    path-shaped graphs (diameter supersteps needed).

    Returns (component, size) — component = min person id in the
    component, the conventional canonical label.
    """
    layout, labels, _ = _Layout.over_nodes(
        g.persons.select("id", F.col("id").alias("comp"))
    )
    edges = layout.static(
        g.sym_edges(types).select("src", "dst"), "src", pin=False
    )

    for _ in range(max_iter):
        # ONE aggregate per superstep (r09 optimization round): the
        # neighbor-min and the merge with the node's own label fuse
        # into a single min over (self-label ∪ neighbor-label) rows —
        # the node's previous comp rides the union as a second column
        # (null on contribution rows, so max() recovers the unique
        # self value) and `changed` falls out of the same aggregate.
        # Replaces the old agg + left-join: per superstep that's one
        # broadcast build instead of two (small mode) / two node-sized
        # exchanges instead of three (large mode), with the map-side
        # partial aggregation keeping the union exchange node-sized.
        # INVARIANT (ADVICE r09): every edge endpoint must appear in
        # `labels` — an edge dst outside it would be injected with
        # own=null and silently dropped from the changed count. Holds
        # here because labels = ALL persons and edges come from the
        # store's person↔person rules; guard with an inner join back
        # to labels' ids if edges can ever leave that set.
        contrib = edges.join(
            layout.side(labels), edges.src == labels.id
        ).select(
            F.col("dst").alias("id"),
            F.col("comp").alias("cand"),
            F.lit(None).cast(dict(labels.dtypes)["comp"]).alias("own"),
        )
        selfr = labels.select(
            "id", F.col("comp").alias("cand"), F.col("comp").alias("own")
        )
        new_labels = (
            selfr.unionByName(contrib)
            .groupBy("id")
            .agg(F.min("cand").alias("comp"), F.max("own").alias("own"))
            .select(
                "id", "comp", (F.col("comp") < F.col("own")).alias("changed")
            )
        ).localCheckpoint()  # truncate lineage every superstep
        changed = new_labels.filter(F.col("changed")).count()
        labels = new_labels.drop("changed")
        if changed == 0:
            break

    return (
        labels.groupBy("comp")
        .agg(F.count(F.lit(1)).alias("size"))
        .select(F.col("comp").alias("component"), "size")
        .orderBy("component")
    )


# Per-edge rank contributions are quantized to LONG nano-units
# (round(x·10⁹) as BIGINT) before the inflow sum. Double sums are
# accumulation-order-dependent (partition count, engine); integer sums
# are exact and order-independent, so every iteration's ranks are
# bit-identical across partitionings AND across engines — which is what
# makes the DuckDB oracle for g_pagerank exact. Long nano-units rather
# than DECIMAL(20,9): same 1e-9 grid and the same cross-engine rounding
# agreement (round-half-away on positives matches Spark's HALF_UP), but
# the hot superstep aggregate stays on JVM primitive longs inside
# whole-stage codegen — measured ~2.7× faster than the decimal variant
# at sf0.1 (~12M edges × 10 supersteps). Per-node inflow ≤ total mass 1
# → ≤ 1e9 nano-units, far under 2^53, so the back-conversion to double
# is exact.
CONTRIB_SCALE = 1.0e9


def _nano(x: Column) -> Column:
    """``x`` quantized to LONG nano-units (see CONTRIB_SCALE)."""
    return F.round(x * CONTRIB_SCALE).cast("long")


def _nano_sum(c: Column | str) -> Column:
    """Exact sum of nano-unit column ``c``, back as a double."""
    return F.sum(c).cast("double") / F.lit(CONTRIB_SCALE)


def _rank_setup(
    g: GraphModel, types: tuple[str, ...] | None
) -> tuple[_Layout, DataFrame, int, DataFrame, DataFrame]:
    """Static frames shared by ``pagerank`` and ``personalized_pagerank``:
    (layout, nodes, n, edges_n, out_deg).

    ``edges_n`` is the NARROW (src, dst) edge frame, materialized once
    and width-pinned (r10 optimization round, guide §2.3 "shuffle fewer
    bytes"): the r09 shape materialized (src, dst, deg) and divided
    rank/deg per EDGE row, but the division and its quantization depend
    only on src, so they belong node-side (``_inflow``) and the loop's
    static frame drops a third of its bytes. Store-backed interleaved
    A/B at sf0.1 (scripts/pagerank_variants_r10.py, last present in
    commit 292bfdf): 15.39 s → 7.76 s min, and the narrow frame is far
    more stable under memory pressure (worst run 12.6 s vs 52.9 s).

    ``out_deg`` comes from the MATERIALIZED edge frame (r10): the
    parquet store is scanned once per query, and the src-partitioned
    input keeps the aggregate exchange node-sized. Checkpointing it
    makes the dangling count a materialized-RDD count (guide §1.2).
    """
    layout, nodes, n = _Layout.over_nodes(g.persons.select("id"))
    edges_n = layout.static(g.sym_edges(types).select("src", "dst"), "src")
    out_deg = layout.static(
        edges_n.groupBy("src").agg(F.count(F.lit(1)).alias("deg")),
        "src",
        pin=False,
    )
    return layout, nodes, n, edges_n, out_deg


def _inflow(layout: _Layout, edges_n: DataFrame, ranks: DataFrame,
            out_deg: DataFrame) -> GroupedData:
    """One rank superstep's message and combine: per-destination groups
    of the quantized contributions ``c`` that ``ranks`` sends along
    ``edges_n``; the caller aggregates them with ``_nano_sum("c")``.

    The per-src contribution round(rank/deg·SCALE) is constant across a
    node's out-edges, so it is computed NODE-side (r10): the division
    and rounding run O(nodes) times per superstep instead of O(edges),
    and the edge join ships one long. Bit-identical to the per-edge
    formulation by construction (same double division, same round).
    """
    contrib = ranks.join(out_deg, ranks.id == out_deg.src).select(
        F.col("id"), _nano(F.col("rank") / F.col("deg")).alias("c")
    )
    return (
        edges_n.join(layout.side(contrib), edges_n.src == contrib["id"])
        .select(F.col("dst").alias("id"), "c")
        .groupBy("id")
    )


def pagerank(
    g: GraphModel,
    types: tuple[str, ...] | None = None,
    max_iter: int = 10,
    damping: float = 0.85,
    tol: float | None = None,
) -> DataFrame:
    """PageRank over the undirected view (each stored edge contributes
    both directions), uniform teleport, dangling mass redistributed
    uniformly. Iterative join-aggregate supersteps with checkpointing.

    Deterministic by construction (nano-unit-quantized contributions,
    see CONTRIB_SCALE) — the result is independent of partitioning and
    hash-matches the unrolled DuckDB oracle (__spark_entry__._pagerank_sql).

    ``tol`` (opt-in) enables convergence-based early exit: when the L1
    rank delta between consecutive CHECKPOINTED iterations falls below
    ``tol``, the loop stops. The delta is measured only at checkpoint
    supersteps — where the ranks frame is already materialized — so the
    check adds one node-sized join per two supersteps and zero extra
    materializations. The default (None) keeps the fixed-round loop the
    DuckDB oracle unrolls, bit-exact; production callers on converged
    graphs pass e.g. tol=1e-7/n to skip the tail iterations (the
    dominant bench cost once the graph has stabilized).
    """
    layout, nodes, n, edges_n, out_deg = _rank_setup(g, types)
    # Dangling (degree-0) nodes receive no inflow, so every dangling node
    # carries the SAME rank each iteration and the leaked dangling mass
    # follows a scalar recurrence — computed on the driver, costing zero
    # Spark jobs per superstep (previously a full aggregate per
    # iteration): r_dang(t+1) = (1-d)/n + d·mass(t)/n; mass = n_dang·r.
    # In the UNDIRECTED view degree-0 is also the only way to get zero
    # inflow (a deg>0 node has a deg>0 neighbor with positive rank), so
    # the superstep needs NO per-iteration node-frame join at all: the
    # contribution aggregate itself emits one row per non-isolated node,
    # and isolated nodes join back once at the end with the closed-form
    # scalar rank. Halves the joins per superstep vs the naive
    # refresh-against-all-nodes formulation.
    n_dang = n - out_deg.count()  # materialized count — no recompute
    dangling_mass = n_dang / n  # each node starts at rank 1/n
    # Zero-job projection of the checkpointed degree frame: small mode
    # is already materialized; large mode keeps HashPartitioning(src)
    # through the alias (projection partitioning is alias-aware), so
    # the final isolated anti-join on id stays exchange-free without
    # the third checkpoint the pre-r09 code paid here.
    active = out_deg.select(F.col("src").alias("id"))
    ranks = active.select("id", F.lit(1.0 / n).alias("rank"))
    iso_rank = 1.0 / n  # rank every isolated node carries right now
    prev_checkpoint = None  # last checkpointed ranks, for tol early exit

    for it in range(max_iter):
        teleport_plus_dangling = (1.0 - damping) / n + damping * dangling_mass / n
        ranks = _inflow(layout, edges_n, ranks, out_deg).agg(
            (
                F.lit(teleport_plus_dangling)
                + F.lit(damping) * _nano_sum("c")
            ).alias("rank")
        )
        checkpoint_due = layout.due(it, max_iter)
        if checkpoint_due and tol is not None and prev_checkpoint is not None:
            # Piggyback the convergence check on the checkpoint job
            # itself: join the new ranks with the previous checkpoint
            # (both hash-partitioned on id — no exchange of the new
            # side) so the delta terms are computed and MATERIALIZED by
            # the very job localCheckpoint() runs; the L1 sum is then a
            # tiny aggregate over the in-memory checkpointed frame (no
            # recompute, no shuffle of anything new). The earlier
            # separate join+agg+collect per checkpoint cost the prod
            # twin +6% over fixed-10 at sf0.1 when the graph doesn't
            # converge early (BENCH_r04 7.76 vs 7.34 s). NOTE: the
            # obvious df.observe(Observation, sum) formulation is
            # banned here — combined with localCheckpoint it leaves the
            # session's ObservationManager reachable from later task
            # closures, and every subsequent spark.ml fit/transform
            # dies with Task-not-serializable (reproduced on Spark
            # 4.1; pinned by tests/test_algorithms.py::
            # test_pagerank_tol_then_ml_pipeline_serializes).
            frame = (
                ranks.join(
                    prev_checkpoint.select(
                        "id", F.col("rank").alias("prev_rank")
                    ),
                    "id",
                )
                .select(
                    "id",
                    "rank",
                    F.abs(F.col("rank") - F.col("prev_rank")).alias("_d"),
                )
                .localCheckpoint()
            )
            ranks = frame.select("id", "rank")
            iso_rank = teleport_plus_dangling
            dangling_mass = n_dang * teleport_plus_dangling
            l1 = frame.agg(F.sum("_d").alias("l1")).first()[0]
            if l1 is not None and l1 < tol:
                break
            prev_checkpoint = ranks
            continue
        if checkpoint_due:
            ranks = ranks.localCheckpoint()
            if tol is not None:
                prev_checkpoint = ranks
        iso_rank = teleport_plus_dangling
        dangling_mass = n_dang * teleport_plus_dangling

    if n_dang:
        isolated = nodes.join(active, "id", "left_anti")
        ranks = ranks.unionByName(
            isolated.select("id", F.lit(iso_rank).alias("rank"))
        )

    return (
        g.persons.select("id", "name")
        .join(ranks, "id")
        .select("name", "rank")
        .orderBy(F.desc("rank"), F.asc("name"))
    )


def bfs_distances(
    g: GraphModel,
    source_name: str,
    types: tuple[str, ...] = ("FRIEND_OF",),
    max_depth: int = 10,
) -> DataFrame:
    """Single-source shortest-path distances (unweighted BFS) over the
    undirected view.

    Frontier-expansion supersteps: join the frontier with edges,
    anti-join already-visited nodes, checkpoint, repeat until the
    frontier empties or max_depth. Only reached nodes are returned
    (unreachable ≡ absent, mirroring Cypher's shortestPath null).

    A frontier can grow to a constant fraction of the graph on
    small-diameter graphs, so it is laid out as node-sized state
    (``_Layout``): broadcast on small graphs, shuffled against edges
    co-partitioned on the expansion key at scale.
    """
    layout = _Layout(g.persons.count())
    edges = layout.static(
        g.sym_edges(types).select("src", "dst"), "src", pin=False
    )
    visited = (
        g.persons.filter(F.col("name") == source_name)
        .select("id", F.lit(0).alias("dist"))
        .localCheckpoint()
    )
    frontier = visited
    for depth in range(1, max_depth + 1):
        neighbors = (
            edges.join(layout.side(frontier), edges.src == frontier.id)
            .select(F.col("dst").alias("id"))
            .distinct()
        )
        new_frontier = neighbors.join(
            visited.select("id"), "id", "left_anti"
        ).select("id", F.lit(depth).alias("dist")).localCheckpoint()
        if new_frontier.count() == 0:
            break
        visited = visited.unionByName(new_frontier).localCheckpoint()
        frontier = new_frontier
    return (
        g.persons.select("id", "name")
        .join(visited, "id")
        .select("name", F.col("dist").cast("int").alias("dist"))
        .orderBy("name")
    )


def _wedge_triangles(e: DataFrame) -> DataFrame:
    """One row (a, c, b) per triangle a<b<c of the canonical (src < dst)
    edge list ``e``: the three-way join edges(a,b) ⋈ edges(b,c) ⋈
    edges(a,c) shared by ``triangle_count`` and
    ``clustering_coefficient``."""
    ab = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ac = e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    return ab.join(bc, "b").join(ac, ["a", "c"])


def triangle_count(
    g: GraphModel, types: tuple[str, ...] = ("SAME_FAMILY",)
) -> DataFrame:
    """Total triangle count via the canonical-order three-way edge join.

    Canonical storage (src < dst by construction for symmetric types)
    gives each triangle exactly one (a<b<c) representation: count rows of
    edges(a,b) ⋈ edges(b,c) ⋈ edges(a,c). Two shuffles; the candidate
    path explosion is bounded by per-key degree — on near-clique inputs
    restrict to sparser edge types (default SAME_FAMILY) or sample.

    The wedge join is the only route. A compact-forward (oriented)
    route, which cuts the wedge fan-out from Σ deg² to Σ outdeg², was
    measured slower on every shape tried, even at 1e11 wedges (4.5 s vs
    10.0 s, mid-id hubs at 100k spokes; SCALE_PROBE.md r07): the wedge
    rows never exchange — both build sides are edge-sized, so wedges
    generate-and-probe inside one codegen stage at ~1-2 ns each. It
    was deleted; commit 5850eb7 is the last that holds it.
    """
    e = g.edges.filter(F.col("type").isin(list(types))).select("src", "dst")
    return _wedge_triangles(e).agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


def label_propagation(
    g: GraphModel,
    types: tuple[str, ...] | None = None,
    max_iter: int = 5,
) -> DataFrame:
    """Community detection by synchronous label propagation over the
    undirected view: each superstep every node adopts its neighbors'
    most frequent label (ties → smallest label, so the algorithm is
    fully deterministic, unlike classic randomized LPA).

    Iterative-join shape like ``pagerank``: the static edge table stays
    put; per superstep one join ships current labels to neighbors, one
    aggregate counts (node, label) votes, one window picks the winner.
    The labels frame is the superstep state (``_Layout``), keyed on the
    vote join's ``dst`` side; ``localCheckpoint`` truncates lineage per
    superstep. Fixed ``max_iter`` + the deterministic (count DESC, label
    ASC) tie-break make every round engine-exact, so the whole loop has
    an unrolled SQL oracle (__spark_entry__._lpa_rounds_sql)."""
    from pyspark.sql.window import Window as W

    layout, labels, _ = _Layout.over_nodes(
        g.persons.select("id", F.col("id").alias("label"))
    )
    edges = layout.static(
        g.sym_edges(types).select("src", "dst"), "dst", pin=False
    )

    for _ in range(max_iter):
        votes = (
            edges.join(layout.side(labels), edges.dst == labels.id)
            .groupBy("src", "label")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        w = W.partitionBy("src").orderBy(F.desc("n"), F.asc("label"))
        best = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("src").alias("bid"), F.col("label").alias("new_label"))
        )
        labels = (
            labels.join(best, labels.id == best.bid, "left")
            .select(
                "id",
                F.coalesce(F.col("new_label"), F.col("label")).alias("label"),
            )
            .localCheckpoint()
        )

    return (
        g.persons.select("id", "name")
        .join(labels, "id")
        .select("name", F.col("label").alias("community"))
        .orderBy("name")
    )


def sssp_distances(
    g: GraphModel,
    source_name: str,
    types: tuple[str, ...] = ("FRIEND_OF",),
    max_iter: int = 8,
) -> DataFrame:
    """Weighted single-source shortest paths (Bellman-Ford supersteps)
    over the undirected view.

    Edge weight is the deterministic integer ``(src + dst) % 7 + 1`` —
    symmetric, engine-portable, and strictly positive, standing in for a
    stored weight property. Integer min-plus relaxation is exact in any
    engine, so a FIXED iteration count makes the whole algorithm
    oracle-checkable (g_sssp unrolls the same rounds in SQL).

    After r rounds the frame holds exact shortest distances among paths
    of ≤ r edges; with weights ≥ 1 and a direct edge ≤ 7, optimal paths
    here use ≤ 7 edges, so max_iter=8 is full convergence, not an
    approximation. Unreached nodes are absent (Cypher shortestPath
    null). The distance frame is the superstep state (``_Layout``).
    """
    layout = _Layout(g.persons.count())
    edges = layout.static(
        g.sym_edges(types).select(
            "src",
            "dst",
            (F.pmod(F.col("src") + F.col("dst"), F.lit(7)) + 1).alias("w"),
        ),
        "src",
        pin=False,
    )
    dist = (
        g.persons.filter(F.col("name") == source_name)
        .select("id", F.lit(0).cast("long").alias("d"))
        .localCheckpoint()
    )
    for it in range(max_iter):
        relaxed = edges.join(layout.side(dist), edges.src == dist.id).select(
            F.col("dst").alias("id"), (F.col("d") + F.col("w")).alias("d")
        )
        dist = layout.cut(
            dist.unionByName(relaxed).groupBy("id").agg(F.min("d").alias("d")),
            it,
            max_iter,
        )
    return (
        g.persons.select("id", "name")
        .join(dist, "id")
        .select("name", F.col("d").cast("long").alias("dist"))
        .orderBy("name")
    )


def kcore_members(
    g: GraphModel,
    k: int = 55,
    types: tuple[str, ...] | None = None,
    max_iter: int = 10,
) -> DataFrame:
    """k-core membership by iterative peeling: repeatedly delete nodes
    whose degree in the SURVIVING subgraph is < k; what remains is the
    k-core (the standard cohesion/influence subgraph, and the peeling
    loop is the first stage of full core decomposition).

    Each round: two semi-joins restrict edges to surviving endpoints,
    one count aggregate recomputes degrees, one filter peels. All
    integer — with a FIXED round budget the result is deterministic and
    the whole loop has an unrolled SQL oracle (g_kcore). Peeling
    cascades (removing a node can doom its neighbors next round), which
    is why it must iterate; 10 rounds far exceeds the cascade depth on
    these graphs. The alive set is the node-sized superstep state
    (``_Layout``); the edge table is static.
    """
    layout = _Layout(g.persons.count())
    edges = layout.static(
        g.sym_edges(types).select("src", "dst"), "src", pin=False
    )
    alive = g.persons.select("id").localCheckpoint()
    for it in range(max_iter):
        surviving = edges.join(
            layout.side(alive), edges.src == alive.id, "left_semi"
        ).join(
            layout.side(alive.withColumnRenamed("id", "dst_id")),
            F.col("dst") == F.col("dst_id"),
            "left_semi",
        )
        alive = layout.cut(
            surviving.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select(F.col("src").alias("id")),
            it,
            max_iter,
        )
    return (
        g.persons.select("id", "name")
        .join(alive, "id", "left_semi")
        .select("name")
        .orderBy("name")
    )


def deterministic_walks(
    g: GraphModel,
    walk_len: int = 3,
    walks_per_node: int = 2,
    types: tuple[str, ...] = ("FRIEND_OF",),
) -> DataFrame:
    """Random-walk sampling (the DeepWalk/node2vec corpus generator),
    DERANDOMIZED: at step t the walk (start, walk_no) draws the index
    ``md5(start|walk_no|t) mod deg(cur)`` into cur's SORTED neighbor
    list — a hash in place of the RNG draw every walk sampler makes, so
    the choice is uniform over neighbors, "random" walks are
    reproducible across runs, partitionings, and engines, and the whole
    sampler has an exact unrolled-SQL oracle. Different walk_nos hash
    differently, giving independent walks per start node.

    Plan shape: edges compact ONCE into adjacency-list (CSR) form —
    (node, sorted neighbor array) — and each step is a node-keyed join
    of the walk state against it plus ONE hash + one array index per
    walk: O(1) per walk per step, independent of degree. (First cut
    joined state×edges and row_number-windowed the Σ deg(cur) fan-out —
    18M-row sort-shuffles per step, 80 s at sf0.1 on the friendship
    cliques; hashing every NEIGHBOR inside a higher-order function cut
    it to 22 s; hashing once per WALK into an index is ~1 s. Same
    lesson at every scale: make the per-step cost a function of the
    walk count, not the edge count.) Walk state stays
    O(nodes × walks_per_node) and the adjacency table is the standard
    persisted graph layout at 100 TB — the step join co-partitions on
    the node key. Dead ends (isolated nodes) carry NULL steps from
    there on (left join), matching the "walk ends early" semantics.
    """
    adj = (
        g.sym_edges(types)
        .select("src", "dst")
        .groupBy("src")
        .agg(F.sort_array(F.collect_list("dst")).alias("nbrs"))
        .localCheckpoint()
    )

    # the persons store is written compacted (few files), so the walk
    # state would inherit ~1 input partition — and every per-step md5
    # HOF would run on one task. Spread the walk key space once; each
    # step's checkpoint preserves the partitioning.
    n_parts = shuffle_partitions(g.persons.sparkSession)
    state = (
        g.persons.select(F.col("id").alias("start"))
        .withColumn(
            "walk_no",
            F.explode(F.array(*[F.lit(i) for i in range(walks_per_node)])),
        )
        .withColumn("cur", F.col("start"))
        .repartition(n_parts, "start", "walk_no")
        .localCheckpoint()
    )
    step_cols: list[str] = []
    for t in range(1, walk_len + 1):
        col = f"step_{t}"
        draw = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.col("start"), F.col("walk_no"), F.lit(str(t))
                    )
                ),
                1,
                5,
            ),
            16,
            10,
        ).cast("long")
        choice = F.element_at(
            F.col("nbrs"), (draw % F.size("nbrs") + 1).cast("int")
        )
        state = (
            state.join(adj, state.cur == adj.src, "left")
            .withColumn(col, choice)
            .drop("src", "nbrs")
            .withColumn("cur", F.col(col))
            .localCheckpoint()
        )
        step_cols.append(col)
    return state.select("start", "walk_no", *step_cols).orderBy(
        "start", "walk_no"
    )


def personalized_pagerank(
    g: GraphModel,
    seed_name: str,
    types: tuple[str, ...] | None = None,
    max_iter: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank: random walk with restart at ONE seed node
    — the "people you may know" / related-items ranking over the social
    graph (the global-teleport twin of ``pagerank``).

    r_{t+1}(v) = (1-d)·[v = seed] + d·inflow_t(v), r_0 = e_seed.
    Dangling mass restarts at the seed; on the undirected view only
    ISOLATED nodes are dangling, and with r_0 concentrated on a
    non-isolated seed they hold rank 0 forever — the dangling term is
    identically zero, so no scalar recurrence is needed (asserted, not
    assumed: an isolated seed raises).

    Same static frames, superstep and determinism contract as
    ``pagerank`` (``_rank_setup``, ``_inflow``) — and the same
    unrolled-CTE exact oracle. The practical difference at scale favors
    PPR: rank mass is concentrated near the seed, so most nodes carry
    exact zeros; filtering them before the join makes each superstep's
    rank frame O(reached), not O(nodes).
    """
    seed_rows = g.persons.filter(F.col("name") == seed_name).select("id").collect()
    if len(seed_rows) != 1:
        raise ValueError(f"seed {seed_name!r} matched {len(seed_rows)} nodes")
    seed_id = seed_rows[0][0]

    layout, nodes, _, edges_n, out_deg = _rank_setup(g, types)
    if out_deg.filter(F.col("src") == seed_id).count() == 0:
        raise ValueError(f"seed {seed_name!r} is isolated — PPR is e_seed")
    seed_term = F.when(F.col("id") == seed_id, 1.0 - damping).otherwise(0.0)
    ranks = nodes.select(
        "id", F.when(F.col("id") == seed_id, 1.0).otherwise(0.0).alias("rank")
    )

    for it in range(max_iter):
        # zero ranks contribute zero inflow — drop them before the join
        live = ranks.filter(F.col("rank") != 0.0)
        contribs = _inflow(layout, edges_n, live, out_deg).agg(
            _nano_sum("c").alias("inflow")
        )
        ranks = layout.cut(
            nodes.join(contribs, "id", "left").select(
                "id",
                (
                    seed_term
                    + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("rank"),
            ),
            it,
            max_iter,
        )

    return (
        g.persons.select("id", "name")
        .join(ranks.filter(F.col("rank") != 0.0), "id")
        .select("name", "rank")
        .orderBy(F.desc("rank"), F.asc("name"))
    )


def link_prediction_training_set(
    g: GraphModel,
    types: tuple[str, ...] = ("FRIEND_OF",),
    neg_per_pos: int = 1,
) -> DataFrame:
    """Training-set builder for link prediction: every stored edge as a
    positive (label 1) plus ``neg_per_pos`` hash-drawn NEGATIVE samples
    per edge (label 0) — the corpus any GNN / edge-classifier trains on
    (and the supervised twin of the reference's common-neighbors
    ranking).

    Negative sampling, derandomized: draw j for positive (src, dst)
    picks candidate node at position ``md5(src|dst|j) mod n`` in the
    id-sorted node table; candidates that collide with a REAL neighbor
    of src (or src itself) are dropped by an anti-join rather than
    re-drawn — the standard "filtered uniform" sampler, deterministic
    across runs/engines, so the whole training set has an exact SQL
    oracle. Expect ~|E|·neg_per_pos·(1 − deg/n) surviving negatives.

    Plan: node-position table = one row_number window over ids (built
    once); draws join it on position (hash join on int), then one
    anti-join against the undirected edge view. Everything is linear in
    |E|·neg_per_pos; nothing quadratic, no Python.
    """
    from pyspark.sql.window import Window as W

    nodes = g.persons.select("id")
    n = nodes.count()
    pos_tbl = nodes.withColumn(
        "pos", F.row_number().over(W.orderBy("id")) - 1
    ).localCheckpoint()
    edges = g.edges.filter(F.col("type").isin(list(types))).select("src", "dst")
    positives = edges.select("src", "dst", F.lit(1).alias("label"))

    draws = edges.withColumn(
        "j", F.explode(F.array(*[F.lit(j) for j in range(neg_per_pos)]))
    ).select(
        "src",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", "src", "dst", "j")), 1, 10
                ),
                16,
                10,
            )
            .cast("long")
            % n
        ).alias("pos"),
    )
    candidates = draws.join(pos_tbl, "pos").select(
        "src", F.col("id").alias("dst")
    )
    sym = g.sym_edges(types).select("src", "dst")
    negatives = (
        candidates.filter(F.col("src") != F.col("dst"))
        .join(sym, ["src", "dst"], "left_anti")
        .select("src", "dst", F.lit(0).alias("label"))
    )
    return positives.unionByName(negatives).orderBy("label", "src", "dst")


def _landmarks(g: GraphModel, n_landmarks: int) -> DataFrame:
    """The ``n_landmarks`` smallest person ids as column ``lm`` — the
    deterministic landmark pick of closeness and betweenness (a stand-in
    for the random or degree-biased pick; swap without touching the
    plans)."""
    from pyspark.sql.window import Window as W

    return (
        g.persons.select("id")
        .withColumn("rn", F.row_number().over(W.orderBy("id")))
        .filter(F.col("rn") <= n_landmarks)
        .select(F.col("id").alias("lm"))
    )


def closeness_landmarks(
    g: GraphModel,
    types: tuple[str, ...] = ("FRIEND_OF",),
    n_landmarks: int = 4,
    max_depth: int = 6,
) -> DataFrame:
    """Landmark-based closeness centrality (the Indyk/Potamias
    approximation): exact closeness needs all-pairs BFS — O(V·E), dead
    at scale — so estimate each node's centrality from its hop
    distances to ``n_landmarks`` fixed landmark nodes (``_landmarks``).

    One multi-source BFS computes ALL landmark distances together: the
    distance frame is keyed (landmark, node) and each round is one
    min-plus superstep (join + min aggregate) — k landmarks cost one
    joint loop, not k loops, and the frame is at most k·V rows. Fixed
    ``max_depth`` rounds bound the plan AND give exact hop distances
    for paths within that radius (integer min-plus → engine-exact, so
    the whole estimator has an unrolled SQL oracle). Nodes beyond a
    landmark's radius simply don't pair with it — reported via
    n_reached.

    Output: (name, n_reached, total_dist) — integer closeness raw
    material; 1/total_dist or n_reached²/total_dist are one projection
    away and engine-dependent float policy stays out of the contract.
    """
    layout = _Layout(g.persons.count())
    edges = layout.static(
        g.sym_edges(types).select("src", "dst"), "src", pin=False
    )
    dist = _landmarks(g, n_landmarks).select(
        "lm", F.col("lm").alias("id"), F.lit(0).cast("long").alias("d")
    ).localCheckpoint()
    for it in range(max_depth):
        relaxed = edges.join(layout.side(dist), edges.src == dist.id).select(
            "lm", F.col("dst").alias("id"), (F.col("d") + 1).alias("d")
        )
        dist = layout.cut(
            dist.unionByName(relaxed)
            .groupBy("lm", "id")
            .agg(F.min("d").alias("d")),
            it,
            max_depth,
        )
    return (
        g.persons.select("id", "name")
        .join(dist, "id")
        .groupBy("name")
        .agg(
            F.count(F.lit(1)).alias("n_reached"),
            F.sum("d").alias("total_dist"),
        )
        .orderBy("name")
    )


def betweenness_landmarks(
    g: GraphModel,
    types: tuple[str, ...] = ("FRIEND_OF",),
    n_landmarks: int = 4,
    max_depth: int = 6,
) -> DataFrame:
    """Landmark-sampled betweenness centrality (Brandes 2001 restricted
    to ``n_landmarks`` sources — the standard estimator; exact
    betweenness is all-sources Brandes, O(V·E), off the table at
    scale).

    Forward phase: one joint multi-source BFS keyed (landmark, node)
    accumulating hop distance AND path counts σ (integer sums — exact).
    Backward phase: dependencies sweep layer-by-layer from the deepest
    hop level down, δ(v) += σ(v)/σ(w)·(1+δ(w)) over DAG edges
    (dist(w) = dist(v)+1); each level is one join + one aggregate. δ is
    carried as exact NANO-UNITS (long, CONTRIB_SCALE): contributions
    are computed in IEEE doubles with a fixed operation order, then
    round(x·1e9)→long and summed exactly, so every aggregate — levels
    AND the final per-name sum over landmarks — is integer arithmetic,
    partition-order-independent, and bit-identical in the unrolled
    DuckDB oracle (the pagerank determinism contract, one step
    further: pagerank re-floats between supersteps, here δ stays
    integral until the single output division).

    State is O(landmarks · V); both sweeps are bounded by ``max_depth``
    supersteps over the static edge frame (``_Layout``). Output: (name,
    betweenness) for nodes with nonzero score, descending.
    """
    # The level joins stay unhinted (AQE picks the build side): each
    # frontier or level frame is a thin slice of the (lm, node) state,
    # and broadcasting it would stream every edge per level — measured
    # at sf0.01 on 4 cores, state-side hints on these joins cost +39%
    # executor CPU (2.02 vs 1.45 s median), while unhinted joins over
    # the gated edge frame cost the same as the ungated loop (1.33 vs
    # 1.34 s).
    layout = _Layout(g.persons.count())
    edges = layout.static(
        g.sym_edges(types).select("src", "dst"), "src", pin=False
    )
    # forward: frontier BFS carrying sigma; visited keeps the final
    # (dist, sigma) per (lm, node)
    frontier = _landmarks(g, n_landmarks).select(
        "lm",
        F.col("lm").alias("id"),
        F.lit(0).alias("dist"),
        F.lit(1).cast("long").alias("sigma"),
    ).localCheckpoint()
    visited = frontier
    for depth in range(1, max_depth + 1):
        nxt = (
            frontier.join(edges, frontier.id == edges.src)
            .select("lm", F.col("dst").alias("id"), "sigma")
            .join(
                visited.select(
                    F.col("lm").alias("vlm"), F.col("id").alias("vid")
                ),
                (F.col("lm") == F.col("vlm")) & (F.col("id") == F.col("vid")),
                "left_anti",
            )
        )
        frontier = (
            nxt.groupBy("lm", "id")
            .agg(F.sum("sigma").alias("sigma"))
            .select("lm", "id", F.lit(depth).alias("dist"), "sigma")
            .localCheckpoint()
        )
        if frontier.count() == 0:
            break
        visited = visited.unionByName(frontier).localCheckpoint()

    # backward: delta (in exact nano-units) per (lm, node), deepest
    # level first
    max_d = visited.agg(F.max("dist")).first()[0]
    delta = visited.select(
        "lm", "id", "dist", "sigma", F.lit(0).cast("long").alias("dn")
    ).localCheckpoint()
    for d in range(max_d, 0, -1):
        wside = delta.filter(F.col("dist") == d).select(
            "lm",
            F.col("id").alias("w_id"),
            F.col("sigma").alias("w_sigma"),
            F.col("dn").alias("w_dn"),
        )
        vlevel = delta.filter(F.col("dist") == d - 1).select(
            F.col("lm").alias("v_lm"),
            F.col("id").alias("v_id"),
            F.col("sigma").alias("sigma"),
        )
        # fixed IEEE operation order — mirrored token-for-token by the
        # unrolled oracle (__spark_entry__._betweenness_sql):
        # ((σv/σw) * (1 + dn/1e9)) * 1e9, round half-away, long
        contrib = (
            vlevel.join(edges, vlevel.v_id == edges.src)
            .join(
                wside,
                (F.col("v_lm") == wside.lm) & (F.col("dst") == F.col("w_id")),
            )
            .select(
                F.col("v_lm").alias("lm"),
                F.col("v_id").alias("id"),
                _nano(
                    F.col("sigma").cast("double")
                    / F.col("w_sigma").cast("double")
                    * (
                        1.0
                        + F.col("w_dn").cast("double") / F.lit(CONTRIB_SCALE)
                    )
                ).alias("c"),
            )
            .groupBy("lm", "id")
            .agg(F.sum("c").alias("dd"))
        )
        delta = (
            delta.join(contrib, ["lm", "id"], "left")
            .select(
                "lm",
                "id",
                "dist",
                "sigma",
                F.when(
                    F.col("dist") == d - 1,
                    F.coalesce(F.col("dd"), F.lit(0).cast("long")),
                )
                .otherwise(F.col("dn"))
                .alias("dn"),
            )
            .localCheckpoint()
        )
    return (
        g.persons.select("id", "name")
        .join(delta.filter(F.col("dist") > 0), "id")
        .groupBy("name")
        .agg(_nano_sum("dn").alias("betweenness"))
        .filter(F.col("betweenness") > 0.0)
        .orderBy(F.desc("betweenness"), F.asc("name"))
    )


def clustering_coefficient(
    g: GraphModel, types: tuple[str, ...] = ("SAME_FAMILY",)
) -> DataFrame:
    """Local clustering coefficient per node: the fraction of a node's
    neighbor pairs that are themselves adjacent, ``2·T(v) / (deg(v) ·
    (deg(v)-1))``.

    Per-node triangle participation reuses the canonical-order wedge
    join of ``triangle_count`` (each triangle found once as a<b<c, then
    credited to all three corners via one explode — no per-corner
    re-join). Degree comes from the symmetric view. All counting is
    exact integer work; the one float op is the final correctly-rounded
    double division, identical in DuckDB, so the query has an exact
    oracle. Scale: wedge fan-out is bounded by per-key degree within
    the chosen edge types — default SAME_FAMILY keeps keys at family
    size; for denser types pre-filter hubs like ``jaccard_similarity``.
    The wedge join is the only route, for the measured reason given
    at ``triangle_count``.
    """
    e = g.edges.filter(F.col("type").isin(list(types))).select("src", "dst")
    corners = _wedge_triangles(e).select(
        F.explode(F.array("a", "b", "c")).alias("id")
    )
    tcount = corners.groupBy("id").agg(
        F.count(F.lit(1)).alias("triangles")
    )
    deg = (
        g.sym_edges(types)
        .groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        deg.join(tcount, "id", "left")
        .fillna(0, subset=["triangles"])
        .join(g.persons.select("id", "name"), "id")
        .select(
            "name",
            F.col("degree").cast("long").alias("degree"),
            F.col("triangles").cast("long").alias("triangles"),
            F.when(
                F.col("degree") >= 2,
                2.0
                * F.col("triangles")
                / (F.col("degree") * (F.col("degree") - F.lit(1))),
            )
            .otherwise(0.0)
            .alias("clustering_coeff"),
        )
        .orderBy("name")
    )


def jaccard_similarity(
    g: GraphModel,
    types: tuple[str, ...] = ("SAME_FAMILY", "ROMANTIC_WITH"),
    k: int = 50,
    max_degree: int | None = None,
) -> DataFrame:
    """Top-k node pairs by neighbor-set Jaccard, |N(a)∩N(b)| / |N(a)∪N(b)|.

    Candidate pairs come from the wedge join (two nodes share a common
    neighbor), so disjoint-neighborhood pairs are never materialized —
    the inverted-index shape, not all-pairs. ``max_degree`` drops hub
    nodes from the COMMON-NEIGHBOR role before the join (the same
    high-df pruning as minhash banding: a degree-d hub alone emits
    C(d,2) candidate pairs while contributing ~zero similarity signal);
    at 100 TB set it to a few hundred. Counting is integer-exact; the
    single double division makes the score, so the full query carries an
    exact SQL oracle. Output order: (jaccard DESC, name_a, name_b) —
    total, hence deterministic under ties.
    """
    adj = g.sym_edges(types).select("src", "dst").distinct()
    deg = adj.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    hub_ok = adj
    if max_degree is not None:
        small = deg.filter(F.col("deg") <= max_degree).select(
            F.col("id").alias("dst")
        )
        hub_ok = adj.join(F.broadcast(small), "dst", "left_semi")
    left = hub_ok.select(F.col("src").alias("a"), F.col("dst").alias("w"))
    right = hub_ok.select(F.col("src").alias("b"), F.col("dst").alias("w"))
    common = (
        left.join(right, "w")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    deg_a = deg.select(F.col("id").alias("a"), F.col("deg").alias("deg_a"))
    deg_b = deg.select(F.col("id").alias("b"), F.col("deg").alias("deg_b"))
    names = g.persons.select("id", "name")
    return (
        common.join(deg_a, "a")
        .join(deg_b, "b")
        .select(
            "a",
            "b",
            "common",
            (
                F.col("common")
                / (F.col("deg_a") + F.col("deg_b") - F.col("common"))
            ).alias("jaccard"),
        )
        .join(names.select(F.col("id").alias("a"), F.col("name").alias("name_a")), "a")
        .join(names.select(F.col("id").alias("b"), F.col("name").alias("name_b")), "b")
        .select("name_a", "name_b", F.col("common").cast("long").alias("common"), "jaccard")
        .orderBy(F.desc("jaccard"), F.asc("name_a"), F.asc("name_b"))
        .limit(k)
    )


def hits(
    g: GraphModel,
    types: tuple[str, ...] | None = None,
    max_iter: int = 5,
) -> DataFrame:
    """HITS (hubs & authorities) over the DIRECTED stored edges
    (canonical one-way FRIEND_OF/SAME_FAMILY, both-way ENEMY/ROMANCE —
    the direction structure the reference materializes,
    get_insert.py:122-163).

    Per iteration: authority(v) = Σ_{u→v} hub(u), L2-normalized; then
    hub(u) = Σ_{u→v} authority(v), L2-normalized. Determinism contract
    (same as pagerank): every addend — contributions AND the squared
    norms — is nano-quantized to LONG before summing, so the sums are
    order/partition independent; sqrt and the divisions are single
    correctly-rounded IEEE ops. Hash-matches the unrolled DuckDB oracle.

    Scale: the edge table is static; at scale it is co-partitioned once
    by src AND once by dst, one copy per half-step's join key
    (``_Layout``). Small mode broadcasts the scores, so one width-pinned
    copy serves both half-steps.
    """
    layout, nodes, n = _Layout.over_nodes(g.persons.select("id"))
    edges = g.edges if types is None else g.edges.filter(
        F.col("type").isin(list(types))
    )
    edges = edges.select("src", "dst")
    e_src = layout.static(edges, "src")
    e_dst = layout.static(edges, "dst", reuse=e_src)

    def _step(scores: DataFrame, col: str, e: DataFrame,
              join_key: str, out_key: str, out: str) -> DataFrame:
        """One half-iteration: sum quantized scores over edges into
        out_key, then L2-normalize."""
        raw = (
            e.join(layout.side(scores), F.col(join_key) == scores.id)
            .groupBy(F.col(out_key).alias("id"))
            .agg(_nano_sum(_nano(F.col(col))).alias("raw"))
        )
        full = nodes.join(layout.side(raw), "id", "left").select(
            "id", F.coalesce(F.col("raw"), F.lit(0.0)).alias("raw")
        )
        norm = full.groupBy().agg(
            F.sqrt(_nano_sum(_nano(F.col("raw") * F.col("raw")))).alias("nrm")
        )
        return full.crossJoin(F.broadcast(norm)).select(
            "id", (F.col("raw") / F.col("nrm")).alias(out)
        )

    hub = nodes.select("id", F.lit(1.0 / n).alias("hub"))
    auth = None
    for it in range(max_iter):
        # checkpoint auth BEFORE deriving hub from it: hub built on the
        # un-checkpointed auth object would re-execute auth's whole
        # lineage a second time at its own checkpoint
        auth = layout.cut(_step(hub, "hub", e_src, "src", "dst", "auth"),
                          it, max_iter)
        hub = layout.cut(_step(auth, "auth", e_dst, "dst", "src", "hub"),
                         it, max_iter)
    return (
        g.persons.select("id", "name")
        .join(hub, "id")
        .join(auth, "id")
        .select("name", "hub", F.col("auth").alias("authority"))
        .orderBy(F.desc("authority"), F.desc("hub"), F.asc("name"))
    )


def _symmetrize(e: DataFrame) -> DataFrame:
    """The (src, dst) edge list ``e`` unioned with its reverse."""
    return e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _grid_support(
    edges: DataFrame,
    n_edges: int,
    cell_entry_target: int | None = None,
) -> DataFrame:
    """Edge support |N(a) ∩ N(b)| via 2D grid partitioning — the
    large-graph path of ``ktruss_edges``.

    Why not a plain join: attaching both endpoints' neighbor arrays to
    every edge row makes the shuffled row ~(deg(a)+deg(b))·8 B wide;
    the total exchange is Σ_edges(deg(a)+deg(b)) entries — measured
    r07 at a 16×-replicated sf0.1 FRIEND_OF graph (72M edges, deg≈600)
    that is ~700 GB of sort spill, which filled the disk and killed
    the job. Broadcasting the adjacency instead (the small-graph path)
    caps out at executor memory.

    The standard fix from distributed triangle counting (2D / PATRIC-
    style partitioning): hash nodes into B blocks, place edge (a, b)
    in cell (block(a), block(b)), and replicate each node's neighbor
    array to the B cells of its block-row (as the src side) and the B
    cells of its block-column (as the dst side). Each cell then holds
    the FULL arrays of exactly two blocks:

    - per-task memory: 2·ENTRIES/B (ENTRIES = 2·|E| symmetric
      adjacency entries) — bounded by ``cell_entry_target`` at any
      graph size, the property neither the broadcast nor the join
      fallback has;
    - exchange per pass: edges once (narrow 16-B rows) + 2·B·|adj|
      replicated adjacency — at the 16× probe graph B=18 ⇒ ~41 GB vs
      the join path's ~700 GB, and the replication is narrow rows
      that hash-partition without sorting;
    - intersection counts are exact integers computed per cell
      (numpy, grouped by src so one vectorized ``searchsorted`` per
      source node covers all its edges) — independent of partitioning,
      so the result is byte-identical to the broadcast path and the
      unrolled DuckDB oracle (pinned by
      tests/test_algorithms.py::test_ktruss_grid_path_parity).

    B grows as ceil(2·ENTRIES/target) ≈ |E|/4M: the replication
    exchange 2·B·|adj| therefore scales ~|E|²/target·avg_deg — at
    extreme scale pair it with per-pass block compression or the
    degeneracy-ordered orientation (smaller arrays ⇒ smaller |adj|);
    for truss-shaped graphs the array payload is what bounds it.
    """
    target = (
        cell_entry_target
        if cell_entry_target is not None
        else GRID_CELL_ENTRY_TARGET  # module global: test-overridable
    )
    entries = 2 * n_edges
    b = max(2, -(-2 * entries // target))

    sym = _symmetrize(edges)
    adj = sym.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
    blocks = F.explode(F.sequence(F.lit(0), F.lit(b - 1)))

    def block(col: str):
        return F.pmod(F.xxhash64(F.col(col)), F.lit(b)).cast("int")

    adj_a = adj.select(
        block("src").alias("bi"),
        blocks.alias("bj"),
        F.col("src").alias("node"),
        "nbrs",
        F.lit("a").alias("side"),
    )
    adj_b = adj.select(
        blocks.alias("bi"),
        block("src").alias("bj"),
        F.col("src").alias("node"),
        "nbrs",
        F.lit("b").alias("side"),
    )
    adj_rep = adj_a.unionByName(adj_b)
    edge_cells = edges.select(
        "src", "dst", block("src").alias("bi"), block("dst").alias("bj")
    )

    def cell_support(epdf, apdf):
        import numpy as np
        import pandas as pd

        if epdf.empty:
            return pd.DataFrame({"src": [], "dst": [], "support": []}).astype(
                {"src": "int64", "dst": "int64", "support": "int64"}
            )
        na: dict = {}
        nb: dict = {}
        for node, nbrs, side in zip(
            apdf["node"].to_numpy(),
            apdf["nbrs"].to_numpy(),
            apdf["side"].to_numpy(),
        ):
            tgt = na if side == "a" else nb
            tgt[node] = np.sort(np.asarray(nbrs, dtype=np.int64))
        src = epdf["src"].to_numpy()
        dst = epdf["dst"].to_numpy()
        order = np.argsort(src, kind="stable")
        src_s, dst_s = src[order], dst[order]
        support = np.zeros(len(src_s), dtype=np.int64)
        group_starts = np.flatnonzero(
            np.r_[True, src_s[1:] != src_s[:-1]]
        )
        bounds = np.r_[group_starts, len(src_s)]
        for gi in range(len(group_starts)):
            lo, hi = bounds[gi], bounds[gi + 1]
            a_arr = na[src_s[lo]]  # sorted; KeyError = broken invariant
            cats = [nb[d] for d in dst_s[lo:hi]]
            lens = np.fromiter(
                (len(c) for c in cats), dtype=np.int64, count=hi - lo
            )
            cat = np.concatenate(cats)
            idx = np.searchsorted(a_arr, cat)
            # int64, not bool: np.add.reduceat on a bool array keeps
            # bool dtype (saturates at 1 — a logical-or, not a count)
            hits = (
                a_arr[np.minimum(idx, len(a_arr) - 1)] == cat
            ).astype(np.int64)
            seg_starts = np.r_[0, np.cumsum(lens)[:-1]]
            support[lo:hi] = np.add.reduceat(hits, seg_starts)
        return pd.DataFrame(
            {"src": src_s, "dst": dst_s, "support": support}
        )

    return (
        edge_cells.groupBy("bi", "bj")
        .cogroup(adj_rep.groupBy("bi", "bj"))
        .applyInPandas(
            lambda e, a: cell_support(e, a),
            "src long, dst long, support long",
        )
    )


def _oriented_triangles(edges: DataFrame, small: bool) -> DataFrame:
    """One row (u, v, w) per triangle, enumerated exactly once under
    the (degree, id) total order — the core of ``ktruss_edges``'s
    oriented support kernel (_oriented_support).

    Orient every edge from its lower-(degree, id) endpoint (the
    standard degeneracy-order surrogate: Cohen, "Graph Twiddling in a
    MapReduce World"; Latapy's compact-forward). Each triangle
    {u < v < w} in that order appears exactly ONCE as
    w ∈ N⁺(u) ∩ N⁺(v). Arrays shipped per edge are OUT-neighbor
    arrays, bounded by the orientation (≈ O(√m) on degeneracy-bounded
    graphs; O(1) on stars) instead of full degree — the wedge or
    full-adjacency fan-out Σ deg² becomes Σ outdeg², which is what
    makes hub-heavy graphs tractable (SCALE_PROBE.md r07 hub cells).
    """
    sym = _symmetrize(edges)
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # orient u→v iff (deg(u), u) < (deg(v), v): a total order, so the
    # oriented graph is acyclic and every triangle has one source pair
    da = deg.select(F.col("src").alias("_u"), F.col("deg").alias("dega"))
    db = deg.select(F.col("src").alias("_v"), F.col("deg").alias("degb"))
    if small:
        da, db = F.broadcast(da), F.broadcast(db)
    lo_first = edges.join(da, edges.src == F.col("_u")).join(
        db, edges.dst == F.col("_v")
    )
    fwd = F.struct(
        F.col("dega").alias("d"), F.col("src").alias("n")
    ) < F.struct(F.col("degb").alias("d"), F.col("dst").alias("n"))
    oriented = lo_first.select(
        F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("v"),
    )
    out_adj = oriented.groupBy(F.col("u").alias("node")).agg(
        F.sort_array(F.collect_list("v")).alias("outs")
    )
    oa = out_adj.select(F.col("node").alias("_a"), F.col("outs").alias("oa"))
    ob = out_adj.select(F.col("node").alias("_b"), F.col("outs").alias("ob"))
    if small:
        oa, ob = F.broadcast(oa), F.broadcast(ob)
    # left joins: an oriented edge whose endpoint has no out-neighbors
    # (e.g. the top-ranked node) still closes no triangle but must not
    # vanish before the scatter
    tri_w = (
        oriented.join(oa, oriented.u == F.col("_a"), "left")
        .join(ob, oriented.v == F.col("_b"), "left")
        .select(
            "u",
            "v",
            F.explode(
                F.array_intersect(
                    F.coalesce(F.col("oa"), F.array().cast("array<long>")),
                    F.coalesce(F.col("ob"), F.array().cast("array<long>")),
                )
            ).alias("w"),
        )
    )
    return tri_w


def _oriented_support(edges: DataFrame, small: bool) -> DataFrame:
    """Edge support via degree-ordered triangle enumeration — the
    hub-graph route of ``ktruss_edges``.

    Each triangle from ``_oriented_triangles`` scatters +1 support to
    its three edges. Cost trade vs the edge-iterator paths
    (_support/_grid_support): bounded OUT-neighbor arrays instead of
    full degree, but the scatter is a 3·|triangles| narrow-row
    exchange, which on dense clique graphs is exactly the
    triangle-sized shuffle the edge-iterator form exists to avoid
    (995 s measured r05). Pick oriented when hubs dominate and
    triangles are sparse; adjacency/grid when triangles are dense.
    Counts are exact integers — all three routes are byte-identical
    (pinned by tests/test_algorithms.py and the hypothesis parity
    property).
    """
    tri_w = _oriented_triangles(edges, small)
    # scatter each triangle once to its three ID-canonical edges
    tri_edges = tri_w.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("u", "v").alias("src"),
                    F.greatest("u", "v").alias("dst"),
                ),
                F.struct(
                    F.least("u", "w").alias("src"),
                    F.greatest("u", "w").alias("dst"),
                ),
                F.struct(
                    F.least("v", "w").alias("src"),
                    F.greatest("v", "w").alias("dst"),
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    counts = tri_edges.groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("_sup")
    )
    return edges.join(counts, ["src", "dst"], "left").select(
        "src",
        "dst",
        F.coalesce(F.col("_sup"), F.lit(0)).cast("int").alias("support"),
    )


def _degree_skew_probe(
    e: DataFrame, small: bool
) -> tuple[int, int, int]:
    """(n_nodes, Σ deg², Σ outdeg²) of the undirected edge list ``e``
    — ``ktruss_edges``'s routing figures (one linear pass
    over the checkpointed edges + a node-sized aggregation, dwarfed by
    a single support round's Σ deg² work at any graph size).

    Σ deg² estimates the edge-iterator/grid kernels' per-pass probe
    cost; Σ outdeg² under the (degree, id) orientation estimates the
    oriented kernel's — its out-arrays are orientation-bounded and its
    triangle scatter is ≤ Σ outdeg² (each oriented wedge closes at
    most one triangle). Computed exactly rather than from a node
    sample: sampled degrees misestimate exactly the hubs the probe
    exists to detect, and the exact pass is one narrow shuffle.
    """
    sym = _symmetrize(e)
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    row = deg.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("deg") * F.col("deg")).alias("d2"),
    ).collect()[0]
    n_nodes, sum_deg2 = int(row["n"] or 0), int(row["d2"] or 0)
    da = deg.select(F.col("src").alias("_u"), F.col("deg").alias("degu"))
    db = deg.select(F.col("src").alias("_v"), F.col("deg").alias("degv"))
    if small:
        da, db = F.broadcast(da), F.broadcast(db)
    fwd = F.struct(
        F.col("degu").alias("d"), F.col("src").alias("n")
    ) < F.struct(F.col("degv").alias("d"), F.col("dst").alias("n"))
    outdeg = (
        sym.join(da, sym.src == F.col("_u"))
        .join(db, sym.dst == F.col("_v"))
        .filter(fwd)
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("od"))
    )
    od_row = outdeg.agg(
        F.sum(F.col("od") * F.col("od")).alias("od2")
    ).collect()[0]
    return n_nodes, sum_deg2, int(od_row["od2"] or 0)


def ktruss_edges(
    g: GraphModel,
    k: int = 5,
    types: tuple[str, ...] = ("FRIEND_OF",),
    max_rounds: int = 5,
) -> DataFrame:
    """k-truss decomposition: iteratively peel edges with fewer than
    k-2 triangles in the surviving subgraph — the edge-level sibling of
    k-core (kcore_members), keeping only cohesive neighborhoods.

    Per round: EDGE-ITERATOR support counting — support(a, b) =
    |N(a) ∩ N(b)| via per-edge intersection of neighbor arrays
    (Chiba–Nishizeki / the standard edge-iterator family) — all
    integer arithmetic, so the fixed-round result is engine-exact and
    the unrolled DuckDB oracle hash-matches. Fixed ``max_rounds``
    bounds the peel (cascades on clique-ish rule graphs settle in 1-2
    rounds); early exit when a round removes nothing, in which case
    that round's support IS the final subgraph's support and is
    reported without re-enumeration.

    Scale: the r05 wedge-join + corner-unpivot formulation shuffled
    one row PER TRIANGLE PER CORNER — on sf0.1's dense FRIEND_OF
    cliques (~900M triangles) that was a 2.7B-row exchange per pass,
    995 s measured. The edge-iterator form ships each node's neighbor
    array to its edges (two joins of E rows; the adjacency frame
    broadcasts only when BOTH node count ≤ BROADCAST_NODE_LIMIT and
    2·|E| ≤ BROADCAST_ADJ_ENTRY_LIMIT — the payload is edge-bound —
    and routes to the 2D grid kernel otherwise) and
    intersects map-side: per-pass cost is Σ_edges(deg(a)+deg(b)) hash
    probes with NO triangle-sized exchange — 15 s for the same pass.
    Trade-off at 100 TB: rows carry max-degree-sized arrays, so
    extreme hubs want the degeneracy-ordered variant; for truss-shaped
    (cohesive) subgraphs degree is the right bound. Returns surviving
    edges with their final-round support, by name.

    Above the broadcast gate the support kernel switches to 2D grid
    partitioning (_grid_support): per-task memory bounded at
    ~2·ENTRIES/B in expectation under hash-balanced blocks (a node's
    neighbor array is atomic within its block, so a single extreme hub
    with degree approaching GRID_CELL_ENTRY_TARGET blows the budget in
    every cell of its block-row/column — the oriented kernel, whose
    arrays are orientation-bounded, is the escape for such graphs, and
    the router's skew probe sends them there), byte-identical counts.
    The r06-era join fallback (attach both neighbor arrays to every
    edge row) is GONE — measured r07 at 16× sf0.1 it sort-spilled
    ~700 GB of array-widened edge rows and died on disk; see the r07
    SCALE_PROBE.md cells. The broadcast-vs-grid gate is re-evaluated
    each peel round (ADVICE r07): once peeling shrinks the survivor
    set under the gate, later rounds stop paying the grid replication
    exchange.

    Routing reads only exact counts the function computes itself: the
    Σ deg²/Σ outdeg² skew probe (_degree_skew_probe) sends hub-shaped
    graphs to the oriented kernel and everything else to the
    edge-iterator family with the per-round broadcast/grid gate. All
    three routes are byte-identical (parity-pinned in
    tests/test_algorithms.py, which forces each through
    ORIENTED_DEG2_RATIO and BROADCAST_ADJ_ENTRY_LIMIT).
    """
    e = (
        g.edges.filter(F.col("type").isin(list(types)))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .distinct()
        .localCheckpoint()
    )
    min_sup = k - 2
    # e is checkpointed, so count() is cheap
    n_edges = e.count()

    def _is_small(nodes: int, m: int) -> bool:
        # gate the adjacency broadcast on BOTH node count and total
        # adjacency entries (2·|E| after symmetrization): the payload
        # is the neighbor arrays, whose size is edge-bound — on
        # quadratic FRIEND_OF cliques the node gate alone calls a
        # multi-GB adjacency "small" (ADVICE r06).
        return _Layout(nodes).small and 2 * m <= BROADCAST_ADJ_ENTRY_LIMIT

    # Route by measured cost figures, not caller knowledge (VERDICT
    # r07 item 2): Σ deg² (edge-iterator/grid per-pass probe cost) vs
    # Σ outdeg² under the (degree, id) orientation (oriented kernel
    # cost — see _degree_skew_probe). Hub graphs (stars + a small
    # truss core) show ratios ~10³-10⁴ and route oriented;
    # uniform-degree clique graphs sit at ~4 and keep the
    # edge-iterator family, whose broadcast-vs-grid split is
    # re-decided per round below. The probe's exact node count also
    # feeds that gate.
    n_nodes, sum_deg2, sum_od2 = _degree_skew_probe(
        e, _is_small(2 * n_edges, n_edges)
    )
    oriented = sum_deg2 > ORIENTED_DEG2_RATIO * max(sum_od2, 1)

    def _support(edges: DataFrame, m: int) -> DataFrame:
        # Re-evaluate the broadcast gate per round (ADVICE r07): heavy
        # peeling can shrink the survivor set below the gate, and the
        # later rounds (plus the final re-support pass) should then
        # stop paying the grid replication exchange. Surviving node
        # count is bounded by min(initial nodes, 2·m).
        small = _is_small(min(n_nodes, 2 * m), m)
        # Hub-graph path: degree-ordered triangle enumeration (arrays
        # bounded by orientation, scatter 3·|triangles| narrow rows) —
        # see _oriented_support for the trade.
        if oriented:
            return _oriented_support(edges, small)
        # Large graphs: 2D grid partitioning (see _grid_support) — a
        # broadcast would exceed executor memory and the plain join
        # ships (deg(a)+deg(b))-wide rows per edge (~700 GB of sort
        # spill measured at the 16× probe graph, r07).
        if not small:
            return _grid_support(edges, m)
        # symmetric adjacency arrays; intersection SIZE is order-
        # independent, so the unsorted collect_list is deterministic
        sym = _symmetrize(edges)
        adj = sym.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
        na = adj.select(F.col("src").alias("_a"), F.col("nbrs").alias("na"))
        nb = adj.select(F.col("src").alias("_b"), F.col("nbrs").alias("nb"))
        na, nb = F.broadcast(na), F.broadcast(nb)
        return (
            edges.join(na, edges.src == F.col("_a"))
            .join(nb, edges.dst == F.col("_b"))
            .select(
                "src",
                "dst",
                F.size(F.array_intersect("na", "nb")).alias("support"),
            )
        )

    converged_sup = None
    m = n_edges
    for _ in range(max_rounds):
        # _support emits every surviving edge (adjacency covers both
        # endpoints by construction), so no left-join/coalesce needed
        kept = (
            _support(e, m)
            .filter(F.col("support") >= min_sup)
            .localCheckpoint()
        )
        m_new = kept.count()
        done = m_new == m
        e = kept.select("src", "dst")
        m = m_new
        if done:
            # the round removed nothing, so the support it computed IS
            # the support on the final subgraph — reporting from it
            # avoids re-enumerating every triangle a second time
            # (measured r06 at sf0.1: the dense FRIEND_OF cliques hold
            # ~900M triangles per enumeration; the redundant final
            # pass was half the 995 s runtime)
            converged_sup = kept
            break
    # report support measured on the FINAL surviving subgraph — well
    # defined whether or not the peel converged within max_rounds, and
    # exactly what the unrolled oracle computes
    out = (
        converged_sup if converged_sup is not None else _support(e, m)
    ).select("src", "dst", F.col("support").cast("long").alias("support"))
    pa = g.persons.select(F.col("id").alias("src"), F.col("name").alias("a_name"))
    pb = g.persons.select(F.col("id").alias("dst"), F.col("name").alias("b_name"))
    return (
        out.join(pa, "src")
        .join(pb, "dst")
        .select("a_name", "b_name", "support")
        .orderBy("a_name", "b_name")
    )
