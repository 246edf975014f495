"""Per-layer metrics of a traced run: benchmark-side spans joined with
Spark's event log, one metric family per engine module.

Every metric is taken from the workload's own traced loop, or for a
store built only in set-up, from there. A module the workload does not call reads
0 there: no work done."""

from __future__ import annotations

import statistics

from spans import GroupStats, Span

ALGORITHMS = ("pagerank", "connected_components")
SPARK = (
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("executor_cpu_s", "s"),
    ("shuffle_read_mb", "MB"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("gc_s", "s"),
    ("failed_tasks", "count"),
)


def _median(xs, default=0.0) -> float:
    return statistics.median(xs) if xs else default


def _mean(xs, default=0.0) -> float:
    return sum(xs) / len(xs) if xs else default


class Folded:
    def __init__(self, spans: list[Span], groups: dict[str, GroupStats]):
        self.spans = spans
        self.children: dict[int, list[Span]] = {}
        for s in spans:
            self.children.setdefault(s.parent, []).append(s)
        self.groups = groups

    def stats(self, s: Span) -> GroupStats:
        """Spark metrics of a span and everything nested in it."""
        out = GroupStats()
        out.add(self.groups.get(s.group, GroupStats()))
        for c in self.children.get(s.sid, []):
            out.add(self.stats(c))
        return out

    def ops(self, pred) -> list[Span]:
        """Operation spans of the traced loop matching ``pred``."""
        return [
            s
            for s in self.spans
            if s.phase == "loop" and s.name.startswith("op.") and pred(s)
        ]

    def kind(self, *kinds: str) -> list[Span]:
        return self.ops(lambda s: s.name[3:] in kinds)

    def fn(self, prefix: str) -> list[Span]:
        return self.ops(lambda s: s.extra.get("fn", "").startswith(prefix))

    def child(self, op: Span, suffix: str = "") -> Span | None:
        for c in self.children.get(op.sid, []):
            if c.name == op.extra["fn"] + suffix:
                return c
        return None


def per_layer(spans, groups, ctx, untraced_p50: float, traced_p50: float) -> dict:
    f = Folded(spans, groups)
    m: dict[str, tuple[float, str]] = {}

    def wall(ops, scale=1.0):
        return _median([s.wall * scale for s in ops])

    m["session.start_s"] = (ctx.session_start_s, "s")

    # batch builds the store in every pass; app only in its set-up
    builds = [
        s for s in spans if s.name == "graph.store.build_store" and s.phase == "loop"
    ] or [
        s for s in spans if s.name == "graph.store.build_store" and s.phase == "setup"
    ]
    m["graph.store.build_s"] = (wall(builds), "s")
    m["graph.store.build_cpu_s"] = (
        _mean([f.stats(s).executor_cpu_s for s in builds]),
        "s",
    )
    m["graph.store.bytes_written"] = (ctx.store_bytes, "bytes")
    m["graph.store.files"] = (ctx.store_files, "count")

    for q in ("winder", "ego_network", "search", "house_subgraph"):
        m[f"graph.queries.{q}_ms"] = (wall(f.fn(f"graph.queries.{q}"), 1e3), "ms")
    m["graph.queries.link_prediction_s"] = (
        wall(f.fn("graph.queries.link_prediction_scores")),
        "s",
    )
    gq_ops = f.fn("graph.queries.")
    m["graph.queries.jobs_per_op"] = (_mean([f.stats(s).jobs for s in gq_ops]), "count")
    m["graph.queries.tasks_per_op"] = (_mean([f.stats(s).tasks for s in gq_ops]), "count")

    cy = f.fn("cypher.compiler.run_cypher")
    misses = [f.child(s) for s in cy if not s.extra.get("hit")]
    execs = [f.child(s, ":exec") for s in cy]
    m["cypher.compiler.compile_ms"] = (wall([c for c in misses if c], 1e3), "ms")
    m["cypher.compiler.exec_ms"] = (wall([c for c in execs if c], 1e3), "ms")
    hits = sum(1 for s in cy if s.extra.get("hit"))
    m["cypher.compiler.plan_cache_hit_ratio"] = (hits / len(cy) if cy else 0.0, "ratio")
    m["cypher.compiler.run_cypher_calls"] = (len(cy), "count")

    m["cypher.writes.merge_node_ms"] = (wall(f.kind("merge_node"), 1e3), "ms")
    m["cypher.writes.merge_edge_ms"] = (wall(f.kind("merge_edge"), 1e3), "ms")
    m["cypher.writes.read_after_write_ms"] = (
        wall(f.kind("read_winder", "read_ego"), 1e3),
        "ms",
    )
    writes = f.fn("cypher.writes.")
    m["cypher.writes.checkpoint_mb"] = (
        _mean([s.extra["stored_mb"] for s in writes if s.extra.get("stored_mb") is not None]),
        "MB",
    )
    m["cypher.writes.heap_after_gc_mb"] = (ctx.heap_after_gc_mb, "MB")

    algo = []
    for a in ALGORITHMS:
        ops = f.kind(a)
        algo += ops
        m[f"graph.algorithms.{a}_s"] = (wall(ops), "s")
        m[f"graph.algorithms.{a}_cpu_s"] = (
            _mean([f.stats(s).executor_cpu_s for s in ops]),
            "s",
        )
    algo_stats = [f.stats(s) for s in algo]
    m["graph.algorithms.stages"] = (_mean([g.stages for g in algo_stats]), "count")
    m["graph.algorithms.min_stage_tasks"] = (
        min((g.min_stage_tasks for g in algo_stats if g.min_stage_tasks is not None), default=0),
        "count",
    )
    m["graph.algorithms.shuffle_mb"] = (
        _mean([g.shuffle_read_mb + g.shuffle_write_mb for g in algo_stats]),
        "MB",
    )

    m["graph.features.feature_matrix_s"] = (wall(f.kind("feature_matrix")), "s")

    er = []
    for k in ("fuzzy_d1", "fuzzy_d2"):
        ops = f.kind(k)
        er += ops
        m[f"operators.er.{k}_s"] = (wall(ops), "s")
        m[f"operators.er.{k}_cpu_s"] = (_mean([f.stats(s).executor_cpu_s for s in ops]), "s")
    m["operators.er.shuffle_mb"] = (
        _mean([f.stats(s).shuffle_read_mb + f.stats(s).shuffle_write_mb for s in er]),
        "MB",
    )
    m["pipeline.dedup.minhash_s"] = (wall(f.kind("minhash")), "s")
    m["pipeline.similarity.knn_s"] = (wall(f.kind("knn")), "s")

    loop = [s for s in spans if s.phase == "loop" and s.name.startswith("op.")]
    loop_stats = [f.stats(s) for s in loop]
    for key, unit in SPARK:
        m[f"spark.{key}"] = (_mean([getattr(g, key) for g in loop_stats]), unit)

    m["trace.loop_ops"] = (len(loop), "count")
    m["trace.overhead_pct"] = (100.0 * (traced_p50 - untraced_p50) / untraced_p50, "%")
    mid = sorted(loop, key=lambda s: s.wall)[len(loop) // 2]
    covered = sum(c.wall for c in f.children.get(mid.sid, []))
    m["trace.span_coverage"] = (covered / mid.wall, "ratio")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}
