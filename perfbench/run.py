"""Benchmark launcher: runs one seeded workload and prints one JSON line.

    python3 perfbench/run.py --workload app --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout. It pins the run environment itself
(core count, driver memory, private cache, warehouse and scratch
directories under ``.perfbench_run/``, removed at exit), generates the
inputs from ``--seed``, sets up, measures whole decks of requests (app)
or whole passes over a job list (batch) for ``--seconds``, then checks
every output against DuckDB.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns on
Spark's event log, runs the loop untraced, traced and untraced again,
and prints the per-layer metrics. The last stdout line is the result; the
line before it carries details (latency tail with its percentile and
sample count, throughput, pass count, failed ratio, set-up phases).
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Fits a 4-core, 15 GB machine with room for its other tenants; the
# inputs are ~sf0.01, far below it.
DRIVER_MEM = "4g"
TAIL_BEYOND = 10  # samples that must lie beyond the reported tail


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("app", "batch"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def pin_environment(work: str, trace: bool) -> None:
    """Everything the engine reads from the environment, set before the
    engine or the JVM starts."""
    dirs = {k: os.path.join(work, k) for k in ("graph", "warehouse", "local", "events")}
    for d in dirs.values():
        os.makedirs(d)
    submit = [
        "--conf", f"spark.sql.warehouse.dir={dirs['warehouse']}",
        "--conf", f"spark.driver.extraJavaOptions=-Dderby.system.home={work}",
    ]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{dirs['events']}",
            # one plain JSON-lines file (Spark 4 rolls and compresses by default)
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_GRAPH_CACHE=dirs["graph"],
        SPARK_GRAFT_WAREHOUSE=dirs["warehouse"],
        SPARK_GRAFT_IVF_INDEX=os.path.join(work, "ivf"),
        SPARK_LOCAL_DIRS=dirs["local"],
        PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
    )


class Ctx:
    """What the workloads share: the session, the inputs, the tracer."""

    def __init__(self, seed, spark, data, work, tracer, session_start_s):
        import numpy as np

        import workloads

        self.seed, self.spark, self.data, self.work = seed, spark, data, work
        self.tracer = tracer
        self.session_start_s = session_start_s
        self.names = workloads.load_names(data)
        self.houses = [f"NATION_{k}" for k in range(25)]
        rng = np.random.default_rng(seed)
        self.hot_lists = [
            [str(x) for x in rng.choice(self.names, size=3, replace=False)]
            for _ in range(workloads.HOT)
        ]
        self.store_bytes = self.store_files = 0
        self.build_s = 0.0
        self.heap_after_gc_mb = 0.0
        self._graph = None

    def graph(self):
        """The stored graph, built on first use into this run's private
        cache (so never reused from another run or commit)."""
        from neo4j_database_spark.graph import store

        if self._graph is None:
            t = time.perf_counter()
            with self.tracer.span("graph.store.build_store"):
                self._graph = store.load_graph(self.spark, self.data)
            self.build_s = time.perf_counter() - t
            self.note_store(os.environ["SPARK_GRAFT_GRAPH_CACHE"])
        return self._graph

    def note_store(self, path: str) -> None:
        sizes = [
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        ]
        self.store_bytes, self.store_files = sum(sizes), len(sizes)

    def duckdb(self):
        import oracle

        return oracle.connect(self.data)

    def stored_bytes(self) -> int:
        """Bytes the block manager holds for cached and checkpointed
        RDDs."""
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)

    def measure_heap_after_gc(self) -> None:
        jvm = self.spark.sparkContext._jvm
        jvm.java.lang.System.gc()
        rt = jvm.java.lang.Runtime.getRuntime()
        self.heap_after_gc_mb = (rt.totalMemory() - rt.freeMemory()) / 2**20


def measure(ctx, wl, seconds: float) -> dict:
    """Whole passes for ``seconds``: app runs decks until the deadline
    has passed; batch starts no pass that the median pass so far says
    would overrun (at least one)."""
    import spans
    from workloads import execute

    done, passes = [], []
    cpu0 = spans.tree_cpu_s()
    t0 = time.perf_counter()
    while True:
        p0 = time.perf_counter()
        for op in wl.pass_ops():
            done.append(execute(ctx, op, len(done)))
        passes.append(time.perf_counter() - p0)
        elapsed = time.perf_counter() - t0
        if elapsed >= seconds or (wl.batch and elapsed + statistics.median(passes) > seconds):
            break
    wall = time.perf_counter() - t0
    cpu = spans.tree_cpu_s() - cpu0
    return {"done": done, "passes": passes, "wall": wall, "cpu": cpu}


def tail(lat: list[float]) -> dict:
    """The highest percentile with at least TAIL_BEYOND samples beyond
    it, or None when there are too few samples for one."""
    import numpy as np

    n = len(lat)
    if n < 2 * TAIL_BEYOND:
        return {"ms": None, "percentile": None, "n": n}
    p = math.floor(100 * (n - TAIL_BEYOND) / n)
    return {"ms": 1e3 * float(np.percentile(lat, p)), "percentile": p, "n": n}


def hd_median(xs: list[float]) -> float:
    """Harrell-Davis estimate of the median: a Beta((n+1)/2, (n+1)/2)
    weighted mean of all order statistics. A deck mixes fast and slow
    operation kinds, and the plain median jumps between the two
    clusters from run to run; this estimate moves smoothly."""
    import numpy as np

    x = np.sort(np.asarray(xs, dtype=float))
    n = len(x)
    a = (n + 1) / 2
    grid = np.linspace(0.0, 1.0, 20001)
    pdf = grid ** (a - 1) * (1 - grid) ** (a - 1)
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    cdf /= cdf[-1]
    weights = np.diff(np.interp(np.arange(n + 1) / n, grid, cdf))
    return float(weights @ x)


def end_to_end(setup_s: float, batch: bool, r: dict) -> tuple[dict, dict]:
    """An operation is a request or statement (app) or a whole pass
    over the job list (batch); a pass is a deck (app) or the job list
    (batch)."""
    lat = r["passes"] if batch else [d.seconds for d in r["done"]]
    m = {
        "setup_s": (setup_s, "s"),
        "latency_p50_ms": (1e3 * hd_median(lat), "ms"),
        "pass_s": (statistics.median(r["passes"]), "s"),
        "cpu_s_per_op": (r["cpu"] / len(lat), "s"),
    }
    detail = {
        "latency_tail": tail(lat),
        # one client in a closed loop: ops per pass / pass time, so
        # it adds nothing to pass_s as a metric of its own
        "throughput_ops": {"value": len(lat) / r["wall"], "unit": "op/s"},
        "passes": len(r["passes"]),
        "ops_ms": [(d.op.kind, round(1e3 * d.seconds)) for d in r["done"]],
    }
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}, detail


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it started) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(args, work: str) -> dict:
    pin_environment(work, bool(args.trace))
    sys.path.insert(0, ROOT)
    # the engine first: a checkout without it fails here, in seconds
    import neo4j_database_spark  # noqa: F401
    from neo4j_database_spark.session import get_spark

    import datagen
    import layers
    import spans
    import workloads

    data = os.path.join(work, "data")
    datagen.generate(data, args.seed, workloads.SIZES)
    t = time.perf_counter()
    spark = get_spark("perfbench")
    session_start_s = time.perf_counter() - t
    try:
        tracer = spans.Tracer(spark.sparkContext, bool(args.trace))
        tracer.phase = "setup"
        ctx = Ctx(args.seed, spark, data, work, tracer, session_start_s)
        wl = workloads.WORKLOADS[args.workload](ctx)
        t = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t
        wl.warm_up()
        setup_s = time.perf_counter() - T0
        warm_up_s = time.perf_counter() - t - prepare_s

        tracer.enabled = False
        first = measure(ctx, wl, args.seconds)
        runs = [first]
        if args.trace:
            # untraced, traced, untraced: the JVM still speeds up from
            # loop to loop, so the traced loop is compared with the
            # mean of the two around it
            tracer.enabled, tracer.phase = True, "loop"
            runs.append(measure(ctx, wl, args.seconds))
            if any(d.stored_mb is not None for d in runs[-1]["done"]):
                ctx.measure_heap_after_gc()
            tracer.enabled = False
            runs.append(measure(ctx, wl, args.seconds))
        tracer.phase = "check"
        t = time.perf_counter()
        done = [d for r in runs for d in r["done"]]
        attempted = len(done) + len(wl.warm)
        failed = wl.check(done)
        check_s = time.perf_counter() - t
    finally:
        stop_spark(spark)

    if wl.batch:
        etl_s = statistics.median(
            d.seconds for d in first["done"] if d.op.kind == "build_store"
        )
    else:
        etl_s = ctx.build_s
    if args.trace:
        groups = spans.fold_event_log(os.path.join(work, "events"))
        p50 = [statistics.median(d.seconds for d in r["done"]) for r in runs]
        metrics = layers.per_layer(tracer.spans, groups, ctx, (p50[0] + p50[2]) / 2, p50[1])
        detail = {}
    else:
        metrics, detail = end_to_end(setup_s, wl.batch, first)
    detail.update(
        attempted=attempted,
        failed=failed,
        failed_ratio={"value": failed / attempted, "unit": "ratio"},
        session_start_s=round(session_start_s, 3),
        prepare_s=round(prepare_s, 3),
        warm_up_s=round(warm_up_s, 3),
        etl_s=round(etl_s, 3),
        check_s=round(check_s, 3),
    )
    for d in done:
        if d.error:
            detail.setdefault("errors", []).append(f"{d.op.kind}: {d.error}")
    print(json.dumps({"detail": detail}))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def main() -> None:
    args = parse_args()
    work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))


if __name__ == "__main__":
    main()
