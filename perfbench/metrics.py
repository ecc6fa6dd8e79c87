"""Turn a workload's operation records into the metrics the run prints.

End-to-end metrics come from a ``--trace 0`` run.  Per-layer metrics come
from a ``--trace 1`` run: its traced calls give spans, per-phase Spark job
groups and Spark's query-planning tracker; its untraced calls give the call
walls.  A layer the workload does not exercise reads 0.
"""

from __future__ import annotations

import resource
import statistics
import time

from perfbench.spans import LAYERS, OpRecord, SparkPhase


def med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def driver_peak_rss_mb() -> float:
    """High-water resident set of the driver (Python) process."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def jvm_peak_rss_mb(jvm_pid: int) -> float:
    """High-water resident set of the JVM.  It follows the garbage
    collector's heap sizing more than the engine's needs (it spread 22%
    across seeds of one build), so it is a per-layer number."""
    return _vm_hwm_kb(jvm_pid) / 1024.0


def kernel_us() -> float:
    """The engine's distance kernel on a fixed shape (1 query x 4096 x 128,
    L2), best of 5 rounds of 50 calls: the L0 layer, and a sentinel for
    the host's speed during the run (this host's speed swings between
    runs)."""
    import numpy as np

    from duckdb_annsearch_spark.index import kernels

    rng = np.random.default_rng(0)
    x = rng.standard_normal((4096, 128), dtype=np.float32)
    q = rng.standard_normal((1, 128), dtype=np.float32)
    kernels.pairwise_distances(q, x, "l2")
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        for _ in range(50):
            kernels.pairwise_distances(q, x, "l2")
        best = min(best, (time.perf_counter() - t0) / 50)
    return best * 1e6


def call_ms(records: list[OpRecord], kinds: list[str]) -> float:
    """Mean over the workload's call kinds of each kind's median wall.
    Kinds differ several-fold in cost, so a pooled median would jump
    between kinds; this summary weighs each kind once."""
    walls = {k: [r.wall_ms for r in records if r.kind == k and not r.traced] for k in kinds}
    return mean(med(w) for w in walls.values() if w)


def per_call(records: list[OpRecord], kinds: list[str], field: str) -> float:
    """Mean over the call kinds of each kind's median Spark ``field``
    (jobs, tasks) per call, construct and execute phases together."""
    counts = {k: [getattr(_total(r), field) for r in records if r.kind == k] for k in kinds}
    return mean(med(c) for c in counts.values() if c)


def end_to_end(records: list[OpRecord], res: dict, rss_mb: float) -> dict[str, float]:
    """Only measures that the host's speed swings do not move: call walls
    spread 12-27% across seeds of one build on a 4-core host (the same
    fixed kernel read 29-59 us between runs), reaching past the 0.25 a
    bound may be at most, so call walls are per-layer numbers and the gated
    per-call cost is the Spark work each call submits."""
    return {
        "setup_s": res["setup_s"],
        "jobs_per_call": per_call(records, res["kinds"], "jobs"),
        "tasks_per_call": per_call(records, res["kinds"], "tasks"),
        "quality": res["quality"],
        "peak_rss_mb": rss_mb,
    }


def _total(r: OpRecord) -> SparkPhase:
    c, x = r.construct_spark, r.execute_spark
    return SparkPhase(
        *(getattr(c, f) + getattr(x, f) for f in SparkPhase.__dataclass_fields__)
    )


def per_layer(ctx, res: dict, session_s: float, jvm_rss_mb: float) -> dict[str, float]:
    tr = ctx.tracer
    traced = [r for r in ctx.records if r.traced]

    def of(*kinds):
        return [r for r in traced if r.kind in kinds]

    searches = of("search.flat", "search.ivf", "search.sq8", "search.graph")
    m: dict[str, float] = {
        "engine.ann_search.construct_ms": med(r.construct_ms for r in searches),
        "engine.ann_search.plan_ms": med(r.plan_ms for r in searches),
        "engine.ann_search.execute_ms": med(r.execute_ms for r in searches),
        "engine.ann_search.jobs": med(_total(r).jobs for r in searches),
        "engine.ann_search.tasks": med(_total(r).tasks for r in searches),
    }
    for idx in ("flat", "ivf", "sq8", "graph"):
        m[f"index.{idx}.search_p50_ms"] = med(r.wall_ms for r in of(f"search.{idx}"))
    workload_ops = [r for r in traced if r.kind in res["kinds"]]
    m["spark.stages"] = med(_total(r).stages for r in workload_ops)
    m["spark.executor_run_ms"] = med(_total(r).executor_run_ms for r in workload_ops)
    m["spark.shuffle_write_bytes"] = mean(_total(r).shuffle_write_bytes for r in workload_ops)
    m["spark.spill_bytes"] = mean(_total(r).spill_bytes for r in workload_ops)
    m["spark.gc_ms"] = mean(_total(r).gc_ms for r in workload_ops)

    sql = of("sql")
    m["engine.sql.construct_ms"] = med(r.construct_ms for r in sql)
    m["engine.sql.execute_ms"] = med(r.execute_ms for r in sql)
    m["plans.match_topk_sql_ms"] = med(tr.span_ms(r.op, ".match_topk_sql") for r in sql)
    local = of("local")
    m["engine.local.construct_ms"] = med(r.construct_ms for r in local)
    m["engine.local.execute_ms"] = med(r.execute_ms for r in local)
    m["index.kernels.local_topk_ms"] = med(tr.span_ms(r.op, "kernels.local_topk") for r in local)
    batch = [r for r in traced if r.kind.startswith("batch.")]
    m["engine.ann_search_batch.construct_ms"] = med(r.construct_ms for r in batch)
    m["engine.ann_search_batch.execute_ms"] = med(r.execute_ms for r in batch)
    m["engine.ann_search_batch.jobs"] = med(_total(r).jobs for r in batch)

    builds = [b for b in ctx.builds if b.traced]
    for idx in ("flat", "ivf", "sq8"):
        m[f"engine.create_index.{idx}_s"] = med(
            b.wall_ms / 1e3 for b in builds if b.kind == f"build.{idx}"
        )
    m["engine.streaming_build_s"] = med(b.wall_ms / 1e3 for b in builds if b.kind == "build.graph")
    per_setup = [builds[i:i + 4] for i in range(0, len(builds), 4)]
    m["build.jobs"] = med(sum(_total(b).jobs for b in s) for s in per_setup)
    m["build.shuffle_write_bytes"] = med(
        sum(_total(b).shuffle_write_bytes for b in s) for s in per_setup
    )
    m["session.get_spark_s"] = session_s
    m["jvm.peak_rss_mb"] = jvm_rss_mb

    ins, dels = of("insert"), of("delete")
    m["engine.insert_ms"] = med(r.wall_ms for r in ins)
    m["engine.delete_ms"] = med(r.wall_ms for r in dels)
    m["engine.vacuum_s"] = med(r.wall_ms / 1e3 for r in of("vacuum"))
    m["catalog.add_delta_ms"] = med(tr.span_ms(r.op, "Catalog.add_delta") for r in ins)
    m["catalog.add_tombstones_ms"] = med(tr.span_ms(r.op, "Catalog.add_tombstones") for r in dels)
    m["catalog.delta_files"] = float(ctx.facts.get("delta_files", 0))
    m["catalog.bytes_per_vector_byte"] = float(ctx.facts.get("bytes_per_vector_byte", 0.0))
    fresh = of(*(f"fresh_search.{i}" for i in ("flat", "ivf", "sq8", "graph")))
    m["engine.ann_search.fresh_execute_ms"] = med(r.execute_ms for r in fresh)
    m["engine.local.fresh_construct_ms"] = med(r.construct_ms for r in of("fresh_local"))

    for op in ("minhash_signatures", "simhash", "dedup_fuzzy", "dedup_against"):
        calls = of(op)
        m[f"pipeline.dedup.{op}.construct_ms"] = med(r.construct_ms for r in calls)
        m[f"pipeline.dedup.{op}.execute_ms"] = med(r.execute_ms for r in calls)
        if op in ("dedup_fuzzy", "dedup_against"):
            m[f"pipeline.dedup.{op}.eager_jobs"] = med(r.construct_spark.jobs for r in calls)
    m["pipeline.dedup.verified_per_candidate"] = float(
        ctx.facts.get("verified_per_candidate", 0.0)
    )

    n_ops = len(traced) + len(builds)
    self_ms = tr.self_times()
    for layer in ["bench"] + LAYERS:
        m[f"selftime.{layer}_ms"] = self_ms.get(layer, 0.0) / max(n_ops, 1)
    m["trace.spans_per_op"] = len(tr.spans) / max(n_ops, 1)
    m["trace.overhead_ms"] = _overhead_ms(ctx.records, res["kinds"])
    m["wall.call_ms"] = call_ms(ctx.records, res["kinds"])
    m["wall.items_per_s"] = res["items_per_s"]
    return m


def _overhead_ms(records: list[OpRecord], kinds: list[str]) -> float:
    """Traced minus untraced median wall, averaged over the call kinds
    that ran both ways in the traced run."""
    deltas = []
    for k in kinds:
        on = [r.wall_ms for r in records if r.kind == k and r.traced]
        off = [r.wall_ms for r in records if r.kind == k and not r.traced]
        if on and off:
            deltas.append(med(on) - med(off))
    return mean(deltas)
