"""Benchmark entry point.

    python3 perfbench/run.py --workload ann --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  It generates the workload's inputs from
the seed under ``.perfbench/`` in the checkout, starts a ``local[4]`` Spark
session, runs the workload, checks every output and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` prints the
end-to-end metrics of BENCHMARK.json, ``--trace 1`` the per-layer ones (and
writes the run's spans to ``.perfbench/spans-<workload>-<seed>.jsonl``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
DRIVER_MEM = "2g"


def _isolate(workdir: str) -> None:
    """Keep every temporary file of this run (Python, the JVM and Spark's
    scratch space) inside the checkout."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(
        [
            "spark.ui.showConsoleProgress=false",
            f"spark.local.dir={tmp}",
            # -XX:-UsePerfData: no hsperfdata file in the system /tmp
            f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            f"spark.sql.warehouse.dir={os.path.join(workdir, 'warehouse')}",
        ]
    )


def _stop(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=60)
        except Exception:  # subprocess.TimeoutExpired: escalate
            proc.kill()
            proc.wait()


def _declared(trace: bool) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "duckdb_annsearch_spark")):
        print("perfbench: no duckdb_annsearch_spark package next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    from perfbench import metrics, workloads
    from perfbench.spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} "
              f"(one of {sorted(workloads.WORKLOADS)})", file=sys.stderr)
        return 2
    declared = _declared(bool(args.trace))

    outdir = os.path.join(ROOT, ".perfbench")
    workdir = os.path.join(outdir, f"{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(workdir)
    spark = None
    try:
        import __spark_entry__  # noqa: F401  (before selfcheck: import order)
        from duckdb_annsearch_spark.session import get_spark

        kernel_us = metrics.kernel_us()  # before the JVM competes for cores
        print(f"perfbench: kernel {kernel_us:.1f} us", file=sys.stderr)
        t0 = time.perf_counter()
        spark = get_spark("perfbench", CPUS)
        session_s = time.perf_counter() - t0
        tracer = None
        if args.trace:
            tracer = Tracer()
            tracer.install()
        ctx = workloads.Ctx(
            spark, args.seed, args.seconds,
            os.path.join(workdir, "data"), tracer,
        )
        os.makedirs(ctx.datadir)
        res = workloads.WORKLOADS[args.workload](ctx)
        if args.trace:
            jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
            values = metrics.per_layer(ctx, res, session_s, metrics.jvm_peak_rss_mb(jvm_pid))
            values["index.kernels.pairwise_us"] = kernel_us
            tracer.dump(os.path.join(outdir, f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            values = metrics.end_to_end(ctx.records, res, metrics.driver_peak_rss_mb())
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    if set(values) != set(declared):
        print(f"perfbench: metrics {sorted(set(values) ^ set(declared))} are "
              "not both printed and declared in BENCHMARK.json", file=sys.stderr)
        return 1
    kinds: dict[str, list[float]] = {}
    for r in ctx.records + ctx.builds:
        kinds.setdefault(r.kind, []).append(r.wall_ms)
    for k, walls in kinds.items():
        print(f"perfbench: {k}: n={len(walls)} median {metrics.med(walls):.0f} ms "
              f"({', '.join(f'{w:.0f}' for w in walls[:8])})", file=sys.stderr)
    for line in ctx.failures[:20]:
        print(f"perfbench: FAILED {line}", file=sys.stderr)
    print(json.dumps({
        "correct": not ctx.failed,
        "attempted": ctx.attempted,
        "failed": len(ctx.failed),
        "metrics": {k: {"value": float(values[k]), "unit": declared[k]} for k in sorted(values)},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
