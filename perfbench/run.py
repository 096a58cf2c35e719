#!/usr/bin/env python3
"""Repo benchmark: one workload per run, one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload medallion_daily --seed 1 --seconds 15 --trace 0

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps each
layer's public functions in spans and reports the per-layer metrics
instead.  ``--out FILE`` also writes the run's detail record (latency
percentiles, output checks, span structure) as JSON; ``diff.py`` compares
two such records.  See ``perfbench/README.md``.

Everything the run creates lives in ``.perfbench_work/`` under the
repository root and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import metrics  # noqa: E402

WORKLOADS = ("medallion_daily", "lake_oltp", "query_mix")
END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "write_p50_s": "s",
    "write_tail_s": "s",
    "read_p50_s": "s",
    "read_tail_s": "s",
    "peak_rss_mb": "MB",
}
LAYERS = (
    "session",
    "pipeline.runner",
    "pipeline.bronze",
    "pipeline.silver",
    "pipeline.gold",
    "operators.merge",
    "catalog",
    "lake.table",
    "plans.sql",
    "plans.llm",
    "plans.streaming",
    "plans.lake",
)
LAKE_METHODS = ("upsert", "delete_keys", "read", "changes", "compact", "vacuum")
# per-layer metrics that are not span totals
EXTRA_PER_LAYER = {
    "operators.merge.rewrite_ratio": "ratio",
    "lake.table.touched_bucket_ratio": "ratio",
    "lake.table.residue_dirs": "count",
    "maint_s": "s",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "error_rate": "ratio",
    "trace.run_s": "s",
    "trace.overhead_s": "s",
}
SPAN_UNITS = {
    "self_s": "s",
    "count": "count",
    "jobs": "count",
    "tasks": "count",
    "executor_cpu_s": "s",
    "shuffle_write_bytes": "bytes",
    "input_bytes": "bytes",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{layer}.{u}": unit for layer in LAYERS for u, unit in SPAN_UNITS.items()}
    for m in LAKE_METHODS:
        for u in ("self_s", "count", "jobs"):
            units[f"lake.table.{m}.{u}"] = SPAN_UNITS[u]
    units.update(EXTRA_PER_LAYER)
    return units


class Context:
    """What a workload sees: the session, its tracer, its directories and
    the op log the metrics are computed from."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.lake = os.path.join(work, "lake")
        self.inputs = os.path.join(work, "inputs")
        self.seed = seed
        self.root = ROOT
        self.seconds = seconds
        self.reads: list[float] = []
        self.writes: list[float] = []
        self.maint_s = 0.0
        self.attempted = 0
        self.errors: list[str] = []
        self.input_bytes = 0
        for d in (self.lake, self.inputs):
            os.makedirs(d, exist_ok=True)

    def op(self, kind: str, fn, *args, **kwargs):
        """Run one timed op of ``kind`` (read, write or maint); a raised
        error is counted as a failed op and returns None."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = fn(*args, **kwargs)
        except Exception as exc:  # noqa: BLE001 — reported as error_rate
            self.errors.append(f"{kind}: {type(exc).__name__}: {str(exc)[:300]}")
            return None
        dt = time.perf_counter() - t0
        if kind == "maint":
            self.maint_s += dt
        else:
            (self.reads if kind == "read" else self.writes).append(dt)
        return result


def _spark_env(work: str) -> None:
    """Keep every temp file of Spark and of the package inside ``work``."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "scratch"), os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["NDL_SCRATCH_DIR"] = os.path.join(work, "scratch")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")


def start_session(work: str):
    from nasa_asteroid_data_lakehouse_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata file in the system temp dir.  -Xmn fixes the
            # young generation: G1 sizes it from measured pause times, and
            # that moved peak_rss_mb by up to 50% between runs
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData -Xmn512m"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def run(args) -> tuple[dict, dict]:
    import importlib

    work_base = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work_base, ignore_errors=True)  # leftovers of a killed run
    work = os.path.join(work_base, args.workload)
    os.makedirs(work)
    _spark_env(work)
    try:
        import nasa_asteroid_data_lakehouse_spark  # noqa: F401
    except ImportError as exc:
        shutil.rmtree(work_base, ignore_errors=True)
        raise SystemExit(f"perfbench: the package is not importable from {ROOT}: {exc}")
    from spans import NullTracer, Tracer

    workload = importlib.import_module(f"wl_{args.workload}")
    spark = None
    try:
        t_setup = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t_setup
        ctx = Context(spark, NullTracer(), work, args.seed, args.seconds)
        state = workload.setup(ctx)
        # setup = interpreter start + imports + session + inputs + seeding
        setup_s = time.perf_counter() - T_PROCESS
        if args.trace:
            # spans cover the timed phase only
            ctx.tracer = tracer = Tracer(spark)
            workload.instrument(ctx)
        before = metrics.file_sizes(ctx.lake)
        t0 = time.perf_counter()
        workload.timed(ctx, state)
        run_s = time.perf_counter() - t0
        peak_rss = metrics.tree_peak_rss_mb()
        after = metrics.file_sizes(ctx.lake)
        live = workload.live_files(ctx, state)
        failures = workload.check(ctx, state)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work_base, ignore_errors=True)

    reads = metrics.latency_summary(ctx.reads)
    writes = metrics.latency_summary(ctx.writes)
    failed = len(ctx.errors)
    lake = {
        "maint_s": ctx.maint_s,
        "write_amp": metrics.write_amp(before, after, ctx.input_bytes) if after else 0.0,
        "space_amp": metrics.space_amp(after, live) if live else 0.0,
        "error_rate": failed / ctx.attempted,
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "session_s": session_s,
        "read": reads,
        "write": writes,
        **lake,
        "residue_dirs": state.get("residue_dirs", 0),
        "read_samples_s": ctx.reads,
        "write_samples_s": ctx.writes,
        "check_failures": failures,
        "errors": ctx.errors,
    }
    if args.trace:
        tracer.totals["session"]["self_s"] += session_s
        tracer.totals["session"]["count"] += 1
        values = tracer.layer_totals(LAYERS, {"lake.table": list(LAKE_METHODS)})
        values.update(
            {
                "operators.merge.rewrite_ratio": state.get("rewrite_ratio", 0.0),
                "lake.table.touched_bucket_ratio": state.get("touched_bucket_ratio", 0.0),
                "lake.table.residue_dirs": state.get("residue_dirs", 0),
                **lake,
                "trace.run_s": run_s,
                "trace.overhead_s": tracer.overhead_s,
            }
        )
        units = per_layer_units()
        detail["structure"] = tracer.structure()
    else:
        values = {
            "setup_s": setup_s,
            "run_s": run_s,
            "write_p50_s": writes["p50"],
            "write_tail_s": writes["tail"],
            "read_p50_s": reads["p50"],
            "read_tail_s": reads["tail"],
            "peak_rss_mb": peak_rss,
        }
        units = END_TO_END
    result = {
        "correct": not failures,
        "attempted": ctx.attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    return detail, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="also write the detail record to this JSON file")
    args = ap.parse_args(argv)
    detail, result = run(args)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
