"""Benchmark entry point.

    python3 perfbench/run.py --workload qpe_batch_rt --seed 1 --seconds 10 \
        --trace 0

Run from the root of a checkout.  Set-up, measurement and output checks
happen in one process; the last stdout line is the result object
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` prints
the end-to-end metrics, ``--trace 1`` the per-layer ones.  Exit code 0
when every check passed, 1 on a mismatch, 2 when the engine cannot be
imported or started (no result is printed then).
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import shutil
import sys
import time
import traceback

import harness
from harness import log

#: workload name → module
WORKLOADS = {"qpe_batch_rt": "wl_qpe", "db_research": "wl_db"}
#: set-up runs this many times per process; setup_s reports the median
SETUP_REPEATS = 3

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "bulk_op_s": "s",
    "peak_rss_mb": "MB",
}

#: per-layer metric → unit.  A ``*_s`` metric is the mean self time of
#: the span named without the suffix; any other is the mean of the
#: counter of that name.  Layers a workload does not touch report 0.
PER_LAYER = {
    "session.start_s": "s",
    "catalog.add_tables_s": "s",
    "catalog.query_s": "s",
    "catalog.collect_s": "s",
    "catalog.spark_jobs_per_query": "count",
    "catalog.rows_returned": "count",
    "sources.polar_ingest.read_s": "s",
    "sources.polar_ingest.gates": "count",
    "sources.polar_ingest.volumes_skipped": "count",
    "sources.writers.upsert_s": "s",
    "sources.writers.bytes_written_per_user_byte": "ratio",
    "sources.writers.files_per_partition": "count",
    "grid.lookup.lut_build_s": "s",
    "grid.qpe.masks_s": "s",
    "grid.qpe.polar_to_grid_s": "s",
    "grid.qpe.vertical_composite_s": "s",
    "grid.qpe.rain_rate_s": "s",
    "grid.qpe.temporal_smooth_s": "s",
    "grid.qpe.gates_per_pixel": "ratio",
    "grid.advection.blend_s": "s",
    "grid.io.sink_s": "s",
    "grid.io.bytes_per_frame": "B",
    "ml.rf.transform_s": "s",
    "ml.dataset.prepare_input_s": "s",
    "ml.rf.fit_s": "s",
    "ml.rf.fit_rows": "count",
    "streaming.rt.trigger_s": "s",
    "streaming.rt.add_batch_s": "s",
    "streaming.rt.checkpoint_s": "s",
    "streaming.rt.list_s": "s",
    "streaming.rt.planning_s": "s",
    "streaming.rt.batches": "count",
    "streaming.rt.files_per_batch": "count",
    "streaming.rt.backlog_max_files": "count",
    "streaming.rt.trigger_wait_s": "s",
    "gen.late_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "trace.traced_op_s": "s",
    "trace.untraced_op_s": "s",
    "trace.overhead_frac": "ratio",
}


class Context:
    """What a workload needs: the session, its arguments and sizes, a
    private work directory, the tracer and the Spark job counter."""

    def __init__(self, args, work: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.tracer = harness.Tracer(self.trace,
                                     f"{args.workload}-s{args.seed}"
                                     f"-{os.getpid()}")
        self.null_tracer = harness.Tracer(False, "")
        self.spark = None
        self.jobs = None
        self.size = None


def layer_metrics(ctx: Context, res: dict) -> dict:
    tr = ctx.tracer
    selfs = tr.self_times()
    out = {}
    for name in PER_LAYER:
        if name.endswith("_s") and name[:-2] in selfs:
            v = selfs[name[:-2]]
            out[name] = sum(v) / len(v)
        else:
            out[name] = tr.mean_count(name)
    out["spark.jobs"], out["spark.stages"], out["spark.tasks"] = \
        ctx.jobs.means()
    traced, plain = res["traced_op_s"], res["untraced_op_s"]
    if traced and plain:
        # medians: the first op of a run carries first-use costs
        out["trace.traced_op_s"] = harness.median(traced)
        out["trace.untraced_op_s"] = harness.median(plain)
        out["trace.overhead_frac"] = \
            out["trace.traced_op_s"] / out["trace.untraced_op_s"] - 1.0
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input sizes; 'tiny' is for the smoke test")
    args = ap.parse_args(argv)

    root = os.getcwd()
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    harness.clean_dir(work)
    try:
        return _run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))         # only when empty


def _run(args, root: str, work: str) -> int:
    harness.pin_environment(work)
    try:
        from rainforest_spark.session import get_spark
    except ImportError as e:
        log(f"cannot import the engine from {harness.REPO_ROOT}: {e}")
        return 2
    wl = importlib.import_module(WORKLOADS[args.workload])
    ctx = Context(args, work)
    ctx.size = wl.SIZES[args.size]

    t0 = time.perf_counter()
    with ctx.tracer.span("session.start"):
        try:
            spark = get_spark("perfbench", extra_conf=harness.spark_conf(work))
        except Exception:
            log("session start failed:\n" + traceback.format_exc())
            return 2
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark
    ctx.jobs = harness.SparkJobs(spark, ctx.trace)
    try:
        env = harness.environment_record(spark)
        log(f"environment {json.dumps(env)}")

        setups = []
        for rep in range(SETUP_REPEATS):
            t = time.perf_counter()
            st = wl.setup(ctx, rep)
            setups.append(time.perf_counter() - t)
        log(f"session {session_s:.3f}s, set-up repeats "
            f"{[round(s, 3) for s in setups]}")

        correct, failed, values, res = True, 0, {}, None
        try:
            res = wl.measure(ctx, st)
            t = time.perf_counter()
            failed = wl.verify(ctx, st, res)
            values = wl.metrics(ctx, st, res)
            log(f"output checks passed in {time.perf_counter() - t:.3f}s")
        except harness.CheckFailed as e:
            log(f"OUTPUT CHECK FAILED: {e}")
            correct = False

        if not correct:
            metrics = {}
        elif ctx.trace:
            metrics = {k: {"value": v, "unit": PER_LAYER[k]}
                       for k, v in layer_metrics(ctx, res).items()}
            path = os.path.join(root, ".perfbench_traces",
                                f"{ctx.tracer.run_id}.json")
            ctx.tracer.dump(path)
            log(f"spans written to {path}; self time per layer:")
            for line in ctx.tracer.summary_lines():
                log(line)
            log(f"spark work per op type {json.dumps(ctx.jobs.by_type())}")
        else:
            values.update(setup_s=session_s + harness.median(setups),
                          peak_rss_mb=harness.peak_rss_mb())
            metrics = {k: {"value": values[k], "unit": u}
                       for k, u in END_TO_END.items() if k in values}
        attempted = res["attempted"] if res else 1
        print(json.dumps({
            "environment": env, "workload": args.workload,
            "seed": args.seed, "trace": args.trace,
            "latency_samples": len(res["latencies"]) if res else 0,
            "failed_ops_frac": failed / max(attempted, 1)}), flush=True)
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}),
              flush=True)
        return 0 if correct else 1
    finally:
        with contextlib.suppress(Exception):
            harness.stop_spark(spark)


if __name__ == "__main__":
    sys.exit(main())
