"""The real-time stream: ``run_rt_postprocessed`` over a drop directory
of scan files, in two phases.

- catch-up: ``K`` scans are already in the drop directory when the
  query starts with an ``availableNow`` trigger, like a daemon
  restarting after an outage.  Its wall time is one measurement.
- live: an open loop.  One generator thread renames one staged scan
  into the drop directory per period, on a fixed schedule below
  capacity, while the query runs on a ``processingTime`` trigger.  The
  main thread polls the sink; a scan's latency runs from when its drop
  was due to when its ``post/TIMESTAMP=`` partition appears.

Per-layer times come from ``StreamingQuery.recentProgress`` (the
``foreachBatch`` body is the engine's own code).
"""

from __future__ import annotations

import os
import threading
import time
from datetime import datetime

import gen
from harness import check

TIMEOUT_S = 60.0


def setup(ctx, base: str, sz: dict) -> dict:
    staged = gen.write_scan_stage(os.path.join(base, "stage"), ctx.seed,
                                  gen.RADARS[:sz["radars"]],
                                  sz["catchup"] + sz["live"], sz["n_az"],
                                  sz["n_rng"])
    return {"staged": staged, "src": os.path.join(base, "drop"),
            "sink": os.path.join(base, "sink"),
            "ckpt": os.path.join(base, "ckpt")}


def _drop(st: dict, i: int) -> None:
    """Atomic delivery: the staged file is renamed into the watched
    directory, so the file source never lists a partial file."""
    ts, staged = st["staged"][i]
    os.rename(staged, os.path.join(st["src"], f"scan_{ts}.parquet"))


def _visible(post_dir: str) -> set[int]:
    try:
        names = os.listdir(post_dir)
    except FileNotFoundError:
        return set()
    return {int(n.split("=", 1)[1]) for n in names
            if n.startswith("TIMESTAMP=")}


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def catchup(ctx, st: dict, lut, sz: dict) -> dict:
    """K waiting scans, one availableNow run; returns its wall time."""
    from rainforest_spark.streaming.rt import run_rt_postprocessed

    os.makedirs(st["src"], exist_ok=True)
    k = sz["catchup"]
    for i in range(k):
        _drop(st, i)
    t0 = time.perf_counter()
    q = run_rt_postprocessed(ctx.spark, st["src"], gen.RT_SCHEMA,
                             st["sink"], st["ckpt"], lut, trigger_once=True)
    done = q.awaitTermination(TIMEOUT_S)
    seconds = time.perf_counter() - t0
    if not done:
        q.stop()
    check(q.exception() is None, f"catch-up query failed: {q.exception()}")
    if ctx.trace:
        # streaming jobs run under the query's run id as job group
        ctx.jobs.record("rt_catchup", str(q.runId))
    want = {ts for ts, _ in st["staged"][:k]}
    missing = len(want - _visible(os.path.join(st["sink"], "post")))
    return {"seconds": seconds, "attempted": k, "failed": missing,
            "progress": list(q.recentProgress)}


def live(ctx, st: dict, lut, sz: dict) -> dict:
    """Open loop: one scan renamed in per period by the generator
    thread; returns the per-scan latencies."""
    from rainforest_spark.streaming.rt import run_rt_postprocessed

    post = os.path.join(st["sink"], "post")
    k, n_live, period = sz["catchup"], sz["live"], sz["period_s"]
    q = run_rt_postprocessed(ctx.spark, st["src"], gen.RT_SCHEMA,
                             st["sink"], st["ckpt"], lut,
                             trigger_once=False,
                             trigger_interval=sz["trigger"])
    due, dropped_at = {}, {}
    start = time.time() + 0.5       # let the restarted query settle

    def generator():
        for j in range(n_live):
            ts, _ = st["staged"][k + j]
            t_due = start + j * period
            time.sleep(max(0.0, t_due - time.time()))
            due[ts] = t_due
            _drop(st, k + j)
            dropped_at[ts] = time.time()

    gen_thread = threading.Thread(target=generator, name="scan-generator")
    gen_thread.start()
    live_ts = [ts for ts, _ in st["staged"][k:]]
    latency, backlog = {}, []
    deadline = start + n_live * period + TIMEOUT_S
    polls = 0
    try:
        while time.time() < deadline and len(latency) < n_live:
            now = time.time()
            vis = _visible(post)
            for ts in live_ts:
                if ts in vis and ts not in latency and ts in dropped_at:
                    latency[ts] = now - due[ts]
            backlog.append(len(dropped_at) - len(latency))
            polls += 1
            # a failed query would leave the loop waiting for its
            # timeout; ask the JVM about it twice a second
            if polls % 50 == 0 and q.exception() is not None:
                break
            time.sleep(0.01)
    finally:
        gen_thread.join()
        exc = q.exception()
        q.stop()
    check(exc is None, f"live query failed: {exc}")
    if ctx.trace:
        ctx.jobs.record("rt_live", str(q.runId))
    ctx.tracer.count("streaming.rt.backlog_max_files", max(backlog or [0]))
    for ts in dropped_at:
        ctx.tracer.count("gen.late_s", dropped_at[ts] - due[ts])
    return {"latencies": [latency[ts] for ts in live_ts if ts in latency],
            "attempted": n_live, "failed": n_live - len(latency),
            "progress": list(q.recentProgress), "dropped_at": dropped_at}


def trace_progress(ctx, progress: list, dropped_at: dict,
                   sz: dict) -> None:
    """Streaming spans from the public progress reports: one span per
    data-carrying trigger, with its phases as children."""
    tr = ctx.tracer
    if not tr.enabled:
        return
    # progress timestamps are wall clock; spans use perf_counter
    shift = time.perf_counter() - time.time()
    starts = []
    for p in progress:
        if not p.numInputRows:
            continue
        d = p.durationMs
        t_start = _epoch(p.timestamp)
        starts.append(t_start)
        t0 = t_start + shift
        trig = tr.add_span("streaming.rt.trigger", t0,
                           t0 + d.get("triggerExecution", 0) / 1000.0)
        parts = {"streaming.rt.add_batch": d.get("addBatch", 0),
                 "streaming.rt.checkpoint": d.get("walCommit", 0)
                 + d.get("commitOffsets", 0),
                 "streaming.rt.list": d.get("latestOffset", 0)
                 + d.get("getBatch", 0),
                 "streaming.rt.planning": d.get("queryPlanning", 0)}
        for name, ms in parts.items():
            tr.add_span(name, t0, t0 + ms / 1000.0, parent=trig)
    tr.count("streaming.rt.batches", len(starts))
    # numInputRows also counts the partial reads foreachBatch makes
    # (isEmpty), so files per batch comes from the files dropped
    tr.count("streaming.rt.files_per_batch",
             (sz["catchup"] + sz["live"]) / max(len(starts), 1))
    for t_drop in dropped_at.values():
        nxt = [s for s in starts if s >= t_drop]
        if nxt:
            tr.count("streaming.rt.trigger_wait_s", min(nxt) - t_drop)


def verify(ctx, st: dict, lut, sz: dict) -> None:
    """Every dropped scan has a post partition (counted as failures in
    measure), and one live frame's rain rate equals the batch chain's on
    the same scan file — batch and stream share one code path."""
    import numpy as np
    import pandas as pd

    from rainforest_spark.grid.qpe import (
        polar_to_grid, rain_rate, vertical_composite,
    )

    k = sz["catchup"]
    ts = st["staged"][k + ctx.seed % sz["live"]][0]
    src = os.path.join(st["src"], f"scan_{ts}.parquet")
    batch = rain_rate(vertical_composite(
        polar_to_grid(ctx.spark.read.schema(gen.RT_SCHEMA).parquet(src),
                      lut, ["zh_lin"]), ["zh_lin"], visib_col=None)) \
        .select("x_idx", "y_idx", "rain_rate").toPandas()
    part = os.path.join(st["sink"], "post", f"TIMESTAMP={ts}")
    check(os.path.isdir(part), f"no post partition for frame {ts}")
    stream = ctx.spark.read.parquet(part) \
        .select("x_idx", "y_idx", "rain_rate").toPandas()
    keys = ["x_idx", "y_idx"]
    m = pd.merge(batch, stream, on=keys, how="outer",
                 suffixes=("_b", "_s"), indicator=True)
    check(bool((m["_merge"] == "both").all()),
          f"frame {ts}: stream and batch cover different pixels")
    a, b = m["rain_rate_b"].to_numpy(), m["rain_rate_s"].to_numpy()
    check(np.array_equal(np.isnan(a), np.isnan(b)) and np.allclose(
        a[~np.isnan(a)], b[~np.isnan(b)], rtol=1e-9, atol=1e-12),
        f"frame {ts}: stream rain_rate differs from the batch chain")
