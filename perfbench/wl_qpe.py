"""qpe_batch_rt: the QPE product chain, as a batch job and as the
real-time stream, over one LUT and one RF model built in set-up.

Phases, in order:

1. batch jobs, repeated until ``--seconds`` have passed (at least
   three; the first carries the JVM's first-use costs, the median does
   not): a drop directory of npz polar volumes through

       read_polar_volumes → apply_polar_masks → polar_to_grid (LUT)
       → vertical_composite → rain_rate → temporal_smooth
       + advect_blend_series → RandomForestQPE.transform → save_grid_npz

   — one map per timestep; the throughput.
2. rt catch-up (``wl_rt.catchup``): K waiting scans, ``availableNow`` —
   the run's bulk operation, timed as one op.
3. rt live (``wl_rt.live``): open loop, one scan per period — the
   latency samples.

The run is long for its sample count because the stream's micro-batch
costs seconds: a live rate below capacity gives one latency sample per
period.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

import gen
import oracle
import wl_rt
from harness import check, log, median, quantile

SIZES = {
    "full": {"radars": 5, "sweeps": [1, 3], "n_ts": 3, "n_az": 360,
             "n_rng": 40, "rf_rows": 300, "min_jobs": 3,
             "catchup": 3, "live": 2, "period_s": 7.0,
             "trigger": "250 milliseconds"},
    "tiny": {"radars": 2, "sweeps": [1], "n_ts": 2, "n_az": 90,
             "n_rng": 20, "rf_rows": 300, "min_jobs": 1,
             "catchup": 2, "live": 1, "period_s": 4.0,
             "trigger": "250 milliseconds"},
}
FEATURES = ["zh_db", "w_total", "rr_adv"]
FRAME_COLS = ["TIMESTAMP", "x_idx", "y_idx", "zh_lin", "w_total",
              "rain_rate"]
KEYS = ["TIMESTAMP", "x_idx", "y_idx"]


def setup(ctx, rep: int) -> dict:
    from rainforest_spark.grid.lookup import polar_to_cart_lut
    from rainforest_spark.ml.rf import RandomForestQPE

    sz = ctx.size
    radars = gen.RADARS[:sz["radars"]]
    base = os.path.join(ctx.work, f"setup{rep}")
    in_dir = os.path.join(base, "drop")
    volumes = gen.write_polar_drop(in_dir, ctx.seed, radars, sz["sweeps"],
                                   sz["n_ts"], sz["n_az"], sz["n_rng"])
    rt = wl_rt.setup(ctx, os.path.join(base, "rt"), sz)
    with ctx.tracer.span("grid.lookup.lut_build"):
        lut = polar_to_cart_lut(ctx.spark,
                                {r: gen.RADAR_XYZ[r] for r in radars},
                                sweeps=sz["sweeps"], n_az=sz["n_az"],
                                n_rng=sz["n_rng"])
    with ctx.tracer.span("ml.rf.setup_fit"):
        model = RandomForestQPE(FEATURES, num_trees=5, max_depth=3,
                                seed=ctx.seed).fit(
            ctx.spark.createDataFrame(_rf_training(ctx.seed,
                                                   sz["rf_rows"])))
    return {"in_dir": in_dir, "volumes": volumes, "lut": lut,
            "model": model, "radars": radars, "rt": rt,
            "timestamps": sorted({ts for ts, _ in volumes})}


def _rf_training(seed: int, n: int) -> pd.DataFrame:
    """Synthetic grid-feature rows with a known gauge-like target."""
    rng = np.random.default_rng(seed + 7)
    zh_db = rng.uniform(5.0, 50.0, n)
    rr = (10.0 ** (zh_db / 10.0) / 316.0) ** (1.0 / 1.5)
    return pd.DataFrame({
        "zh_db": zh_db, "w_total": rng.uniform(0.2, 10.0, n),
        "rr_adv": rr * rng.uniform(0.8, 1.2, n),
        "target_mmh": 1.1 * rr + 0.05 + rng.normal(0.0, 0.1, n)})


def _job(ctx, st: dict, out_dir: str, traced: bool) -> int:
    """One batch job; returns the number of maps written."""
    from pyspark.sql import functions as F

    from rainforest_spark.grid.advection import advect_blend_series
    from rainforest_spark.grid.io import save_grid_npz
    from rainforest_spark.grid.qpe import (
        apply_polar_masks, polar_to_grid, rain_rate, temporal_smooth,
        vertical_composite,
    )
    from rainforest_spark.sources.polar_ingest import read_polar_volumes

    tr = ctx.tracer if traced else ctx.null_tracer
    spark = ctx.spark

    def stage(name, build):
        # the traced run forces each lazy boundary it times
        with tr.span(name):
            df = build()
            return df.localCheckpoint() if traced else df

    os.makedirs(out_dir, exist_ok=True)
    with tr.span("qpe_batch.job"):
        polar = stage("sources.polar_ingest.read",
                      lambda: read_polar_volumes(spark, st["in_dir"]))
        masked = stage("grid.qpe.masks", lambda: apply_polar_masks(polar))
        sweeps = stage("grid.qpe.polar_to_grid",
                       lambda: polar_to_grid(masked, st["lut"], ["zh_lin"]))
        comp = stage("grid.qpe.vertical_composite",
                     lambda: vertical_composite(sweeps, ["zh_lin"],
                                                visib_col=None))
        # the rain-rate frames feed both the smoother and the advection
        # fan-out, so they are materialised once, as the RT chain does
        with tr.span("grid.qpe.rain_rate"):
            rr = rain_rate(comp).select(*FRAME_COLS).localCheckpoint()
        smooth = stage("grid.qpe.temporal_smooth",
                       lambda: temporal_smooth(rr, "rain_rate",
                                               proxy_col="zh_lin"))
        adv = stage("grid.advection.blend",
                    lambda: advect_blend_series(rr, "rain_rate")
                    .withColumnRenamed("rain_rate", "rain_rate_advected"))
        feats = stage("qpe_batch.features", lambda: (
            smooth.join(adv, on=KEYS, how="left")
            .withColumn("zh_db", 10.0 * F.log10("zh_lin"))
            .withColumn("rr_adv", F.coalesce("rain_rate_advected",
                                             "rain_rate_2frame"))))
        with tr.span("ml.rf.transform"):
            prod = (st["model"].transform(feats)
                    .select(*KEYS, F.col("prediction_bc").alias("qpe"))
                    .localCheckpoint())
        written = 0
        for ts in st["timestamps"]:
            path = os.path.join(out_dir, f"qpe_{ts}.npz")
            with tr.span("grid.io.sink"):
                save_grid_npz(prod.filter(F.col("TIMESTAMP") == ts), "qpe",
                              path, timestamp=ts)
            if os.path.exists(path):
                written += 1
                tr.count("grid.io.bytes_per_frame",
                         os.path.getsize(path)
                         + os.path.getsize(path + ".json"))
    if traced:
        tr.count("sources.polar_ingest.gates", polar.count())
        joined = sweeps.agg(F.sum("n_gates")).collect()[0][0] or 0
        tr.count("grid.qpe.gates_per_pixel", joined / max(comp.count(), 1))
    return written


def measure(ctx, st: dict) -> dict:
    sz = ctx.size
    jobs = []                                   # (seconds, maps, traced)
    deadline = time.perf_counter() + ctx.seconds
    # a traced run alternates untraced and traced jobs, so one process
    # gives both totals
    while True:
        traced = ctx.trace and len(jobs) % 2 == 1
        out_dir = os.path.join(ctx.work, "out", f"job{len(jobs)}")
        with ctx.jobs.group("qpe_job", traced):
            t0 = time.perf_counter()
            written = _job(ctx, st, out_dir, traced)
            jobs.append((time.perf_counter() - t0, written, traced))
        n_plain = sum(1 for j in jobs if not j[2])
        if time.perf_counter() >= deadline and n_plain >= sz["min_jobs"] \
                and (not ctx.trace or len(jobs) > n_plain):
            break
    st["jobs"] = len(jobs)
    plain = [j for j in jobs if not j[2]]

    catch = wl_rt.catchup(ctx, st["rt"], st["lut"], sz)
    live = wl_rt.live(ctx, st["rt"], st["lut"], sz)
    wl_rt.trace_progress(ctx, catch["progress"] + live["progress"],
                         live["dropped_at"], sz)
    log(f"batch jobs {[(round(j[0], 3), j[2]) for j in jobs]} (seconds, "
        f"traced); catch-up {catch['seconds']:.3f}s; live latencies "
        f"{[round(x, 3) for x in live['latencies']]}")
    n_frames = len(st["timestamps"])
    return {
        "attempted": len(jobs) * (n_frames + len(st["volumes"]))
        + catch["attempted"] + live["attempted"],
        "rt_failed": catch["failed"] + live["failed"],
        "frames_ok": sum(j[1] for j in jobs),
        # maps written per second of a median job; only maps actually
        # written count, so failures cannot inflate it
        "throughput": median([j[1] / j[0] for j in plain]),
        "catchup_s": catch["seconds"],
        "latencies": live["latencies"],
        "traced_op_s": [j[0] for j in jobs if j[2]],
        "untraced_op_s": [j[0] for j in plain],
    }


def verify(ctx, st: dict, res: dict) -> int:
    """Output checks, outside the timed region.  Returns failed ops."""
    from pyspark.sql import functions as F

    from rainforest_spark.grid.qpe import (
        apply_polar_masks, grid_to_matrix, polar_to_grid, rain_rate,
        vertical_composite,
    )
    from rainforest_spark.sources.polar_ingest import read_polar_volumes

    sz = ctx.size
    wl_rt.verify(ctx, st["rt"], st["lut"], sz)
    n_frames = len(st["timestamps"])
    for j in range(st["jobs"]):
        for ts in st["timestamps"]:
            path = os.path.join(ctx.work, "out", f"job{j}", f"qpe_{ts}.npz")
            if os.path.exists(path):
                m = np.load(path)["data"]
                check(m.shape == (640, 710), f"map {path} shape {m.shape}")
                check(bool(np.isfinite(m).any()), f"map {path} is empty")
    missing_frames = st["jobs"] * n_frames - res["frames_ok"]

    # read_polar_volumes drops undecodable volumes silently: compare the
    # decoded (TIMESTAMP, RADAR) set with the generated one
    polar = read_polar_volumes(ctx.spark, st["in_dir"])
    decoded = {(int(r[0]), r[1]) for r in
               polar.select("TIMESTAMP", "RADAR").distinct().collect()}
    skipped = len(set(st["volumes"]) - decoded)
    ctx.tracer.count("sources.polar_ingest.volumes_skipped", skipped)
    check(not decoded - set(st["volumes"]), "decoded unknown volumes")

    ts = st["timestamps"][ctx.seed % n_frames]
    comp = rain_rate(vertical_composite(
        polar_to_grid(apply_polar_masks(polar)
                      .filter(F.col("TIMESTAMP") == ts),
                      st["lut"], ["zh_lin"]), ["zh_lin"], visib_col=None))
    got = grid_to_matrix(comp, "rain_rate")
    want = oracle.composite_rain_rate(
        {r: st["volumes"][(ts, r)] for r in st["radars"]},
        gen.RADAR_XYZ, sz["n_az"], sz["n_rng"])
    check(np.array_equal(np.isnan(got), np.isnan(want)),
          "rain-rate map coverage differs from the numpy composite")
    ok = ~np.isnan(want)
    check(bool(ok.any()), "numpy composite is empty")
    check(np.allclose(got[ok], want[ok], rtol=1e-5, atol=1e-7),
          "rain-rate map differs from the numpy composite: max abs diff "
          f"{np.max(np.abs(got[ok] - want[ok]))}")
    return missing_frames + skipped * st["jobs"] + res["rt_failed"]


def metrics(ctx, st: dict, res: dict) -> dict:
    lat = res["latencies"]
    check(bool(lat), "no live scan reached the sink")
    return {"throughput_per_s": res["throughput"],
            "latency_p50_s": median(lat),
            "latency_p90_s": quantile(lat, 0.9),
            "bulk_op_s": res["catchup_s"]}
