"""Real-time QPE as a Structured Streaming job.

The reference implements real time as a polling daemon
(rainforest/qpe/qpe_rt_daemon.py:53-140): watch /srn/data/<PROD> for new
5-min scan files, recompute a map per cycle, persist prev-frame state to
.npy between restarts.  The Structured Streaming mapping (SURVEY §2.9):

| reference                     | here                                     |
|-------------------------------|------------------------------------------|
| directory polling (T1)        | file-stream source                       |
| 5-min cycle (T2)              | processingTime/availableNow trigger      |
| 10-min gauge pairing (T3)     | window(ts, '10 minutes') agg             |
| prev-frame state on disk (T4) | post/ store: pyarrow reads of the        |
|                               | neighbour partitions, by name            |
| missing radars → quality (T5) | per-window observed-radar codes          |
| hourly HZT reuse (T6)         | stream-static join                       |
| file-per-timestamp sink (T7)  | foreachBatch: one Arrow collect of the   |
|                               | gates, numpy composite and frames, one   |
|                               | parquet file per timestamp, staged and   |
|                               | renamed into place by the partition swap |
|                               | the daily upsert commits through too     |
|                               | (sources/writers.swap_partitions)        |

``run_rt_postprocessed``, the daemon's full chain, is the one RT path.
It does what the daemon does on its one node: it collects a
micro-batch's gates once and composites and post-processes them with
the numpy twins of the batch operators in Python.  Batch and RT
share the LUT, the row semantics and the arbiter: the DataFrame
operators (grid/qpe.py) stay the batch path, and tests and the
benchmark check the stream against them.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rainforest_spark.sources.writers import (
    swap_partitions, undo_partition_swap,
)

#: scan files a micro-batch takes from the drop directory at most
MAX_FILES_PER_TRIGGER = 20


def polar_file_stream(spark: SparkSession, path: str,
                      schema: str) -> DataFrame:
    """T1: file-stream source over a drop directory of polar scans
    (parquet), with filename-timestamp extraction like the reference's
    %y%j%H%M parsing (common/utils.py:205-213) generalized to an
    epoch-seconds column in the data."""
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
            .parquet(path))


def ten_minute_aggregate(stream: DataFrame, value_cols: list[str],
                         watermark: str = "20 minutes") -> DataFrame:
    """T3: two 5-min scans → one 10-min observation per key.

    Watermark bounds state; late scans beyond it are dropped — the
    reference simply computes "with what arrived" (T5), which the
    watermark + update mode reproduces.
    """
    from rainforest_spark.functions.db import avg_expr_for

    with_ts = stream.withColumn("event_time",
                                F.col("TIMESTAMP").cast("timestamp"))
    aggs = [avg_expr_for(v).alias(v) for v in value_cols]
    aggs.append(F.count(F.lit(1)).alias("TCOUNT"))
    # quality metadata: which radars contributed (T5, qpe_utils.py:139-147
    # 'ADLPW' → 'AD-PW' encoding)
    aggs.append(F.array_join(F.array_sort(F.collect_set("RADAR")), "")
                .alias("radars_seen"))
    return (with_ts.withWatermark("event_time", watermark)
            .groupBy(F.window("event_time", "10 minutes").alias("win"),
                     "STATION", "RADAR", "SWEEP")
            .agg(*aggs))


def _arrow_schemas():
    """The post store's file schemas: the frame columns a neighbour read
    needs, and every post column.  ``TIMESTAMP`` is the partition
    directory's name, not a column in the file."""
    import pyarrow as pa

    frame = [pa.field("x_idx", pa.int32()), pa.field("y_idx", pa.int32())]
    frame += [pa.field(c, pa.float64())
              for c in ("zh_lin", "w_total", "rain_rate")]
    post = frame + [pa.field(c, pa.float64())
                    for c in ("rain_rate_2frame", "disag_ratio",
                              "rain_rate_disag", "rain_rate_advected")]
    return pa.schema(frame), pa.schema(post)


def _read_partitions(post_dir: str, timestamps, schema):
    """The ``TIMESTAMP=<t>`` partitions of ``post_dir`` that exist among
    ``timestamps``, read with pyarrow as pandas frames with a
    ``TIMESTAMP`` column.  A missing directory is no frame; nothing else
    in the store is listed, and a file that cannot be read raises."""
    import pyarrow.parquet as pq

    frames = []
    for t in sorted(timestamps):
        path = f"{post_dir}/TIMESTAMP={t}"
        if os.path.isdir(path):
            frames.append(pq.read_table(path, schema=schema).to_pandas()
                          .assign(TIMESTAMP=t))
    return frames


def run_rt_postprocessed(spark: SparkSession, source_path: str, schema: str,
                         sink_dir: str, checkpoint_dir: str,
                         lut: DataFrame, cycle_sec: int = 300,
                         alpha: float = 0.5, max_shift: int = 10,
                         nx: int = 710, ny: int = 640,
                         trigger_once: bool = True,
                         trigger_interval: str | None = None):
    """The daemon's FULL post-processing chain as one streaming job
    (reference qpe/qpe.py:680-761 inside qpe_rt_daemon.py's cycle loop):

        composite → rain rate → two-frame mean + disaggregation ratio
        → advection blend against the PREVIOUS frame

    The LUT is collected and compiled once, when the query starts
    (grid/qpe.compile_lut).  Each micro-batch collects only the gate
    columns it needs, ONCE, with Arrow, and composites them in Python
    like the daemon (grid/qpe.composite_frames, the numpy twin
    of polar_to_grid → vertical_composite → rain_rate); an empty
    composite is an empty batch.  It then post-processes whole frames
    with numpy in TIMESTAMP order (grid/qpe.temporal_smooth_frames,
    grid/advection.advect_blend_frames — the twins of temporal_smooth
    and advect_blend_series).  Batch and stream share the LUT and the
    row semantics; the DataFrame operators stay the batch path and the
    arbiter.  That collect is the micro-batch's one Spark job: the
    driver does the store I/O itself, like the daemon's plain local
    I/O (qpe/qpe.py:380-410, :776-811), so ``sink_dir`` is a local
    path (a URI raises ``ValueError`` before the query starts).

    The sink is ``<sink_dir>/post/TIMESTAMP=<t>/``, one parquet file
    per frame with the post columns (int32 pixel indices, float64
    values; the timestamp is the directory name), readable with
    ``spark.read.parquet``.  Each micro-batch commits through
    ``sources/writers.swap_partitions``, the staged swap the daily
    upsert uses too, tagged with its batch id: it stages its files in a
    hidden ``_staging-<batch_id>`` directory, then moves each old
    partition aside and renames the staged one into place (T7); a
    retried batch id first restores what its cut commit moved aside and
    removes its staging directory (``undo_partition_swap``), before it
    reads its neighbours, so a retry is idempotent and loses no stored
    frame.

    Prev-frame state is the post store itself: every post partition
    carries its frame's composite columns, so a micro-batch reads with
    pyarrow, by directory name, only the neighbour partitions it needs
    — state reads stay O(batch), never O(history), whatever the store's
    age — the analogue of the daemon persisting prev.npy between
    cycles.  The read never touches the batch's own timestamps, and a
    back-filled successor is rewritten with the frame columns it
    already had, so a retried batch recomputes the same output.  A
    missing partition means no neighbour; any read error fails the
    batch rather than leaving null blends.

    Pairing note: predecessors are by fixed cadence (``cycle_sec``, the
    daemon's 5-min cycle).  Batch ``temporal_smooth`` pairs by row
    adjacency per pixel; the two agree whenever consecutive frames cover
    the same pixel set (the grid-product case — every frame rasterizes
    the same LUT footprint).  A LATE frame back-fills: when frame t
    arrives after t+cycle was already processed, the successor's post
    partition is recomputed in the same micro-batch, so out-of-order
    delivery converges to the batch result instead of leaving a
    permanently null blend.
    """
    import pandas as pd
    import pyarrow as pa

    from rainforest_spark.grid.advection import advect_blend_frames
    from rainforest_spark.grid.qpe import (
        GATE_KEY, compile_lut, composite_frames, temporal_smooth_frames,
    )

    if "://" in sink_dir:
        raise ValueError(f"sink_dir must be a local path: {sink_dir!r}")
    lut = compile_lut(lut.select(*GATE_KEY, "x_idx", "y_idx", "height")
                      .toArrow().to_pandas())
    stream = polar_file_stream(spark, source_path, schema)
    post_dir = f"{sink_dir}/post"
    frame_schema, post_schema = _arrow_schemas()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # before the neighbour read, so a retry re-pairs a back-filled
        # successor that its cut commit had moved aside
        undo_partition_swap(post_dir, batch_id)
        comp = composite_frames(
            batch_df.select("TIMESTAMP", *GATE_KEY, "zh_lin").toArrow()
            .to_pandas(), lut)
        if comp.empty:
            return
        ts_list = set(comp["TIMESTAMP"].tolist())
        prev_ts = {t - cycle_sec for t in ts_list} - ts_list
        # late-arrival back-fill: successors already in the store must
        # re-pair against the frames arriving now
        succ_ts = {t + cycle_sec for t in ts_list} - ts_list
        store = _read_partitions(post_dir, prev_ts | succ_ts, frame_schema)
        series = temporal_smooth_frames(pd.concat([*store, comp]),
                                        "rain_rate", proxy_col="zh_lin")
        series["rain_rate_advected"] = advect_blend_frames(
            series, "rain_rate", nx=nx, ny=ny, alpha=alpha,
            max_shift=max_shift)
        # the batch's frames and the stored successors it re-pairs; a
        # successor that is not in the store has no rows here
        out = series[series["TIMESTAMP"].isin(ts_list | succ_ts)]
        swap_partitions(post_dir, batch_id, {
            f"TIMESTAMP={t}": pa.Table.from_pandas(
                frame, schema=post_schema, preserve_index=False)
            for t, frame in out.groupby("TIMESTAMP", sort=True)})

    writer = (stream.writeStream.foreachBatch(process)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    else:
        # daemon cadence (micro-batch trigger) and DATA cadence
        # (cycle_sec, the frame-pairing interval) are separate concerns:
        # the daemon polls every 5 min in production, but a catch-up or
        # test run can trigger faster over the same 5-min-spaced frames
        writer = writer.trigger(
            processingTime=trigger_interval or f"{cycle_sec} seconds")
    return writer.start()


def session_window_aggregate(stream: DataFrame, gap: str = "30 minutes",
                             partition_cols: list[str] | None = None,
                             value_col: str = "ZH",
                             watermark: str = "1 hour") -> DataFrame:
    """Streaming session windows: the reference sessionizes offline with
    a cumsum of gap jumps (A15); in streaming, Spark's ``session_window``
    maintains the same semantics with watermark-bounded state."""
    with_ts = stream.withColumn("event_time",
                                F.col("TIMESTAMP").cast("timestamp"))
    keys = partition_cols or ["STATION"]
    return (with_ts.withWatermark("event_time", watermark)
            .groupBy(F.session_window("event_time", gap).alias("session"),
                     *keys)
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.avg(value_col).alias(f"{value_col}_mean")))
