"""Command-line interface (reference: rainforest_interface,
rainforest/interface.py + pyproject.toml:39-43 console scripts).

Subcommands mirror the reference's user surface:

  query    — interactive SQL over registered tables (UT() macro works)
  bench    — run the headline benchmark
  qpe      — batch QPE composite from a polar drop directory
  dataset  — run the Phase-2 prepare_input pipeline to parquet
  train    — fit the RF QPE model + bias correction, save model + meta
  evaluate — per-model per-bound QPE score tables (10-min + hourly)
  plot     — evaluation figures (score panels, density scatter, QPE
             map, station map) as SVG/PNG without matplotlib
  curate   — corpus-curation chain (quality/PII/dedup/mixture/shards)
  ingest   — JSONL corpus shards -> parquet, with a quarantine report
  report   — corpus health report (per-source stats, OOV coverage,
             distribution drift)

Usage: python -m rainforest_spark.cli <subcommand> [args]
"""

from __future__ import annotations

import argparse
import json
import sys


def cmd_query(args) -> int:
    from rainforest_spark.catalog import Database

    db = Database()
    for spec in args.table or []:
        name, path = spec.split("=", 1)
        db.add_tables({name: path})
    # printing only -n rows needs no collect: a lazy result runs one
    # show(n), where the RAM-gated collect would take a head and count
    result = db.query(args.sql, to_memory=False, output_file=args.output)
    if args.output is None:
        result.show(args.n)
    return 0


def cmd_bench(args) -> int:
    import bench

    bench.main()
    return 0


def cmd_qpe(args) -> int:
    from rainforest_spark.grid.io import save_grid_npz
    from rainforest_spark.grid.lookup import polar_to_cart_lut
    from rainforest_spark.grid.qpe import (
        apply_polar_masks, polar_to_grid, rain_rate, vertical_composite,
    )
    from rainforest_spark.session import get_spark
    from rainforest_spark.sources.polar_ingest import read_polar_volumes
    from rainforest_spark.testing.fixtures import RADAR_XYZ

    spark = get_spark("rainforest-qpe")
    polar = read_polar_volumes(spark, args.input)
    # one tiny distinct scan names the latest frame, the one the map
    # holds, and its (radar, sweep) pairs — the LUT covers only those
    # instead of the full 5×20 geometry
    present = polar.select("TIMESTAMP", "RADAR", "SWEEP").distinct().collect()
    ts = max((r["TIMESTAMP"] for r in present), default=0)
    present = [r for r in present if r["TIMESTAMP"] == ts]
    polar = polar.filter(polar["TIMESTAMP"] == ts)
    radars = {r["RADAR"]: RADAR_XYZ[r["RADAR"]] for r in present}
    sweeps = sorted({r["SWEEP"] for r in present})
    lut = polar_to_cart_lut(spark, radars, sweeps=sweeps)
    if getattr(args, "status_xml", None):
        # status-derived per-sweep noise replaces the constant SNR floor
        from rainforest_spark.grid.corrections import apply_status_noise
        from rainforest_spark.sources.status_xml import status_noise_table

        docs = [(r, 0, open(args.status_xml).read()) for r in radars]
        polar = apply_status_noise(polar, status_noise_table(spark, docs))
    grid = polar_to_grid(apply_polar_masks(polar), lut, ["zh_lin"])
    if getattr(args, "vpr_xml", None):
        # VPR factor at the sweep-grid beam height (before compositing),
        # multiplicative on linear Z — io_data.py:332-380 semantics
        from rainforest_spark.grid.corrections import (
            apply_vpr_to_zlin, vpr_correction_curve,
        )
        from rainforest_spark.sources.status_xml import vpr_profile_values

        vals, res = vpr_profile_values(open(args.vpr_xml).read())
        curve = vpr_correction_curve(spark, vals, res, sorted(radars)[0])
        grid = apply_vpr_to_zlin(grid, curve, zlin_col="zh_lin",
                                 height_col="height")
    comp = vertical_composite(grid, ["zh_lin"], visib_col=None)
    save_grid_npz(rain_rate(comp), "rain_rate", args.output, timestamp=ts)
    print(json.dumps({"output": args.output, "timestamp": ts}))
    return 0


def cmd_dataset(args) -> int:
    from rainforest_spark.ml.dataset import prepare_input
    from rainforest_spark.session import get_spark

    spark = get_spark("rainforest-dataset")
    dfs = {name: spark.read.parquet(f"{args.input}/{name}.parquet")
           for name in ("gauge", "radar", "reference", "stations", "radars")}
    out = prepare_input(dfs["gauge"], dfs["radar"], dfs["reference"],
                        dfs["stations"], dfs["radars"])
    out.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"output": args.output, "rows": out.count()}))
    return 0


def cmd_train(args) -> int:
    """RF training + bias correction on a prepared dataset (reference
    user surface: rf training from the interface / ml module)."""
    import os

    from pyspark.sql import functions as F

    from rainforest_spark.ml.rf import RandomForestQPE
    from rainforest_spark.session import get_spark

    spark = get_spark("rainforest-train")
    df = spark.read.parquet(args.input)
    if args.features:
        features = args.features.split(",")
    else:  # numeric columns, minus keys and the target
        skip = {args.target, "TIMESTAMP", "STATION"}
        features = [c for c, t in df.dtypes
                    if c not in skip and t in ("double", "float",
                                               "int", "bigint")]
    model = RandomForestQPE(features, target=args.target).fit(df)
    os.makedirs(args.output, exist_ok=True)
    model.model.write().overwrite().save(f"{args.output}/rf_model")
    meta = {
        "features": features,
        "target": args.target,
        "bias_correction_coefs": model.bc.coefs,
        "feature_importances": model.feature_importances(),
    }
    with open(f"{args.output}/model_meta.json", "w") as f:
        json.dump(meta, f, indent=1)
    scored = model.transform(df)
    rmse = (scored.agg(F.sqrt(F.avg(F.pow(
        F.col("prediction_bc") - F.col(args.target), 2))))
        .collect()[0][0])
    print(json.dumps({"output": args.output, "features": len(features),
                      "train_rmse_bc": round(float(rmse), 4)}))
    return 0


def cmd_quality(args) -> int:
    """Model-based quality gate: fit the LogisticRegression quality
    classifier on a labeled seed parquet (text + 0/1 label), score a
    corpus, optionally cut at a threshold."""
    from rainforest_spark.ml.quality import QualityClassifier, quality_filter
    from rainforest_spark.session import get_spark

    spark = get_spark("rainforest-quality")
    seed = spark.read.parquet(args.seed)
    clf = QualityClassifier(text_col=args.text_col,
                            label_col=args.label_col).fit(seed)
    docs = spark.read.parquet(args.input)
    if args.threshold is not None:
        out = quality_filter(docs, clf, args.threshold)
    else:
        out = clf.transform(docs)
    out.write.mode("overwrite").parquet(args.output)
    n_in, n_out = docs.count(), out.count()
    print(json.dumps({"output": args.output, "n_in": n_in,
                      "n_out": n_out,
                      "threshold": args.threshold}))
    return 0


def cmd_shell(args) -> int:
    """Interactive shell (reference user surface: interface.py's
    prompt-toolkit menu loop, rainforest/interface.py:71-405).  The
    reference nests db/qpe submenus; here every operation is already a
    flat subcommand, so the shell is a readline loop that shlex-splits
    each line and dispatches through the same parser — one cached
    SparkSession serves the whole session (get_spark reuses the active
    one), so repeated queries skip the ~8 s JVM start the one-shot CLI
    pays."""
    import shlex

    print("rainforest-spark shell — type a subcommand "
          "(query, qpe, dataset, train, intercompare, evaluate, "
          "curate, report, ingest, media-dedup, db-populate, bench), "
          "'help', or 'quit'", file=sys.stderr)
    rc = 0
    while True:
        try:
            line = input("rainforest> ")
        except EOFError:
            break
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        if line in ("quit", "exit", "q", "e"):
            break
        try:
            argv = shlex.split(line)
        except ValueError as exc:
            print(f"parse error: {exc}", file=sys.stderr)
            rc = 2
            continue
        if argv[0] == "shell":
            print("already in a shell", file=sys.stderr)
            continue
        if argv == ["help"]:
            argv = ["--help"]
        try:
            rc = main(argv)
        except SystemExit as exc:   # argparse error/help: stay alive
            rc = int(exc.code or 0)
        except Exception as exc:    # a failed command must not kill
            print(f"error: {exc}", file=sys.stderr)
            rc = 1
    return rc


def cmd_db_populate(args) -> int:
    """Database populate entry point (reference user surface:
    database/db_populate.py and database_5min/db_populate.py — the
    latter is the same wiring at ``--window-sec 300``).

    ``-t gauge``: slot-fill (5-min odd-slot lead fill at 300 s,
    pass-through at 600 s) + daily-partition upsert keyed
    (STATION, TIMESTAMP).
    ``-t radar``: temporal aggregation of a neighbourhood-aggregated
    observation table at the requested cadence + the same upsert.
    """
    from rainforest_spark.grid.db_build import (
        build_gauge_table, temporal_pair_aggregate,
    )
    from rainforest_spark.session import get_spark
    from rainforest_spark.sources.writers import upsert_daily_partition
    from pyspark.sql import functions as F

    spark = get_spark("rainforest-db-populate")
    df = spark.read.parquet(args.input)
    if args.type == "gauge":
        out = build_gauge_table(df, window_sec=args.window_sec)
        keys = ["STATION", "TIMESTAMP"]
    else:
        variables = sorted({c[:-5] for c in df.columns
                            if c.endswith("_mean")})
        out = temporal_pair_aggregate(df, variables,
                                      window_sec=args.window_sec)
        out = out.withColumn(
            "day", F.date_format(F.col("TIMESTAMP").cast("timestamp"),
                                 "yyyyMMdd"))
        keys = ["TIMESTAMP", "STATION", "RADAR", "SWEEP", "NX", "NY"]
    upsert_daily_partition(spark, out, args.output, keys)
    n = spark.read.parquet(args.output).count()
    print(json.dumps({"type": args.type, "window_sec": args.window_sec,
                      "output": args.output, "rows_total": n}))
    return 0


def cmd_intercompare(args) -> int:
    """Multi-model K-fold intercomparison (reference user surface:
    rf.py model_intercomparison + intercomparison_config_example.yml):
    several RF configs + reference-product columns through the same
    event CV, one tidy score table out."""
    import os

    from pyspark.sql import functions as F

    from rainforest_spark.ml.intercomparison import (
        intercomparison_summary, model_intercomparison,
    )
    from rainforest_spark.session import get_spark

    spark = get_spark("rainforest-intercompare")
    df = spark.read.parquet(args.input)
    models = json.loads(open(args.config).read()
                        if os.path.exists(args.config) else args.config)
    scores = model_intercomparison(
        df, models,
        reference_products=(args.reference_products.split(",")
                            if args.reference_products else []),
        target=args.target, k=args.k,
        temp_col=args.temp_col or None)
    if args.output:
        scores.write.mode("overwrite").parquet(args.output)
    summary = intercomparison_summary(scores)
    head = {f"{r['model']}": round(r["RMSE_mean"], 4)
            for r in summary.filter(
                (F.col("timeagg") == "10min")
                & (F.col("phase") == "all")
                & (F.col("bound") == "all")).collect()}
    print(json.dumps({"output": args.output,
                      "models": sorted(models),
                      "rmse_10min_all": head}))
    return 0


def cmd_evaluate(args) -> int:
    """QPE-run evaluation: per-model per-bound score tables at 10-min
    and hourly resolution (reference qpe/evaluation.py user surface)."""
    import pandas as pd

    from rainforest_spark.grid.evaluation import evaluate_qpe
    from rainforest_spark.grid.lookup import station_to_pixel_lut
    from rainforest_spark.session import get_spark

    spark = get_spark("rainforest-evaluate")
    grids = spark.read.parquet(args.grids)
    gauge = spark.read.parquet(args.gauge)
    stations = pd.read_parquet(args.stations)
    # evaluation extracts at the station's centre pixel (reference
    # evaluation.py:127-146), not the retrieval neighbourhood
    lut = station_to_pixel_lut(spark, stations, neighbours=0).select(
        "STATION", "x_idx", "y_idx").distinct()
    scores = evaluate_qpe(grids, gauge, lut)
    scores.write.mode("overwrite").parquet(args.output)
    n = scores.count()
    print(json.dumps({"output": args.output, "score_rows": n}))
    return 0


def cmd_plot(args) -> int:
    """Figure rendering over engine-reduced plot data (reference
    common/graphics.py qpe_plot / score_plot / qpe_scatterplot +
    performance/eval_plot.py plotModelMapsSubplots; matplotlib-free —
    own SVG writer + the repo's PNG codec).

    kinds:
      scores   — score parquet (evaluate/intercompare output) → bar
                 panels per intensity bound (SVG)
      scatter  — (model, est, ref) parquet → density panels via the
                 distributed 2-D binning job (SVG)
      qpe-map  — composite grid parquet (x_idx, y_idx, value) → color-
                 mapped precipitation raster (PNG, own encoder)
      stations — per-station score parquet + station dim → score map
                 (SVG)
      fit-metrics — wide per-(precip, bound) fit score parquet →
                 metric x intensity-range bar grid (graphics.py:378
                 plot_fit_metrics; SVG)
      crossval — tidy intercomparison scores parquet → per-phase
                 grouped bars with ±std whiskers (graphics.py:424
                 plot_crossval_stats; SVG)
      model-maps — per-station score parquet + station dim → multi-
                 model map GRID with shared colorbar (eval_plot.py:193
                 plotModelMapsSubplots; SVG)
    """
    from rainforest_spark.plots import (crossval_stats_panel,
                                        fit_metrics_panel,
                                        render_qpe_png, scatter_density,
                                        score_panel, station_score_map,
                                        svg_crossval_stats,
                                        svg_fit_metrics, svg_model_maps,
                                        svg_scatter_density,
                                        svg_score_panels, svg_station_map)
    from rainforest_spark.session import get_spark

    spark = get_spark("rainforest-plot")
    df = spark.read.parquet(args.input)
    if args.kind == "scores":
        rows = score_panel(df).collect()  # models × bounds × scores
        svg_score_panels(rows, title=args.title, path=args.output)
    elif args.kind == "scatter":
        lo, hi, nb = args.lo, args.hi, args.bins
        cells = scatter_density(df, args.est_col, args.ref_col, lo, hi,
                                nb, model_col=None).collect()
        svg_scatter_density(cells, lo, hi, nb, title=args.title,
                            path=args.output)
    elif args.kind == "qpe-map":
        import numpy as np
        pts = df.select("x_idx", "y_idx", args.value_col).collect()
        h = max(r["y_idx"] for r in pts) + 1
        w = max(r["x_idx"] for r in pts) + 1
        grid = np.full((h, w), float("nan"))
        for r in pts:
            grid[r["y_idx"], r["x_idx"]] = r[args.value_col]
        render_qpe_png(grid[::-1], path=args.output,
                       upscale=args.upscale)
    elif args.kind == "qpe-movie":
        import numpy as np

        from rainforest_spark.plots import render_qpe_gif
        pts = df.select(args.ts_col, "x_idx", "y_idx",
                        args.value_col).collect()
        h = max(r["y_idx"] for r in pts) + 1
        w = max(r["x_idx"] for r in pts) + 1
        by_ts: dict = {}
        for r in pts:
            by_ts.setdefault(r[args.ts_col], []).append(r)
        frames = []
        for ts in sorted(by_ts):
            g = np.full((h, w), float("nan"))
            for r in by_ts[ts]:
                g[r["y_idx"], r["x_idx"]] = r[args.value_col]
            frames.append(g[::-1])
        render_qpe_gif(frames, path=args.output, upscale=args.upscale)
    elif args.kind == "fit-metrics":
        from pyspark.sql import functions as F
        if args.agg is not None and "aggregation" in df.columns:
            df = df.filter(F.col("aggregation") == args.agg)
        if args.fraction is not None and "fraction" in df.columns:
            df = df.filter(F.col("fraction") == args.fraction)
        rows = fit_metrics_panel(df, precip_col=args.precip_col).collect()
        t = args.title or ", ".join(
            s for s in (args.fraction and f"fraction={args.fraction}",
                        args.agg and f"aggregation={args.agg}") if s)
        svg_fit_metrics(rows, title=t, path=args.output)
    elif args.kind == "crossval":
        from pyspark.sql import functions as F

        from rainforest_spark.ml.intercomparison import (
            intercomparison_summary,
        )
        summary = (df if any(c.endswith("_mean") for c in df.columns)
                   else intercomparison_summary(df))
        if args.timeagg is not None and "timeagg" in summary.columns:
            summary = summary.filter(F.col("timeagg") == args.timeagg)
        if args.bound is not None and "bound" in summary.columns:
            summary = summary.filter(F.col("bound") == args.bound)
        rows = crossval_stats_panel(summary).collect()
        t = args.title or ", ".join(
            s for s in (args.timeagg and f"Agg: {args.timeagg}",
                        args.bound and f"R-range {args.bound}") if s)
        svg_crossval_stats(rows, title=t, path=args.output)
    elif args.kind == "model-maps":
        coords = spark.read.parquet(args.stations)
        rows = station_score_map(df, coords, args.score).collect()
        svg_model_maps(rows, args.score, title=args.title,
                       ncols=args.ncols, path=args.output)
    else:  # stations
        coords = spark.read.parquet(args.stations)
        rows = station_score_map(df, coords, args.score).collect()
        svg_station_map(rows, args.score, title=args.title,
                        path=args.output)
    print(json.dumps({"kind": args.kind, "output": args.output}))
    return 0


def cmd_curate(args) -> int:
    """Full corpus-curation chain to parquet (quality gate → PII scrub
    → dedup → decontamination → mixture/caps → split + shards), with
    the per-stage survivor report on stdout."""
    from rainforest_spark.operators.curation import (
        CurationConfig, curate_corpus,
    )
    from rainforest_spark.session import get_spark

    spark = get_spark("rainforest-curate")
    docs = spark.read.parquet(args.input)
    cfg = CurationConfig(
        min_tokens=args.min_tokens,
        max_dup_ngram_ratio=args.max_dup_ngram_ratio,
        redact_pii=not args.no_pii,
        neardup_threshold=args.neardup_threshold,
        strip_boilerplate=args.strip_boilerplate,
        token_budget=(tuple(int(x) for x in args.token_budget.split("/"))
                      if args.token_budget else None),
        mixture_rates=(json.loads(args.mixture_rates)
                       if args.mixture_rates else None),
        cap_per_source=args.cap_per_source,
        shard_size=args.shard_size,
        salt=args.salt)
    eval_docs = (spark.read.parquet(args.eval_set)
                 if args.eval_set else None)
    counts: dict = {}
    out = curate_corpus(docs, args.id_col, args.text_col,
                        args.source_col, config=cfg,
                        eval_docs=eval_docs, stage_counts=counts)
    (out.write.mode("overwrite")
        .partitionBy("split").parquet(args.output))
    print(json.dumps({"output": args.output, "stages": counts}))
    return 0


def cmd_media_dedup(args) -> int:
    """Image near-dup report over a directory of media files: binary
    scan -> perceptual hash (real decode) -> banded Hamming pairs ->
    canonical keep list.  Optionally pairs the batch against a
    persisted corpus signature table instead of itself."""
    from rainforest_spark.operators.dedup import (
        hamming_neardup_pairs, incremental_hamming_neardup,
        neardup_clusters,
    )
    from rainforest_spark.operators.multimodal import image_phash
    from rainforest_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark("rainforest-media-dedup")
    files = (spark.read.format("binaryFile").load(args.input)
             .select(F.col("path").alias("media_path"), "content"))
    sig = (image_phash(files)
           .select("media_path", "decoded", "phash"))
    n_undecodable = sig.filter(~F.col("decoded")).count()
    sig = (sig.filter(F.col("phash").isNotNull())
           .withColumn("media_id",
                       F.xxhash64("media_path"))).cache()
    if args.corpus_sigs:
        corpus = spark.read.parquet(args.corpus_sigs)
        # the corpus table carries its own id column (img_id,
        # media_path, ... — whatever the pipeline persisted); any
        # non-phash column works as the pair label
        cid = next(c for c in corpus.columns if c != "phash")
        pairs = incremental_hamming_neardup(
            sig, corpus, "media_id", "phash", corpus_id_col=cid,
            max_hamming=args.max_hamming)
        n_pairs = pairs.count()
        flagged_ids = pairs.select("batch_id").distinct()
        flagged = flagged_ids.count()
        if args.output:
            # per-file flag table: duplicate_of_corpus marks batch
            # items with a corpus near-match (-o was silently ignored
            # in this mode before)
            (sig.join(flagged_ids.withColumnRenamed("batch_id",
                                                    "media_id")
                      .withColumn("duplicate_of_corpus", F.lit(True)),
                      "media_id", "left")
             .select("media_path", "phash",
                     F.coalesce("duplicate_of_corpus", F.lit(False))
                     .alias("duplicate_of_corpus"))
             .write.mode("overwrite").parquet(args.output))
        report = {"mode": "vs-corpus", "n_pairs": n_pairs,
                  "n_flagged": flagged}
    else:
        pairs = hamming_neardup_pairs(sig, "media_id", "phash",
                                      max_hamming=args.max_hamming)
        clusters = neardup_clusters(pairs, out_id="media_id",
                                    cluster_col="cluster_id")
        labeled = (sig.join(clusters, "media_id", "left")
                   .withColumn("keep",
                               F.coalesce("cluster_id", F.col("media_id"))
                               == F.col("media_id")))
        if args.output:
            (labeled.select("media_path", "phash", "keep")
             .write.mode("overwrite").parquet(args.output))
        report = {"mode": "self",
                  "n_pairs": pairs.count(),
                  "n_kept": labeled.filter("keep").count()}
    report.update({"n_files": files.count(),
                   "n_undecodable": n_undecodable})
    print(json.dumps(report))
    return 0


def cmd_compact(args) -> int:
    """Small-file compaction sweep over a partitioned parquet store
    (the upsert / ivf_append maintenance pass)."""
    from rainforest_spark.session import get_spark
    from rainforest_spark.sources.writers import compact_partitions

    spark = get_spark("rainforest-compact")
    done = compact_partitions(
        spark, args.path, partition_col=args.partition_col,
        target_file_mb=args.target_file_mb, min_files=args.min_files,
        partitions=args.partitions.split(",") if args.partitions else None)
    print(json.dumps({"path": args.path, "rewritten": done}))
    return 0


def cmd_zorder(args) -> int:
    """Rewrite a parquet table clustered on the Z-order of the given
    integer columns (sources/layout.zorder_write) and report the
    resulting per-column clustering overlap."""
    from rainforest_spark.session import get_spark
    from rainforest_spark.sources.layout import (
        clustering_overlap, layout_report, zorder_write,
    )

    spark = get_spark("rainforest-zorder")
    cols = args.columns.split(",")
    df = spark.read.parquet(args.input)
    zorder_write(df, args.output, cols, num_files=args.num_files,
                 bits=args.bits)
    rep = layout_report(spark, args.output, cols)
    overlap = {c: round(clustering_overlap(rep, c), 3) for c in cols}
    print(json.dumps({"output": args.output, "files": rep.count(),
                      "columns": cols, "overlap": overlap}))
    return 0


def cmd_snapshot(args) -> int:
    """Versioned snapshot store operations (sources/versioned.py):
    commit a parquet table as the next version, show history, read a
    version out to plain parquet, or vacuum old versions."""
    from rainforest_spark.session import get_spark
    from rainforest_spark.sources import versioned as V

    spark = get_spark("rainforest-snapshot")
    if args.action == "commit":
        df = spark.read.parquet(args.input)
        v = V.commit_snapshot(df, args.store, mode=args.mode)
        print(json.dumps({"store": args.store, "version": v,
                          "mode": args.mode}))
    elif args.action == "history":
        print(json.dumps({"store": args.store,
                          "history": V.history(args.store)}))
    elif args.action == "read":
        df = V.read_snapshot(spark, args.store, version=args.version)
        df.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"store": args.store, "version": args.version
                          or V.latest_version(args.store),
                          "output": args.output, "rows": df.count()}))
    elif args.action == "vacuum":
        res = V.vacuum(args.store, keep_versions=args.keep)
        print(json.dumps({"store": args.store, **res}))
    return 0


def cmd_drift(args) -> int:
    """Distribution drift between two parquet snapshots of a numeric
    column: PSI over fixed bins + the two-sample KS statistic — the
    one-command answer to "did this release shift the data?"."""
    from pyspark.sql import functions as F

    from rainforest_spark.operators.stats import ks_2sample, psi_profile
    from rainforest_spark.session import get_spark

    spark = get_spark("rainforest-drift")
    a = spark.read.parquet(args.baseline).select(
        F.col(args.column).alias("v"), F.lit(1).alias("e"))
    b = spark.read.parquet(args.current).select(
        F.col(args.column).alias("v"), F.lit(0).alias("e"))
    u = a.unionByName(b)
    lo, hi = args.lo, args.hi
    if lo is None or hi is None:
        mm = u.agg(F.min("v").alias("lo"), F.max("v").alias("hi")) \
            .collect()[0]
        lo = mm["lo"] if lo is None else lo
        hi = mm["hi"] if hi is None else hi
    width = (hi - lo) / args.bins if hi > lo else 1.0
    psi = psi_profile(u, "v", (F.col("e") == 1), lo=lo, width=width,
                      n_bins=args.bins)
    psi_total = psi.select("psi_total").limit(1).collect()[0][0]
    ks = ks_2sample(u, "v", (F.col("e") == 1)).collect()[0]
    print(json.dumps({
        "column": args.column, "bins": args.bins,
        "lo": lo, "hi": hi,
        "psi": psi_total,
        "ks_d": ks["ks_d"], "ks_at": ks["ks_at"],
        "n_baseline": ks["n_a"], "n_current": ks["n_b"]}))
    return 0


def cmd_audit(args) -> int:
    """Categorical-association audit between two columns of one
    parquet: per-column entropy, mutual information / NMI (leakage),
    Cohen's kappa (agreement) — the one-command answer to "does column
    A give away column B?"."""
    from rainforest_spark.operators.stats import (
        cohens_kappa, entropy_profile, mutual_information,
    )
    from rainforest_spark.session import get_spark

    spark = get_spark("rainforest-audit")
    df = spark.read.parquet(args.input)
    mi = mutual_information(df, args.col_a, args.col_b).collect()[0]
    kap = cohens_kappa(df, args.col_a, args.col_b).collect()[0]
    ent = {r["column"]: r for r in
           entropy_profile(df, [args.col_a, args.col_b]).collect()}
    print(json.dumps({
        "n": mi["n"],
        "entropy": {c: {"nats": ent[c]["entropy_nats"],
                        "n_distinct": ent[c]["n_distinct"],
                        "normalized": ent[c]["normalized_entropy"]}
                    for c in ent},
        "mutual_information": {"nats": mi["mi_nats"], "nmi": mi["nmi"]},
        "kappa": {"po": kap["po"], "pe": kap["pe"],
                  "kappa": kap["kappa"]},
    }))
    return 0


def cmd_novelty(args) -> int:
    """Batch semantic novelty of an ingest batch vs the persisted
    corpus (embedding-space analogue of the n-gram novelty report)."""
    from rainforest_spark.operators.similarity import embedding_novelty
    from rainforest_spark.session import get_spark

    spark = get_spark("rainforest-novelty")
    batch = spark.read.parquet(args.batch)
    corpus = spark.read.parquet(args.corpus)
    out = embedding_novelty(batch, corpus, args.id_col, args.vec_col)
    if args.min_novelty is not None:
        from pyspark.sql import functions as F
        out = out.filter(F.col("novelty").isNull()
                         | (F.col("novelty") >= args.min_novelty))
    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(json.dumps({"output": args.output, "rows": n,
                      "min_novelty": args.min_novelty}))
    return 0


def cmd_storage(args) -> int:
    """Object-storage interaction (reference common/interact_cloud.py):
    list / download / upload against the artifact bucket.  Requires
    boto3 + RAINFOREST_S3_ENDPOINT + AWS credentials in the env;
    errors out with the recipe otherwise."""
    from rainforest_spark.sources.object_storage import ArtifactStore

    store = ArtifactStore(bucket=args.bucket)
    if args.action == "check":
        print(json.dumps({"file": store.check_file(args.name)}))
        return 0
    if not store.available:
        print("object storage not configured: install boto3 and set "
              "RAINFOREST_S3_ENDPOINT / AWS_ACCESS_KEY_ID / "
              "AWS_SECRET_ACCESS_KEY", file=sys.stderr)
        return 1
    if args.action == "list":
        print(json.dumps({"files": store.list_files()}))
    elif args.action == "upload":
        store.upload_file(args.name)
        print(json.dumps({"uploaded": args.name}))
    else:  # download
        import os
        store.check_file(os.path.join(args.outputfolder or ".",
                                      os.path.basename(args.name)))
        print(json.dumps({"downloaded": args.name}))
    return 0


def cmd_ingest(args) -> int:
    """JSONL shards -> parquet: schema-enforced read, corrupt lines
    quarantined to a side file, shard-bounded parquet out."""
    from rainforest_spark.session import get_spark
    from rainforest_spark.sources.corpus_io import DOC_SCHEMA, read_jsonl

    spark = get_spark("rainforest-ingest")
    good, bad = read_jsonl(spark, args.input,
                           schema=args.schema or DOC_SCHEMA)
    good.write.mode("overwrite").parquet(args.output)
    n_bad = 0
    if args.quarantine:
        bad.write.mode("overwrite").text(args.quarantine)
        n_bad = spark.read.text(args.quarantine).count()
    n = spark.read.parquet(args.output).count()
    print(json.dumps({"output": args.output, "rows": n,
                      "quarantined": n_bad}))
    return 0


def cmd_report(args) -> int:
    """Corpus health report: per-source stats, tokenizer OOV coverage,
    and distribution drift vs the corpus — the one-shot summary a
    curation run publishes alongside its output."""
    from pyspark.sql import functions as F

    from rainforest_spark.operators.text_analysis import (
        corpus_cardinalities, corpus_drift_jsd, heaps_fit,
        source_concentration, type_token_ratio, vocab_coverage,
        zipf_fit,
    )
    from rainforest_spark.session import get_spark

    spark = get_spark("rainforest-report")
    docs = spark.read.parquet(args.input)
    group = args.group_col
    stats = (docs.groupBy(group).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars")))
    cov = vocab_coverage(docs, group, "text", vocab_k=args.vocab_k)
    drift = corpus_drift_jsd(docs, group, "text")
    # HLL++ sketch panel (distinct docs/terms/grams) — the scale path;
    # n_terms from the drift join is the group's exact present-vocab
    # size, the sketch adds content-distinct docs and the gram space
    card = (corpus_cardinalities(docs, group, "text")
            .select(group,
                    F.col("n_docs_distinct"),
                    F.col("n_grams").alias("approx_ngrams")))
    # distribution panel: token-mass concentration (Lorenz rank +
    # cumulative share + corpus Gini) and lexical richness per group
    conc = source_concentration(docs, group, "text").select(
        group, F.col("rank").alias("mass_rank"), "cum_share", "gini")
    ttr = type_token_ratio(docs, group, "text").select(
        group, F.col("ttr"))
    out = (stats.join(cov.drop("total_tokens"), group)
           .join(drift, group).join(card, group)
           .join(conc, group).join(ttr, group))
    if args.output:
        out.coalesce(1).write.mode("overwrite").parquet(args.output)
    rows = {r[group]: {k: v for k, v in r.asDict().items() if k != group}
            for r in out.collect()}
    # corpus-level power-law panel: Zipf slope over the vocab, Heaps
    # beta over the growth curve — template floods and tokenizer damage
    # show up here before they show up downstream.  Heaps needs the id
    # column (growth curve order); a corpus without it still gets the
    # rest of the report instead of a crash.
    zipf = zipf_fit(docs, "text").collect()[0].asDict()
    if args.id_col in docs.columns:
        heaps = heaps_fit(docs, args.id_col, "text").collect()[0].asDict()
    else:
        heaps = {"skipped": f"no column {args.id_col!r} "
                            f"(set --id-col)"}
    print(json.dumps({"groups": len(rows), "report": rows,
                      "zipf": zipf, "heaps": heaps},
                     default=str))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="rainforest-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    q = sub.add_parser("query", help="SQL over registered tables")
    q.add_argument("sql")
    q.add_argument("-t", "--table", action="append",
                   help="name=path.parquet (repeatable)")
    q.add_argument("-o", "--output", default=None)
    q.add_argument("-n", type=int, default=20)
    q.set_defaults(fn=cmd_query)

    b = sub.add_parser("bench", help="run headline benchmark")
    b.set_defaults(fn=cmd_bench)

    g = sub.add_parser("qpe", help="batch QPE from a polar drop dir")
    g.add_argument("input")
    g.add_argument("output")
    g.add_argument("--status-xml", default=None,
                   help="radar status XML: per-sweep noise SNR mask")
    g.add_argument("--vpr-xml", default=None,
                   help="VPR profile XML: height-dependent correction")
    g.set_defaults(fn=cmd_qpe)

    d = sub.add_parser("dataset", help="prepare_input to parquet")
    d.add_argument("input")
    d.add_argument("output")
    d.set_defaults(fn=cmd_dataset)

    t = sub.add_parser("train", help="fit RF + bias correction")
    t.add_argument("input", help="prepared dataset parquet")
    t.add_argument("output", help="model output dir")
    t.add_argument("--features", default=None,
                   help="comma-separated feature columns "
                        "(default: all numeric non-key columns)")
    t.add_argument("--target", default="target_mmh")
    t.set_defaults(fn=cmd_train)

    ql = sub.add_parser("quality",
                        help="fit + apply the trainable quality gate")
    ql.add_argument("input", help="corpus parquet to score")
    ql.add_argument("--seed", required=True,
                    help="labeled seed parquet (text + 0/1 label)")
    ql.add_argument("-o", "--output", required=True)
    ql.add_argument("--threshold", type=float, default=None,
                    help="cut at this probability (default: score only)")
    ql.add_argument("--text-col", default="text")
    ql.add_argument("--label-col", default="label")
    ql.set_defaults(fn=cmd_quality)

    sh = sub.add_parser("shell",
                        help="interactive shell over all subcommands")
    sh.set_defaults(fn=cmd_shell)

    dbp = sub.add_parser("db-populate",
                         help="gauge/radar database upsert (600 s "
                              "classic, 300 s = 5-min database)")
    dbp.add_argument("-t", "--type", choices=["gauge", "radar"],
                     required=True)
    dbp.add_argument("input", help="input parquet (gauge rows, or a "
                                   "neighbourhood-aggregated radar "
                                   "observation table)")
    dbp.add_argument("output", help="daily-partitioned database path")
    dbp.add_argument("--window-sec", type=int, default=600,
                     choices=[300, 600])
    dbp.set_defaults(fn=cmd_db_populate)

    ic = sub.add_parser("intercompare",
                        help="K-fold CV over several RF configs + "
                             "reference products")
    ic.add_argument("input", help="prepared dataset parquet "
                                  "(the `dataset` command's output)")
    ic.add_argument("config",
                    help="JSON file or literal: {model: {features: "
                         "[...], num_trees, max_depth, bc_degree}}")
    ic.add_argument("-o", "--output", default=None,
                    help="tidy per-fold score parquet")
    ic.add_argument("--reference-products", default="",
                    help="comma-separated df columns scored as-is "
                         "(RZC, CPC, ...)")
    ic.add_argument("--target", default="target_mmh")
    ic.add_argument("--temp-col", default="",
                    help="temperature column for solid/liquid rows")
    ic.add_argument("-k", type=int, default=5)
    ic.set_defaults(fn=cmd_intercompare)

    e = sub.add_parser("evaluate", help="QPE-run score tables")
    e.add_argument("grids", help="long grids parquet "
                                 "(model, timestep, file_id, pixel, value)")
    e.add_argument("gauge", help="gauge parquet (STATION, timestep, ref_mmh)")
    e.add_argument("stations", help="stations parquet (Abbrev, X, Y)")
    e.add_argument("output", help="scores parquet path")
    e.set_defaults(fn=cmd_evaluate)

    pl = sub.add_parser("plot", help="render evaluation figures "
                        "(SVG/PNG, matplotlib-free)")
    pl.add_argument("kind", choices=["scores", "scatter", "qpe-map",
                                     "qpe-movie", "stations",
                                     "fit-metrics", "crossval",
                                     "model-maps"])
    pl.add_argument("input", help="input parquet (scores / pairs / "
                    "grid / station scores)")
    pl.add_argument("output", help="output .svg or .png path")
    pl.add_argument("--title", default="")
    pl.add_argument("--est-col", default="est_mmh")
    pl.add_argument("--ref-col", default="ref_mmh")
    pl.add_argument("--value-col", default="value")
    pl.add_argument("--ts-col", default="timestep")
    pl.add_argument("--score", default="RMSE")
    pl.add_argument("--stations", default=None,
                    help="station dim parquet (stations kind)")
    pl.add_argument("--lo", type=float, default=0.0)
    pl.add_argument("--hi", type=float, default=100.0)
    pl.add_argument("--bins", type=int, default=60)
    pl.add_argument("--upscale", type=int, default=1)
    pl.add_argument("--precip-col", default="precip",
                    help="precip-type column (fit-metrics kind)")
    pl.add_argument("--agg", default=None,
                    help="aggregation filter (fit-metrics kind)")
    pl.add_argument("--fraction", default=None,
                    help="train/test fraction filter (fit-metrics kind)")
    pl.add_argument("--timeagg", default=None,
                    help="time-aggregation filter (crossval kind)")
    pl.add_argument("--bound", default=None,
                    help="intensity-bound filter (crossval kind)")
    pl.add_argument("--ncols", type=int, default=3,
                    help="subplot grid columns (model-maps kind)")
    pl.set_defaults(fn=cmd_plot)

    c = sub.add_parser("curate", help="corpus curation chain to parquet")
    c.add_argument("input", help="documents parquet")
    c.add_argument("output", help="curated output dir (split-partitioned)")
    c.add_argument("--id-col", default="doc_id")
    c.add_argument("--text-col", default="text")
    c.add_argument("--source-col", default="source")
    c.add_argument("--min-tokens", type=int, default=10)
    c.add_argument("--max-dup-ngram-ratio", type=float, default=0.3)
    c.add_argument("--no-pii", action="store_true",
                   help="skip the PII scrub stage")
    c.add_argument("--neardup-threshold", type=float, default=0.8)
    c.add_argument("--strip-boilerplate", action="store_true",
                   help="per-source boilerplate tile removal before dedup")
    c.add_argument("--token-budget", default=None,
                   help="NUM/DEN fraction of corpus tokens to keep "
                        "(best-first), e.g. 3/5")
    c.add_argument("--mixture-rates", default=None,
                   help='JSON source->rate map, e.g. \'{"web":0.5}\'')
    c.add_argument("--cap-per-source", type=int, default=None)
    c.add_argument("--shard-size", type=int, default=1024)
    c.add_argument("--eval-set", default=None,
                   help="eval-set parquet for decontamination")
    c.add_argument("--salt", default="curate-v1")
    c.set_defaults(fn=cmd_curate)

    r = sub.add_parser("report", help="corpus health report")
    r.add_argument("input", help="documents parquet path")
    r.add_argument("-o", "--output", help="optional parquet output")
    r.add_argument("--group-col", default="source")
    r.add_argument("--id-col", default="doc_id")
    r.add_argument("--vocab-k", type=int, default=500)
    r.set_defaults(fn=cmd_report)

    cp = sub.add_parser("compact", help="small-file compaction sweep "
                        "over a partitioned parquet store")
    cp.add_argument("path")
    cp.add_argument("--partition-col", default="day")
    cp.add_argument("--target-file-mb", type=int, default=128)
    cp.add_argument("--min-files", type=int, default=4)
    cp.add_argument("--partitions", default=None,
                    help="comma-separated partition values to sweep")
    cp.set_defaults(fn=cmd_compact)

    zo = sub.add_parser("zorder", help="rewrite a parquet table "
                        "Z-order-clustered on integer columns")
    zo.add_argument("input")
    zo.add_argument("output")
    zo.add_argument("-c", "--columns", required=True,
                    help="comma-separated integer columns to interleave")
    zo.add_argument("-n", "--num-files", type=int, default=16)
    zo.add_argument("--bits", type=int, default=16)
    zo.set_defaults(fn=cmd_zorder)

    sn = sub.add_parser("snapshot", help="versioned snapshot store: "
                        "commit/history/read/vacuum")
    sn.add_argument("action",
                    choices=["commit", "history", "read", "vacuum"])
    sn.add_argument("store")
    sn.add_argument("-i", "--input", help="parquet to commit")
    sn.add_argument("-o", "--output", help="parquet dir for read")
    sn.add_argument("--mode", default="append",
                    choices=["append", "overwrite"])
    sn.add_argument("--version", type=int, default=None)
    sn.add_argument("--keep", type=int, default=1)
    sn.set_defaults(fn=cmd_snapshot)

    dr = sub.add_parser("drift", help="PSI + KS drift between two "
                        "parquet snapshots of a numeric column")
    dr.add_argument("baseline")
    dr.add_argument("current")
    dr.add_argument("-c", "--column", required=True)
    dr.add_argument("--bins", type=int, default=10)
    dr.add_argument("--lo", type=float, default=None)
    dr.add_argument("--hi", type=float, default=None)
    dr.set_defaults(fn=cmd_drift)

    au = sub.add_parser("audit", help="entropy + mutual-information + "
                        "kappa association audit between two columns")
    au.add_argument("input", help="input parquet")
    au.add_argument("--col-a", required=True)
    au.add_argument("--col-b", required=True)
    au.set_defaults(fn=cmd_audit)

    nv = sub.add_parser("novelty", help="semantic novelty of a batch "
                        "vs the persisted corpus (embeddings)")
    nv.add_argument("batch", help="batch parquet (id + vector col)")
    nv.add_argument("corpus", help="corpus parquet (same schema)")
    nv.add_argument("output")
    nv.add_argument("--id-col", default="vec_id")
    nv.add_argument("--vec-col", default="embedding")
    nv.add_argument("--min-novelty", type=float, default=None,
                    help="drop rows below this novelty (NULLs pass)")
    nv.set_defaults(fn=cmd_novelty)

    st = sub.add_parser("storage", help="object-storage list/upload/"
                        "download (boto3- and env-gated)")
    st.add_argument("action",
                    choices=["list", "upload", "download", "check"])
    st.add_argument("name", nargs="?", default=None)
    st.add_argument("-b", "--bucket", default="rainforest")
    st.add_argument("-o", "--outputfolder", default=".")
    st.set_defaults(fn=cmd_storage)

    i = sub.add_parser("ingest", help="JSONL shards -> parquet")
    i.add_argument("input", help="JSONL path/glob (plain or .gz)")
    i.add_argument("output", help="parquet output dir")
    i.add_argument("--schema", default=None,
                   help="DDL schema string (default: documents schema)")
    i.add_argument("--quarantine", default=None,
                   help="where to write corrupt raw lines (text)")
    i.set_defaults(fn=cmd_ingest)

    md = sub.add_parser("media-dedup",
                        help="image near-dup report (pHash)")
    md.add_argument("input", help="media dir/glob (binaryFile source)")
    md.add_argument("-o", "--output", default=None,
                    help="parquet (media_path, phash, keep)")
    md.add_argument("--corpus-sigs", default=None,
                    help="persisted (id, phash) parquet to dedup against")
    md.add_argument("--max-hamming", type=int, default=7)
    md.set_defaults(fn=cmd_media_dedup)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
