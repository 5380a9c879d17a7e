"""Streaming corpus ingest curation.

Continuous training-data ingest (a crawler drop directory, a Kafka-ish
file queue) runs the same gates as the batch curation chain; the
stateless stages — quality gate, PII scrub, fingerprinting — reuse the
EXACT batch column expressions, so a document admitted by the stream
is byte-for-byte the document the batch pipeline would have produced.
Only dedup needs state: one row per content fingerprint with
watermark-bounded expiry (`dropDuplicatesWithinWatermark`), because an
unbounded fingerprint set would OOM on an infinite stream.

Batch/stream parity is therefore exact for documents whose duplicates
arrive within the watermark; a duplicate arriving later than the
watermark re-admits (the documented trade of bounded state — the batch
dedup over the accumulated store remains the backstop, same as the
reference's daily batch pass behind its RT daemon).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rainforest_spark.operators import text_analysis as TA


def dedup_stream(stream: DataFrame, keys: list[str],
                 ts_col: str = "event_time",
                 watermark: str = "30 minutes") -> DataFrame:
    """Streaming exact deduplication for ingest pipelines: drop repeated
    keys (e.g. re-delivered scan files, duplicate document ids) with
    bounded state.

    ``dropDuplicatesWithinWatermark`` keeps one row per key and expires
    key state past the watermark — the streaming analogue of the batch
    fingerprint dedup (operators/dedup.py), sized for continuous
    training-data ingest where an unbounded dedup state would OOM.
    """
    with_ts = stream
    if dict(stream.dtypes).get(ts_col) != "timestamp":
        with_ts = stream.withColumn(ts_col,
                                    F.col(ts_col).cast("timestamp"))
    return (with_ts.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(keys))


def curate_stream(stream: DataFrame, text_col: str = "text",
                  ts_col: str = "ingest_ts",
                  min_tokens: int = 10,
                  max_dup_ngram_ratio: float = 0.3,
                  redact_pii: bool = True,
                  watermark: str = "30 minutes",
                  known_fingerprints: DataFrame | None = None) -> DataFrame:
    """Quality gate → PII scrub → fingerprint → corpus exclusion →
    watermarked dedup, as one streaming transformation (no shuffle
    before the dedup state).

    ``known_fingerprints`` (a static DataFrame with a ``fingerprint``
    column — in production the accumulated corpus store's fingerprint
    table) closes the watermark hole for ALREADY-INGESTED content: the
    in-stream dedup state expires with the watermark, but a document
    the corpus already holds is dropped by a stream-static LEFT ANTI
    join no matter when it re-arrives.  The static side re-resolves
    per micro-batch, so a corpus store updated between batches is
    picked up without restart; at scale it is a parquet table
    bucketed/sorted by fingerprint, and the anti join's stream side is
    the (small) micro-batch.
    """
    s = (stream
         .filter(TA.token_count(text_col) >= min_tokens)
         .filter(F.coalesce(TA.dup_ngram_ratio(text_col), F.lit(0.0))
                 <= max_dup_ngram_ratio))
    if redact_pii:
        s = s.withColumn(text_col, TA.pii_redact(text_col))
    s = s.withColumn("fingerprint", TA.fingerprint(text_col))
    if known_fingerprints is not None:
        s = s.join(known_fingerprints.select("fingerprint"),
                   "fingerprint", "left_anti")
    return dedup_stream(s, ["fingerprint"], ts_col=ts_col,
                        watermark=watermark)


def curate_media_stream(stream: DataFrame, id_col: str = "media_id",
                        content_col: str = "content",
                        ts_col: str = "ingest_ts",
                        corpus_sigs: DataFrame | None = None,
                        max_hamming: int = 7,
                        watermark: str = "30 minutes",
                        max_corpus_sigs: int = 25_000_000) -> DataFrame:
    """Streaming MEDIA ingest curation: the image/audio analogue of
    :func:`curate_stream`.

    Per micro-batch (stateless except the final exact-dup state):

    1. decode + perceptual hash (image_phash — the same Arrow
       mapInPandas kernel as batch, so stream and batch signatures are
       bit-identical); undecodable blobs are DROPPED (quarantine
       belongs to the ingest reader, not the curation gate);
    2. NEAR-dup exclusion against the accumulated corpus index:
       vectorized Hamming distance against the corpus signature ARRAY
       inside the same Arrow kernel (one XOR+popcount sweep per item —
       numpy, no per-row python).  Structured Streaming cannot
       anti-join a stream against a stream-derived hit set, and a
       banded join + per-id aggregation would add a second stateful
       operator; a signature array is 8 bytes/item, so a 10M-item
       index is an 80 MB broadcast.  The broadcast bound is ENFORCED:
       an index past ``max_corpus_sigs`` (default 25M sigs ≈ 200 MB)
       raises before anything is collected, naming the banded batch
       pass (dedup.incremental_hamming_neardup) as the scale path —
       run it behind the stream, same as the text path's nightly
       backstop;
    3. EXACT-dup dedup within the stream: watermark-bounded state on
       the full 64-bit signature.

    ``corpus_sigs`` is the persisted (id, phash) table the pipeline
    appends accepted batches to.
    """
    import numpy as np
    from pyspark.sql.types import BooleanType, StructField, StructType

    from rainforest_spark.operators.multimodal import image_phash

    s = (image_phash(stream, content_col)
         .filter(F.col("phash").isNotNull()))
    if corpus_sigs is not None:
        n_sigs = corpus_sigs.count()
        if n_sigs > max_corpus_sigs:
            raise ValueError(
                f"curate_media_stream: corpus signature index has "
                f"{n_sigs} rows (> max_corpus_sigs={max_corpus_sigs}, "
                f"~{8 * n_sigs // 2**20} MB as a driver array) — too "
                f"large to broadcast into the streaming kernel.  Use "
                f"the banded batch path "
                f"(rainforest_spark.operators.dedup."
                f"incremental_hamming_neardup) behind the stream "
                f"instead, or raise max_corpus_sigs explicitly.")
        sig_arr = np.array(
            [r["phash"] for r in corpus_sigs.select("phash").collect()],
            dtype=np.int64).view(np.uint64)
        # a REAL SparkContext broadcast, not a task-closure capture:
        # at the 25M-sig bound a closure would re-pickle ~200 MB into
        # every task binary; the broadcast ships once per executor
        bc_sigs = stream.sparkSession.sparkContext.broadcast(sig_arr)
        # 256-entry popcount table, built once per executor task
        pop_tbl = np.array([bin(i).count("1") for i in range(256)],
                           dtype=np.uint8)

        out_schema = StructType(list(s.schema.fields)
                                + [StructField("__corpus_hit", BooleanType())])

        def mark(it):
            sig_arr = bc_sigs.value
            for pdf in it:
                ph = pdf["phash"].to_numpy(dtype=np.int64).view(np.uint64)
                hit = np.zeros(len(pdf), dtype=bool)
                # TILED sweep: a full batch x index XOR matrix would be
                # rows*index*8 bytes (an 800 GB allocation at the 10M-sig
                # index the docstring sizes); 256 x 64k tiles cap the
                # working set at ~270 MB regardless of either size
                for i0 in range(0, ph.size, 256):
                    pi = ph[i0:i0 + 256]
                    sub = np.zeros(pi.size, dtype=bool)
                    for j0 in range(0, sig_arr.size, 65536):
                        blk = sig_arr[j0:j0 + 65536]
                        x = pi[:, None] ^ blk[None, :]
                        pc = pop_tbl[x.view(np.uint8)].reshape(
                            x.shape[0], x.shape[1], 8).sum(2)
                        sub |= (pc <= max_hamming).any(axis=1)
                        if sub.all():
                            break
                    hit[i0:i0 + 256] = sub
                pdf = pdf.copy()
                pdf["__corpus_hit"] = hit
                yield pdf

        s = (s.mapInPandas(mark, schema=out_schema)
             .filter(~F.col("__corpus_hit")).drop("__corpus_hit"))
    return dedup_stream(s, ["phash"], ts_col=ts_col,
                        watermark=watermark)


def ingest_metrics_stream(stream: DataFrame, text_col: str = "text",
                          source_col: str = "source",
                          ts_col: str = "ingest_ts",
                          window: str = "10 minutes",
                          watermark: str = "30 minutes") -> DataFrame:
    """Streaming ingest monitoring: per (event-time window, source)
    volume and quality aggregates — the dashboard feed a crawl
    pipeline watches to catch a source going dark, flooding, or
    degrading (token mass collapsing, exact-dup share spiking) while
    the data is still arriving.

    Emitted per closed window: ``n_docs``, ``n_tokens``,
    ``n_distinct_docs`` (exact-dup exposure within the window via the
    per-(window, fingerprint) pre-aggregation — streaming forbids
    COUNT(DISTINCT), so distinctness is a two-level windowed
    aggregation, both levels watermark-bounded), and ``mean_tokens``.

    Scale shape: both aggregation levels key on (window, source
    [, fingerprint]) — uniform md5-able state keys, bounded by the
    watermark; nothing global.  Append-mode safe (rows emit once per
    closed window).
    """
    win = F.window(F.col(ts_col), window)
    base = (stream.withWatermark(ts_col, watermark)
            .select(win.alias("w"), F.col(source_col).alias("source"),
                    TA.token_count(text_col).alias("__nt"),
                    TA.fingerprint(text_col).alias("__fp")))
    per_fp = (base.groupBy("w", "source", "__fp")
              .agg(F.count(F.lit(1)).alias("__n"),
                   F.sum("__nt").alias("__t")))
    out = (per_fp.groupBy("w", "source")
           .agg(F.sum("__n").alias("n_docs"),
                F.sum("__t").alias("n_tokens"),
                F.count(F.lit(1)).alias("n_distinct_docs")))
    return out.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "source", "n_docs", "n_tokens", "n_distinct_docs",
        (F.col("n_tokens") / F.col("n_docs")).alias("mean_tokens"))


def novelty_stream(stream: DataFrame, corpus: DataFrame,
                   id_col: str = "doc_id", vec_col: str = "embedding",
                   planes=None, min_novelty: float | None = None,
                   round_to: int = 6, seed: int = 4242,
                   max_corpus_vecs: int = 2_000_000) -> DataFrame:
    """Streaming SEMANTIC-novelty gate: the stream-side counterpart of
    :func:`~rainforest_spark.operators.similarity.embedding_novelty`
    — per arriving vector, ``1 − max(0, cos)`` over its LSH-candidate
    corpus neighbours, appended as ``(max_sim, novelty)`` columns
    (NULL when no corpus bucket is shared: "no evidence", not
    "novel").  ``min_novelty`` additionally FILTERS: rows whose
    novelty is below it (semantically re-served content) are dropped;
    NULL-novelty rows pass the gate.

    Batch ≡ stream EXACTLY: the kernel reproduces the batch operator's
    arithmetic bit-for-bit —

    - dot products and norms accumulate with a vectorized SEQUENTIAL
      fold (one ``+=`` per dimension, the same per-element add order
      as SQL ``aggregate(zip_with(...))``; a numpy ``dot`` would use
      pairwise/SIMD summation and drift in the last ulp);
    - bucket sign bits come from the same sequential-fold plane dots;
    - per-candidate cosines round HALF-UP on the shortest decimal
      repr BEFORE the max (``Decimal(repr(x))`` — the same convention
      as Spark's ``round(double)``), novelty rounds the same way.

    Structured-Streaming legality: a per-row max over a stream-static
    join would need a stateful aggregation; instead the corpus index
    (vectors + norms + per-table bucket lists) is a bounded BROADCAST
    into a stateless Arrow kernel — the ``curate_media_stream``
    pattern, with the same ENFORCED bound: past ``max_corpus_vecs``
    (default 2M ≈ 1 GB at 64-dim float64) this raises and names the
    batch path.  ``planes=None`` auto-sizes off the corpus count.
    """
    import numpy as np
    from decimal import ROUND_HALF_UP, Decimal
    from pyspark.sql.types import DoubleType, StructField, StructType

    from rainforest_spark.operators.similarity import auto_planes

    n = corpus.count()
    if n > max_corpus_vecs:
        raise ValueError(
            f"novelty_stream: corpus index has {n} vectors "
            f"(> max_corpus_vecs={max_corpus_vecs}) — too large to "
            f"broadcast into the streaming kernel.  Run the batch "
            f"path (rainforest_spark.operators.similarity."
            f"embedding_novelty) behind the stream instead, or raise "
            f"max_corpus_vecs explicitly.")
    rows = corpus.select(vec_col).collect()
    C = np.array([list(r[0]) for r in rows], dtype=np.float64)
    dim = C.shape[1] if C.size else 0
    if planes is None:
        planes = auto_planes(n, dim, seed=seed)
    P = np.asarray(planes, dtype=np.float64)

    def fold_dot(A, B):
        # vectorized SEQUENTIAL fold: element k is added in order, so
        # every output matches SQL aggregate()'s left fold bitwise
        acc = np.zeros(A.shape[0], dtype=np.float64)
        for k in range(A.shape[1]):
            acc = acc + A[:, k] * B[:, k]
        return acc

    def buckets_of(M):
        # (rows, tables) int bucket ids from sequential-fold sign bits
        out = np.zeros((M.shape[0], P.shape[0]), dtype=np.int64)
        for t in range(P.shape[0]):
            for p in range(P.shape[1]):
                d = fold_dot(M, np.broadcast_to(P[t, p], M.shape))
                out[:, t] |= (d > 0).astype(np.int64) << p
        return out

    c_norm = np.sqrt(fold_dot(C, C)) if C.size else np.zeros(0)
    c_bkt = buckets_of(C) if C.size else np.zeros((0, P.shape[0]),
                                                  dtype=np.int64)
    index = {}
    for t in range(P.shape[0]):
        for i, b in enumerate(c_bkt[:, t]):
            index.setdefault((t, int(b)), []).append(i)
    index = {k: np.array(v, dtype=np.int64) for k, v in index.items()}
    # a REAL SparkContext broadcast, not a task-closure capture: the
    # index is shipped once per executor — at the 2M-vector bound a
    # closure capture would re-pickle ~1 GB into every task binary
    bc = stream.sparkSession.sparkContext.broadcast((C, c_norm, index))

    quantum = Decimal(1).scaleb(-round_to)

    def r_half_up(x):
        return float(Decimal(repr(float(x)))
                     .quantize(quantum, rounding=ROUND_HALF_UP))

    out_schema = StructType(list(stream.schema.fields)
                            + [StructField("max_sim", DoubleType()),
                               StructField("novelty", DoubleType())])

    def score(it):
        Cb, c_normb, indexb = bc.value
        for pdf in it:
            X = np.array([list(v) for v in pdf[vec_col]],
                         dtype=np.float64)
            ms = np.full(len(pdf), np.nan)
            if len(pdf) and Cb.size:
                x_norm = np.sqrt(fold_dot(X, X))
                x_bkt = buckets_of(X)
                for i in range(len(pdf)):
                    cand = [indexb.get((t, int(x_bkt[i, t])))
                            for t in range(P.shape[0])]
                    cand = [c for c in cand if c is not None]
                    if not cand:
                        continue
                    idx = np.unique(np.concatenate(cand))
                    D = Cb[idx]
                    dots = fold_dot(D, np.broadcast_to(X[i], D.shape))
                    sims = dots / (x_norm[i] * c_normb[idx])
                    ms[i] = max(r_half_up(s) for s in sims)
            pdf = pdf.copy()
            pdf["max_sim"] = [None if np.isnan(v) else v for v in ms]
            pdf["novelty"] = [None if np.isnan(v)
                              else r_half_up(1.0 - max(v, 0.0))
                              for v in ms]
            yield pdf

    out = stream.mapInPandas(score, schema=out_schema)
    if min_novelty is not None:
        out = out.filter(F.col("novelty").isNull()
                         | (F.col("novelty") >= min_novelty))
    return out


def bloom_ingest_gate(stream: DataFrame, bits: DataFrame,
                      text_col: str = "text",
                      m_bits: int = 65536, k: int = 4) -> DataFrame:
    """The Bloom-prefiltered ingest gate (the use case
    ``operators/sketches.bloom_bits`` documents): against a
    ≤m_bits-row bit dim built from the accumulated corpus's
    fingerprints, split arriving documents into the DEFINITELY-new
    (``maybe_present = false`` — zero false negatives, safe to admit
    without touching the corpus) and the maybe-already-ingested
    (route to the exact anti-join / store lookup).  Adds
    ``fingerprint`` and ``maybe_present``.

    Replaces the per-batch stream-static anti-join against the FULL
    fingerprint table on the hot path: the bit dim broadcasts once
    per micro-batch at a fixed few-KB size however large the corpus
    grows, and only the (rare, fp-rate-bounded) "maybe" survivors pay
    the exact lookup.  Mergeable maintenance: union new batches' bits
    into the dim (bloom_bits is union-mergeable), rebuild only to
    shrink the fp rate.

    Stateless (T6 stream-static posture) — composable in front of
    :func:`curate_stream`, whose ``known_fingerprints`` exact
    anti-join then runs on the "maybe" slice only.  This standalone
    gate probes a FLAT fixed-size bit dim; the full store-backed sink
    (:func:`curated_ingest_sink`) uses the scalable-slab family so
    the fp rate stays bounded as the corpus grows.
    """
    from rainforest_spark.operators.sketches import (
        bloom_membership_rowwise,
    )

    s = stream.withColumn("fingerprint", TA.fingerprint(text_col))
    return bloom_membership_rowwise(bits, s, "fingerprint", m_bits, k)


def curated_ingest_sink(store_path: str,
                        id_col: str = "doc_id",
                        text_col: str = "text",
                        min_tokens: int = 10,
                        max_dup_ngram_ratio: float = 0.3,
                        redact_pii: bool = True,
                        m_bits: int = 65536, k: int = 4,
                        max_occupancy: float = 0.5,
                        compact_stored_ratio: float = 4.0,
                        compact_min_rows: int = 4096):
    """BOUNDED-STATE streaming curation: the :func:`bloom_ingest_gate`-
    fronted, exactly-once alternative to :func:`curate_stream`'s
    watermarked dedup — the streaming counterpart of the q177/q204
    exact-vs-sketch route pair.

    :func:`curate_stream` holds one state row per fingerprint inside
    the watermark: LINEAR in documents (499 200 rows at the sf10 bench
    tier — its most expensive entry), and expiring the state re-admits
    late duplicates.  This sink keeps the STREAM stateless
    (foreachBatch; no watermark state at all) and moves corpus memory
    into the store, where the hot-path footprint is FIXED:

    per micro-batch
      1. quality gate → PII scrub → fingerprint — the exact batch
         column expressions (stream≡batch bit-parity);
      2. in-batch exact dedup: keep the min-``id_col`` row per
         fingerprint (deterministic under replay);
      3. Bloom gate against the accumulated corpus bit store
         (``{store}/bits`` — SCALABLE-BLOOM SLABS, see below):
         ``maybe_present = false`` rows are DEFINITELY new (zero
         false negatives) and skip the corpus entirely; only the
         fp-rate-bounded "maybe" slice pays the exact anti-join
         against ``{store}/fps``;
      4. one tagged exactly-once commit per table — accepted rows →
         ``{store}/docs``, then their bits into the CURRENT slab of
         ``{store}/bits`` (bloom_bits_slab is union-mergeable per
         slab), then their fingerprints → ``{store}/fps``.

    GROWTH POLICY (scalable Bloom — Almeida et al. 2007): a fixed bit
    dim saturates one decade past its design corpus (occupancy → 1,
    fp → 1, the bounded-state wall silently degrades to the exact
    probe's).  Instead the bit store is a family of SLABS: slab ``s``
    has ``m_bits·2^s`` positions and ``k+s`` hashes
    (operators/sketches.bloom_slab_params); each batch commits its
    bits into the lowest slab ≥ the current one whose PROJECTED
    post-commit occupancy (committed bits + the collision-free upper
    bound ``k_s·n_batch``) stays ≤ ``max_occupancy`` (default 0.5) —
    so neither gradual growth NOR one huge batch can push any slab
    past its freeze point; probes check ALL slabs (Σk_s broadcast
    joins of few-KB dims).  Total fp stays ``< 2·(max_occupancy)^k``
    (≈12.5 % at k=4) however large the corpus grows — no upfront
    corpus-size estimate needed; ``m_bits`` only sizes slab 0.  Slab
    capacity doubles per slab, so slab count is O(log corpus).  The
    slab choice is read from the COMMITTED store, so it is
    deterministic under replay; legacy flat stores read as slab 0
    (mergeSchema surfaces their missing slab column as NULL).

    BITS COMPACTION: append commits stack per-batch bit sets, so the
    bits table's STORED rows grow with batch count even though its
    distinct rows are bounded by Σm_s.  When stored rows exceed
    ``compact_stored_ratio`` × distinct (and ``compact_min_rows``),
    the sink overwrite-commits the distinct rows before processing
    the batch — logically a no-op (the gate distincts anyway,
    bits ⊇ fps preserved, replay tags survive in older manifests),
    physically capping the per-batch snapshot read at the distinct
    bound forever.

    Replay safety (the at-least-once → exactly-once argument): the
    accepted set is a deterministic function of the batch and
    ``{store}/fps`` — the bit dim only routes rows between the
    "definitely new" and "maybe → exact-join" branches, and a row
    absent from fps is admitted on EITHER branch — so a replayed batch
    recomputes the same accepted set whichever commits survived, and
    per-table batch tags skip the survivors.  Commit order bits-
    before-fps keeps the gate's no-false-negative invariant
    (bits ⊇ fps at every version).

    Unlike the watermarked route there is NO late-duplicate hole: a
    duplicate arriving years later still hits the store.  The trade
    moved to the fp rate, now BOUNDED FOR GOOD by the slab policy:
    ``< 2·(max_occupancy)^k`` of genuinely-new docs pay one extra
    exact probe, at any corpus size.

    Returns a ``foreachBatch`` function.
    """
    import os

    from rainforest_spark.operators.sketches import (
        bloom_bits_slab, bloom_membership_rowwise_slabs,
        bloom_membership_rowwise_slabs_bitmap, bloom_slab_params,
    )
    from rainforest_spark.sources.versioned import (
        _read_manifest, _versions, commit_tagged_once,
        committed_batches, read_snapshot,
    )

    docs_t = os.path.join(store_path, "docs")
    bits_t = os.path.join(store_path, "bits")
    fps_t = os.path.join(store_path, "fps")

    def _bits_state(spark):
        """(bits(slab,bit) df, {slab: distinct bit count}, stored row
        count) from the committed store.  Legacy flat stores (no slab
        column) read as slab 0; a real read failure propagates and
        fails the batch (Structured Streaming retries it) — only the
        absent-table FileNotFoundError means 'empty corpus'."""
        try:
            raw = read_snapshot(spark, bits_t)
        except FileNotFoundError:
            return (spark.createDataFrame([], "slab int, bit int"),
                    {}, 0)
        slab = (F.coalesce(F.col("slab"), F.lit(0))
                if "slab" in raw.columns else F.lit(0))
        norm = raw.select(slab.cast("int").alias("slab"), "bit")
        bits = norm.distinct().localCheckpoint(eager=False)
        grp = (norm.groupBy("slab")
               .agg(F.count(F.lit(1)).alias("stored"),
                    F.count_distinct(F.col("bit")).alias("n"))
               .collect())
        counts = {int(r["slab"]): int(r["n"]) for r in grp}
        stored = sum(int(r["stored"]) for r in grp)
        return bits, counts, stored

    def _maybe_compact_bits(spark, bits, counts, stored) -> None:
        """Opportunistic PHYSICAL compaction of the bits table: append
        commits stack per-batch bit sets, so STORED rows grow linearly
        with batch count even though distinct (slab, bit) rows are
        bounded by Σm_s — at 10k micro-batches the per-batch snapshot
        read would scan millions of redundant rows.  When stored rows
        exceed 4× the distinct count (and the waste is non-trivial),
        overwrite-commit the distinct rows: logically a no-op (the
        gate distincts anyway; bits ⊇ fps preserved exactly), old
        versions stay readable until vacuum, and replay tags live in
        the SURVIVING older manifests so exactly-once is untouched.
        Failure here must not fail the batch — compaction is
        maintenance, the next batch retries it."""
        distinct_n = sum(counts.values())
        if (distinct_n == 0
                or stored < compact_stored_ratio * distinct_n
                or stored < compact_min_rows):
            return
        from rainforest_spark.sources.versioned import (
            commit_snapshot, latest_version,
        )
        try:
            commit_snapshot(bits, bits_t, mode="overwrite",
                            expected_parent=latest_version(bits_t))
        except Exception as e:
            # maintenance-only semantics: a lost commit race, a
            # transient parquet-write failure or any Spark error must
            # not fail the batch (the trigger re-fires next batch; a
            # persistent error would otherwise wedge the stream)
            import warnings
            warnings.warn(f"bits compaction skipped this batch: {e!r}",
                          stacklevel=2)

    def _batch_files(table, key, batch_id):
        """Data files ADDED by the commit tagged (key, batch_id)
        (raw manifests; the history() helper returns summaries
        without file lists).  Newest-first: the batch just committed
        IS the newest manifest in the single-writer stream, so the
        scan is O(1) manifest reads per batch instead of O(log
        length); delta manifests make the adds lookup itself O(1)."""
        from rainforest_spark.sources.versioned import added_files
        for i in reversed(_versions(table)):
            m = _read_manifest(table, i)
            st = m.get("stream") or {}
            if (st.get("query") == key
                    and st.get("batch_id") == int(batch_id)):
                return added_files(table, i)
        # a committed docs batch MUST have a tagged manifest — an
        # empty fallback here would silently commit empty fps/bits
        # and let every future duplicate through the gate
        raise RuntimeError(
            f"curated_ingest_sink: no manifest tagged ({key!r}, "
            f"{batch_id}) in {table} — store log corrupted?")

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # one committed-store read per batch: feeds the gate's slab
        # probes, the slab-growth decision AND the compaction trigger
        # (single-writer stream — the state cannot change between
        # the uses)
        bits, counts, stored = _bits_state(spark)
        _maybe_compact_bits(spark, bits, counts, stored)
        if int(batch_id) not in committed_batches(docs_t, "docs"):
            s = (batch_df
                 .filter(TA.token_count(text_col) >= min_tokens)
                 .filter(F.coalesce(TA.dup_ngram_ratio(text_col),
                                    F.lit(0.0)) <= max_dup_ngram_ratio))
            if redact_pii:
                s = s.withColumn(text_col, TA.pii_redact(text_col))
            s = s.withColumn("fingerprint", TA.fingerprint(text_col))
            cols = [c for c in s.columns if c != "fingerprint"]
            s = (s.groupBy("fingerprint")
                 .agg(F.min(F.struct(id_col, *[c for c in cols
                                               if c != id_col]))
                      .alias("m"))
                 .select("fingerprint",
                         *[F.col(f"m.{c}") for c in
                           [id_col] + [c for c in cols
                                       if c != id_col]]))
            # distinct inside _bits_state: append commits stack
            # per-batch bit sets, and a duplicate dim key would FAN
            # OUT the probe join.  The gate carries the full rows
            # through the probe either way — a narrow fingerprint-only
            # gate with a decision join back measured SLOWER at two
            # tiers (the join-back shuffle of the text outweighs the
            # wide probes; PERF.md round 11).  Probe ROUTE by slab
            # count (measured r13, PERF.md): at 1 slab the k broadcast
            # joins win (0.34 vs 0.76 s standalone — the Arrow
            # round-trip of the text dominates); at ≥2 slabs the
            # packed-bitmap Arrow kernel wins (~1.7× faster sink
            # batches at 3 slabs — Σk_s join/broadcast builds dominate)
            # as long as the bitmaps fit the broadcast bound.
            bitmap_bytes = sum(
                ((m_bits << int(sl)) + 7) // 8 for sl in counts)
            probe_fn = (bloom_membership_rowwise_slabs_bitmap
                        if len(counts) >= 2 and bitmap_bytes <= 64 << 20
                        else bloom_membership_rowwise_slabs)
            gated = probe_fn(
                bits, s, "fingerprint", m_bits, k,
                slabs=sorted(counts))
            new = gated.filter(~F.col("maybe_present"))
            maybe = gated.filter(F.col("maybe_present"))
            try:
                fps = read_snapshot(spark, fps_t).select("fingerprint")
                maybe = maybe.join(fps, "fingerprint", "left_anti")
            except FileNotFoundError:
                pass   # empty store: every maybe row is a Bloom fp
            accepted = new.unionByName(maybe).drop("maybe_present")
            # the commit's own parquet write IS the one materialization
            # of the accepted set (no localCheckpoint double-write)
            commit_tagged_once(accepted, docs_t, "docs", batch_id)
        # bits/fps derive from the COMMITTED docs files — a cheap
        # column-pruned read instead of recomputing the gate chain per
        # table, and byte-identical under replay by construction
        # (whichever commits survived a crash, the stored batch is the
        # single source).  Commit order bits-before-fps keeps the
        # gate's no-false-negative invariant (bits ⊇ fps always).
        files = _batch_files(docs_t, "docs", batch_id)
        newfps = (spark.read.parquet(*files).select("fingerprint")
                  if files else
                  spark.createDataFrame([], "fingerprint string"))
        # slab choice from the COMMITTED bits state (deterministic
        # under replay: newfps derives from committed docs files and
        # counts from committed bits; a skipped bits commit leaves
        # both unchanged).  PROJECT the batch in before choosing: a
        # batch much larger than the current slab's remaining
        # capacity would overfill it in one commit (measured: a
        # 10k-doc batch into a 16k-bit slab left it at 91 %
        # occupancy → that slab alone contributes fp ≈ 0.69,
        # breaking the 2·0.5^k bound).  k_s·n_new is a collision-free
        # UPPER bound on the bits the batch can add, so every slab's
        # POST-commit occupancy stays ≤ max_occupancy by
        # construction; the choice is monotone (starts at the highest
        # committed slab) and capacities double, so slab count stays
        # O(log corpus) even under adversarial batch sizing.
        n_new = newfps.count()
        cur = max(counts) if counts else 0
        while True:
            m_cur, k_cur = bloom_slab_params(m_bits, k, cur)
            if (counts.get(cur, 0) + k_cur * n_new
                    <= max_occupancy * m_cur):
                break
            cur += 1
        commit_tagged_once(
            bloom_bits_slab(newfps, "fingerprint", m_bits, k, slab=cur),
            bits_t, "bits", batch_id)
        commit_tagged_once(newfps, fps_t, "fps", batch_id)

    return write
