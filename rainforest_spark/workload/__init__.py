"""Driver-facing workload: paired (Spark query, DuckDB oracle SQL).

Each entry maps a SURVEY §2 operator onto the driver-provided tables
(TESTDATA.md).  Numeric determinism policy (so the driver's value-hash
matches bit-for-bit):

- Sums of money/value columns go through ``DECIMAL(18,4)`` — decimal
  addition is exact and order-independent, so Spark's partial aggregation
  across 32 partitions and DuckDB's sequential scan produce identical
  results.  Final values are cast back to DOUBLE (exact conversion).
- Transcendental outputs (log/exp/pow ratios, corr, RMSE) are rounded to
  6 decimals AFTER the final division/log, where the engines' FP noise is
  ~1e-12 — far below the 5e-7 rounding boundary.
- Threshold comparisons against aggregated values always compare decimals,
  never raw double sums (a double sum landing exactly on the threshold
  would be engine-order dependent).
- When a ROUNDED mean of gridded values is emitted (q83): the exact
  decimal sum over an integer count lands exactly ON the half-way
  rounding boundary for some groups, where Spark's shortest-repr
  BigDecimal HALF_UP and DuckDB's double-arithmetic round disagree —
  scale to integers (nanos) right after the per-element rounding and do
  the final round-half-up as integer division ``(2N + d) div (2d)`` in
  BOTH engines.  Also: never scale a SUMMED decimal by 1e9 in Spark
  (decimal(38,9) × int clamps at precision 38 and rounds) — scale the
  per-element decimal(19,9) BEFORE the sum, where precision headroom is
  exact.
- Timestamps are returned as epoch-second BIGINTs, never raw timestamps.
- Every ranking window carries a unique tie-breaker column.

Round-6 continued additions to the idiom set (all proven hash-exact):

- Regression fits (q108/q109) reduce to SUFFICIENT STATISTICS — five
  exact decimal(38,18) sums — with the closed-form slope/intercept/r2
  as one double expression each.  Degenerate-variance guards compare
  an exact COUNT(DISTINCT y), never ``vy > 0`` on a double (FP noise
  makes that engine-dependent when the true value is 0).
- Ordered selections encode multi-key orders as ONE exact BIGINT
  (q105: (1e6-score)*1e10+id; q112: fraction*1e12 div + dense gid) or
  one string (md5 || zero-padded id) so the distributed ranged cumsum
  orders on a single column.
- Deterministic sampling thresholds stay in md5-hex space: literal
  rates as 6-hex-char prefixes (lexicographic compare), RUNTIME rates
  via format_string('%06x', floor(rate*16^6)) with the 'g' sentinel at
  rate >= 1 (q113); numeric uniforms come from the per-nibble
  instr-based hex->int (q110 — cast each term to BIGINT: ANSI-mode
  instr() is 32-bit and nibble*16^7 overflows it).
- Media fingerprints emitted to the driver hash are EXACT integer
  functions of the decoded samples (q111's windowed energy contour);
  DCT-based hashes (pHash) stay pytest-gated — transcendental per-
  pixel math has no portable SQL form.

Round-7 additions to the idiom set (all proven hash-exact):

- Decimal PRODUCTS cap the operand precision at (18,9): a
  (19,9)×(19,9) product wants precision 39, which Spark clamps to
  (38,17) — silently rounding the 18th fractional digit — while
  DuckDB keeps the exact (38,18).  At (18,9) the product is (37,18),
  exact on both engines (q108/q109's sufficient-statistic sums).
- Distributed RANK over a multi-key order: encode the order as ONE
  range-partitionable struct key ((-count), term) and cumsum a unit
  weight through ranged_cumsum — row_number without a single-
  partition window (q108's vocab rank).
- Possibly-NEGATIVE rounded means shift per-element nanos by +1
  before the exact integer round-half-up division and subtract the
  shift after — Spark's `div` truncates toward zero while DuckDB's
  `//` floors, so they only agree on non-negative numerators (q122's
  mean cosine).
- Runtime sampling rates round HALF-UP (floor(x·16^6 + 0.5)) in both
  the literal and dynamic threshold builders, keep-all decisions come
  from EXACT integer/decimal cross-multiplies (never a double landing
  on 1.0), and non-integer rate WEIGHTS (sqrt allocations) are rounded
  to the 1e-9 grid and summed as DECIMAL(19,9) before the double
  division (q113, q121).

Round-7 continued (late-round, all proven hash-exact):

- HOT-PATH order-free sums quantize with ``floor(x*1e9 + 0.5)`` cast
  to BIGINT — pure double ops + floor, IEEE-identical in Spark/
  DuckDB/Python, with NO per-element BigDecimal (per-row
  ``ROUND(x, 9)``/decimal casts measured ~2x whole-query time on the
  kmeans/cohesion centroid updates at sf1).  Keep the
  round-then-decimal idiom only on dim-sized tables (vocab nanos),
  and project those onto the DIM side of the join so they run once
  per term, not once per corpus row (q83) — but do NOT pre-join a
  MULTI-join vocab side into one nano table: that serializes its
  broadcast-build chain ahead of the fact probe (measured 2.3x on
  q106; flat joins let every vocab broadcast build concurrently).
- ``alpha = 1/2^m`` power weights run as iterated IEEE ``sqrt`` —
  correctly rounded on every engine, NO transcendental grid at all;
  integer quota arithmetic stays in DECIMAL(38,0)/HUGEINT with
  largest-remainder leftovers ranked on the bounded group dim (q131).
- Rank-fusion scores are FIXED left-to-right sums of ``1/(k + rank)``
  double divisions over integer ranks — spelled with CAST(... AS
  DOUBLE) literals in the oracle so DuckDB cannot route them through
  exact DECIMAL (q133, the q127 rule).

Round-9 additions to the idiom set:

- NEGATIVE-ZERO normalization: ``ROUND(x, 6)`` of a tiny negative
  ratio (e.g. -2e-10) yields ``-0.0`` in DuckDB but ``+0.0`` in Spark
  (BigDecimal HALF_UP drops the sign), and the driver's value hash
  distinguishes them.  Any rounded SIGNED ratio that can land on zero
  gets ``+ 0.0`` appended on BOTH engines (IEEE: -0.0 + 0.0 = +0.0,
  every other value unchanged) — spelled ``+ CAST(0 AS DOUBLE)`` in
  the oracle so the zero cannot parse as DECIMAL (q197 rel_error,
  retrofitted to q194).
"""

from __future__ import annotations

from rainforest_spark.workload import extended, relational, text, vectors

_MODULES = [relational, text, vectors, extended]

#: Gate-window priority.  The external driver samples the FIRST 50
#: entries of ``queries()`` in iteration order for its hard correctness
#: gate (CORRECTNESS_r*.json); rounds 1-2 left everything registered
#: after slot 49 ungated.  Queries without a green driver row yet come
#: first; long-proven trivial entries are demoted past slot 50 (they
#: remain fully covered by tests/test_oracle_parity.py).
_PRIORITY = [
    # =================== ROUND-14 GATE WINDOW (50) ==================
    # Composition (the r13 steady-state rule: oldest driver rows
    # first).  Freshness before this round: r9×11, r10×50, r11×50,
    # r12×50, r13×50 — so the window is the 11 remaining r9-vintage
    # rows (the trivial scalar/window entries deferred by the r13
    # window, now at the head so the debt retires) plus 39 of the 50
    # r10-vintage rows.  The 11 r10 rows deferred to round 15 are the
    # trivial relational entries whose operator families all carry a
    # FRESH r13 driver row: q02_time_range_projection +
    # q04_threshold_clamp + q06_consistency_filter +
    # q08_segment_exclusion (simple-filter family: q07 r13, q11 r13),
    # q03_sentinel_to_null (codec/null-map family: q31 r13),
    # q05_dedup_distinct (distinct family: q40 r13),
    # q15_table_summary (scan-agg family: q01/q17 r13),
    # q19_hourly_complete (calendar-fill family: q35 r13),
    # q21_contingency (contingency-table family: q188 r13),
    # q28_set_ops (set-op family: q10/q11 r13),
    # q38_left_join_nulls (join family: q09/q12/q13 r13).
    # All 11 stay exact-parity-gated via tests/test_oracle_parity.py;
    # tests/test_gate_rotation forbids silent debt.  A green round
    # leaves NO driver row older than r10.
    #
    # --- stale re-checks: latest green row r9 (all 11 remaining) ---
    "q20_dense_rank", "q23_mode", "q25_lead_fill",
    "q29_string_funcs", "q30_datetime_funcs", "q32_json_extract",
    "q37_group_first", "q41_token_count", "q42_quality_score",
    "q43_lang_id", "q44_ngram_jaccard",
    # --- stale re-checks: latest green row r10 (39 of 50) ---
    "q14_nearest_centroid", "q34_scatter_score",
    "q36_local_supplier_revenue", "q45_minhash_lsh",
    "q50_cosine_topk", "q51_centroid_classify", "q53_prepare_input",
    "q54_auto_embedding_neardup", "q55_bucketed_perfscores",
    "q56_polar_grid_sql", "q57_ivf_ann_topk", "q58_polar_masks",
    "q59_simhash_neardup", "q60_rollup_subtotals",
    "q61_zphi_attenuation", "q65_status_noise_mask",
    "q66_qpe_evaluation", "q67_hzt_fallback_chain",
    "q69_tfidf_top_terms", "q70_multimodal_resize",
    "q71_png_rgb_decode", "q72_jpeg_decode", "q73_wav_decode",
    "q74_frame_sample", "q75_sequence_packing",
    "q76_deterministic_split", "q77_quantized_cosine_topk",
    "q78_document_chunking", "q79_quality_signals",
    "q80_decontamination", "q81_domain_mixture",
    "q197_quantile_sketch", "q198_kmv_cardinality",
    "q199_kmv_token_overlap", "q200_kmv_overlap_matrix",
    "q201_kmv_added_vocab", "q202_kmv_weighted_volume",
    "q203_ann_recall", "q204_latency_bands_sketch",
]

#: Registered queries with no driver row yet that do NOT fit the
#: current window — every entry here must be consumed by a future
#: rotation (tests/test_gate_rotation.py enforces that a new query is
#: either in-window, already driver-checked, or listed here).
_QUEUED_FOR_ROTATION: list[str] = [
    # Empty as of round 13: q208/q209 rotated into the window above.
    # Any NEW oracle-paired query that lands after the window is
    # frozen goes here (the r12 pattern) and rotates next round.
]


def _ordered(full: dict) -> dict:
    out = {k: full[k] for k in _PRIORITY if k in full}
    out.update((k, v) for k, v in full.items() if k not in out)
    return out


def all_queries():
    out = {}
    for m in _MODULES:
        out.update(m.QUERIES)
    return _ordered(out)


def all_oracles():
    out = {}
    for m in _MODULES:
        out.update(m.ORACLES)
    return _ordered(out)
