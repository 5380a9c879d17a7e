"""Advection correction (SURVEY W11).

The reference estimates motion between two consecutive frames with
pysteps' Lucas-Kanade and resamples semi-Lagrangian
(qpe/qpe_utils.py:271-312).  pysteps is not available here; this module
implements the same two stages with plain numpy:

- ``estimate_motion``: global block-matching (phase of the
  cross-correlation argmax over a search window) — a coarse but
  deterministic stand-in for LK's mean motion field.  It returns
  whole-pixel shifts.
- ``advect``: semi-Lagrangian backward resample by the whole-pixel
  (dy, dx) vector, which is a shifted copy of the frame (a bilinear
  resample with weights 0 and 1).

Motion estimation is inherently a whole-frame operation, so a single
pair runs on one dense 640×710 map (~1.2 MB).  The scale axis is TIME:
``advect_blend_series`` distributes the whole series as one
applyInPandas per consecutive frame pair.  The pairs come from one tiny
successor dimension (each frame and the next one), broadcast-joined to
the rows once; rows then shuffle once on the pair key, keeping the same
numpy kernel executor-side.  A real-time micro-batch holds a few frames
on the driver, where ``advect_blend_frames`` runs the same kernel pair
by pair.
"""

from __future__ import annotations

import numpy as np


def _estimate_motion_loop(prev: np.ndarray, cur: np.ndarray,
                          max_shift: int = 10) -> tuple[int, int]:
    """Direct-form reference: explicit shift loop (kept as the oracle
    for the FFT path; O((2s+1)²·N) — 441 full-frame products at s=10)."""
    p = np.nan_to_num(prev, nan=0.0)
    c = np.nan_to_num(cur, nan=0.0)
    p = p - p.mean()
    c = c - c.mean()
    best, best_score = (0, 0), -np.inf
    for dy in range(-max_shift, max_shift + 1):
        for dx in range(-max_shift, max_shift + 1):
            shifted = np.roll(np.roll(p, dy, axis=0), dx, axis=1)
            score = float((shifted * c).sum())
            if score > best_score:
                best_score, best = score, (dy, dx)
    return best


def estimate_motion(prev: np.ndarray, cur: np.ndarray,
                    max_shift: int = 10) -> tuple[int, int]:
    """(dy, dx) maximizing correlation of cur against circularly-shifted
    prev.

    Same estimator as the direct shift loop — ``np.roll`` shifting IS
    circular correlation, so the whole score surface comes out of one
    FFT product (cross-correlation theorem):
    ``irfft2(rfft2(c) · conj(rfft2(p)))[d] = Σ_i c[i]·p[i−d]``.  The
    argmax scans the ±max_shift window in the loop's iteration order
    (strict '>' keeps the first maximum), so ties resolve identically.
    O(N log N) — ~60× faster than the 441-product loop on a 640×710
    frame, which is what makes per-pair advection cheap enough to run
    inside every streaming micro-batch."""
    p = np.nan_to_num(prev, nan=0.0)
    c = np.nan_to_num(cur, nan=0.0)
    p = p - p.mean()
    c = c - c.mean()
    r = np.fft.irfft2(np.fft.rfft2(c) * np.conj(np.fft.rfft2(p)),
                      s=p.shape)
    best, best_score = (0, 0), -np.inf
    for dy in range(-max_shift, max_shift + 1):
        for dx in range(-max_shift, max_shift + 1):
            score = r[dy % r.shape[0], dx % r.shape[1]]
            if score > best_score:
                best_score, best = float(score), (dy, dx)
    return best


def advect(frame: np.ndarray, dy: int, dx: int) -> np.ndarray:
    """Semi-Lagrangian backward shift by whole pixels:
    ``out[y, x] = frame[y - dy, x - dx]``, NaN where the source lies
    outside the frame and 0 where the source pixel is NaN.  A fractional
    (dy, dx) raises ``ValueError``: ``estimate_motion`` returns whole
    pixels only."""
    if not (float(dy).is_integer() and float(dx).is_integer()):
        raise ValueError(f"advect shifts whole pixels, got ({dy}, {dx})")
    dy, dx = int(dy), int(dx)
    ny, nx = frame.shape
    out = np.full((ny, nx), np.nan)
    if abs(dy) < ny and abs(dx) < nx:
        out[max(dy, 0):ny + min(dy, 0), max(dx, 0):nx + min(dx, 0)] = \
            np.nan_to_num(frame[max(-dy, 0):ny + min(-dy, 0),
                                max(-dx, 0):nx + min(-dx, 0)], nan=0.0)
    return out


def advection_blend(prev: np.ndarray, cur: np.ndarray,
                    alpha: float = 0.5, max_shift: int = 10) -> np.ndarray:
    """Reference pattern: advect the previous frame along the estimated
    motion, blend with the current (qpe_utils.py:294-312 shape)."""
    dy, dx = estimate_motion(prev, cur, max_shift)
    moved = advect(prev, dy, dx)
    blended = np.where(np.isnan(moved), cur,
                       alpha * cur + (1 - alpha) * moved)
    return blended


def advect_blend_frames(series, value_col: str = "rain_rate",
                        nx: int = 710, ny: int = 640, alpha: float = 0.5,
                        max_shift: int = 10) -> np.ndarray:
    """numpy twin of ``advect_blend_series`` for a driver-side pandas
    series: each frame blends against the previous frame of the series
    in TIMESTAMP order, one dense pair at a time.  Returns the blended
    value per row of ``series``, NaN where the frame has no predecessor
    or the blend is NaN (the rows ``advect_blend_series`` does not
    emit)."""
    ts = series["TIMESTAMP"].to_numpy()
    xs = series["x_idx"].to_numpy()
    ys = series["y_idx"].to_numpy()
    v = series[value_col].to_numpy(np.float64)
    out = np.full(len(series), np.nan)
    prev = None
    for t in np.unique(ts):
        rows = np.flatnonzero(ts == t)
        cur = np.full((ny, nx), np.nan)
        cur[ys[rows], xs[rows]] = v[rows]
        if prev is not None:
            blended = advection_blend(prev, cur, alpha=alpha,
                                      max_shift=max_shift)
            out[rows] = blended[ys[rows], xs[rows]]
        prev = cur
    return out


def advect_blend_series(grids, value_col: str = "rain_rate",
                        nx: int = 710, ny: int = 640,
                        alpha: float = 0.5, max_shift: int = 10):
    """Distributed advection over a SERIES of frames: the scale axis at
    100 TB is TIME (thousands of frame pairs), not the 1.2 MB frame.

    Each consecutive (prev, cur) pair becomes one applyInPandas group.
    One aggregate lists the frames in TIMESTAMP order and expands them
    into a tiny successor dimension (TIMESTAMP, t_next), broadcast-joined
    to the rows once.  Each row then emits a ``cur`` copy keyed on its
    own frame (none for the first frame, which has no predecessor) and a
    ``prev`` copy keyed on its successor (none for the last frame), so
    rows shuffle once on the pair key and a frame feeds at most two
    pairs (data duplicates ×2, bounded).  The executor densifies the two
    sparse frames, runs the same numpy estimate_motion/advect/blend used
    at the driver boundary, and emits the blended CUR frame as sparse
    rows.  Per-task memory = two dense frames (~5.7 MB float64).

    Input: long (TIMESTAMP, x_idx, y_idx, value) grid rows; output: the
    same shape for every frame that has a predecessor.  Rows with a null
    TIMESTAMP belong to no frame and are dropped.
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import broadcast

    stamps = F.col("stamps")
    succ = (grids.agg(F.min("TIMESTAMP").alias("t_first"),
                      F.sort_array(F.collect_set("TIMESTAMP"))
                      .alias("stamps"))
            .select("t_first", F.inline(F.arrays_zip(
                stamps.alias("TIMESTAMP"),
                F.slice(stamps, 2, F.size(stamps)).alias("t_next")))))
    rows = grids.select("TIMESTAMP", "x_idx", "y_idx",
                        F.col(value_col).alias("v")) \
        .join(broadcast(succ), "TIMESTAMP")
    cur_key = F.when(F.col("TIMESTAMP") > F.col("t_first"),
                     F.col("TIMESTAMP"))
    both = rows.select(F.inline(F.array(
        F.struct(cur_key.alias("pair_t"), F.lit(True).alias("cur")),
        F.struct(F.col("t_next").alias("pair_t"),
                 F.lit(False).alias("cur")))),
        "x_idx", "y_idx", "v").filter(F.col("pair_t").isNotNull())

    def blend(pdf: pd.DataFrame) -> pd.DataFrame:
        cur = pdf["cur"].to_numpy(bool)
        ys, xs, v = (pdf[c].to_numpy() for c in ("y_idx", "x_idx", "v"))
        frames = []
        for sel in (~cur, cur):
            m = np.full((ny, nx), np.nan)
            m[ys[sel], xs[sel]] = v[sel]
            frames.append(m)
        out = advection_blend(*frames, alpha=alpha, max_shift=max_shift)
        yy, xx = np.nonzero(np.isfinite(out))
        return pd.DataFrame({
            "TIMESTAMP": np.int64(pdf["pair_t"].iloc[0]),
            "x_idx": xx.astype(np.int32),
            "y_idx": yy.astype(np.int32),
            value_col: out[yy, xx]})

    schema = (f"TIMESTAMP long, x_idx int, y_idx int, {value_col} double")
    return both.groupBy("pair_t").applyInPandas(blend, schema=schema)
