"""Advection correction (SURVEY W11).

The reference estimates motion between two consecutive frames with
pysteps' Lucas-Kanade and resamples semi-Lagrangian
(qpe/qpe_utils.py:271-312).  pysteps is not available here; this module
implements the same two stages with plain numpy:

- ``estimate_motion``: global block-matching (phase of the
  cross-correlation argmax over a search window) — a coarse but
  deterministic stand-in for LK's mean motion field.
- ``advect``: semi-Lagrangian backward resample by the (dy, dx) vector
  with bilinear interpolation.

Motion estimation is inherently a whole-frame operation, so a single
pair runs on one dense 640×710 map (~1.2 MB).  The scale axis is TIME:
``advect_blend_series`` distributes the whole series as one
applyInPandas per consecutive frame pair (rows shuffle once on the pair
key), keeping the same numpy kernel executor-side.  A real-time
micro-batch holds a few frames on the driver, where
``advect_blend_frames`` runs the same kernel pair by pair.
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


def advect(frame: np.ndarray, dy: float, dx: float) -> np.ndarray:
    """Semi-Lagrangian backward resample with bilinear interpolation."""
    ny, nx = frame.shape
    yy, xx = np.meshgrid(np.arange(ny), np.arange(nx), indexing="ij")
    sy = yy - dy
    sx = xx - dx
    y0 = np.clip(np.floor(sy).astype(int), 0, ny - 2)
    x0 = np.clip(np.floor(sx).astype(int), 0, nx - 2)
    fy = np.clip(sy - y0, 0.0, 1.0)
    fx = np.clip(sx - x0, 0.0, 1.0)
    f = np.nan_to_num(frame, nan=0.0)
    out = ((1 - fy) * (1 - fx) * f[y0, x0]
           + (1 - fy) * fx * f[y0, x0 + 1]
           + fy * (1 - fx) * f[y0 + 1, x0]
           + fy * fx * f[y0 + 1, x0 + 1])
    oob = (sy < 0) | (sy > ny - 1) | (sx < 0) | (sx > nx - 1)
    out[oob] = np.nan
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

    Each consecutive (prev, cur) pair becomes one applyInPandas group —
    rows of both frames shuffle once on the pair key (a frame feeds two
    pairs, so data duplicates ×2, bounded); the executor densifies the
    two sparse frames, runs the same numpy estimate_motion/advect/blend
    used at the driver boundary, and emits the blended CUR frame as
    sparse rows.  Per-task memory = two dense frames (~5.7 MB float64).

    Input: long (TIMESTAMP, x_idx, y_idx, value) grid rows; output: the
    same shape for every frame that has a predecessor.
    """
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.functions import broadcast

    ts = grids.select("TIMESTAMP").distinct()
    w = Window.orderBy("TIMESTAMP")     # tiny distinct-frame dim
    pairs = (ts.withColumn("t_prev", F.lag("TIMESTAMP").over(w))
             .filter(F.col("t_prev").isNotNull())
             .select(F.col("TIMESTAMP").alias("pair_t"), "t_prev"))
    base = grids.select("TIMESTAMP", "x_idx", "y_idx",
                        F.col(value_col).alias("v"))
    cur = base.join(broadcast(pairs),
                    base.TIMESTAMP == pairs.pair_t) \
        .select("pair_t", F.lit("cur").alias("role"),
                "x_idx", "y_idx", "v")
    prev = base.join(broadcast(pairs),
                     base.TIMESTAMP == pairs.t_prev) \
        .select("pair_t", F.lit("prev").alias("role"),
                "x_idx", "y_idx", "v")
    both = cur.unionByName(prev)

    import numpy as np

    def blend(pdf: pd.DataFrame) -> pd.DataFrame:
        frames = {}
        for role in ("prev", "cur"):
            part = pdf[pdf["role"] == role]
            m = np.full((ny, nx), np.nan)
            m[part["y_idx"].to_numpy(), part["x_idx"].to_numpy()] = \
                part["v"].to_numpy()
            frames[role] = m
        out = advection_blend(frames["prev"], frames["cur"],
                              alpha=alpha, max_shift=max_shift)
        yy, xx = np.nonzero(np.isfinite(out))
        return pd.DataFrame({
            "TIMESTAMP": np.int64(pdf["pair_t"].iloc[0]),
            "x_idx": xx.astype(np.int32),
            "y_idx": yy.astype(np.int32),
            value_col: out[yy, xx]})

    schema = (f"TIMESTAMP long, x_idx int, y_idx int, {value_col} double")
    return both.groupBy("pair_t").applyInPandas(blend, schema=schema)
