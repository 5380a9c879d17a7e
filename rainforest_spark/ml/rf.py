"""Random-forest QPE on MLlib + a-posteriori bias correction + event CV.

Reference: rainforest/ml/rfdefinitions.py:61-242 (RandomForestRegressorBC
— sklearn RF with a post-fit bias correction), ml/rf.py:537-630 (event
cross-validation), ml/utils.py:71-126 (event splitting).

Spark-first deltas:
- sklearn RF → MLlib ``RandomForestRegressor`` (distributed training).
  Known numeric drift is accepted; tests compare SCORES, not trees
  (SURVEY §7 Phase 3).
- bias correction: the reference fits a zero-intercept polynomial on the
  (sorted predictions, sorted observations) pairs (rfdefinitions.py:42-50)
  — a quantile-quantile match, so we fit on an approxQuantile grid
  (~1k points cross the driver, never the training set) and apply it as
  a pure column expression; scoring/batch prediction stays distributed.
- fold assignment is a deterministic hash of the event id
  (ml/utils.py:114-115 uses RNG; we keep it reproducible).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


@dataclass
class BiasCorrection:
    """p(x) = Σ coefs[k]·x^(k+1) — zero intercept (rfdefinitions.py:42-50)."""

    coefs: list[float] = field(default_factory=lambda: [1.0])

    @classmethod
    def fit(cls, pred: np.ndarray, obs: np.ndarray,
            degree: int = 1) -> "BiasCorrection":
        """Zero-intercept polyfit on sorted(pred) vs sorted(obs)."""
        x = np.sort(np.asarray(pred, dtype=float))
        y = np.sort(np.asarray(obs, dtype=float))
        a = np.vstack([x ** (k + 1) for k in range(degree)]).T
        coefs, *_ = np.linalg.lstsq(a, y, rcond=None)
        return cls(coefs=[float(c) for c in coefs])

    def apply(self, col: F.Column) -> F.Column:
        out = F.lit(0.0)
        for k, c in enumerate(self.coefs):
            out = out + F.lit(c) * F.pow(col, float(k + 1))
        return F.greatest(out, F.lit(0.0))


class RandomForestQPE:
    """MLlib RF regressor + bias correction, mirroring the reference's
    operational model shape (15 trees, depth 20, ≤7 features —
    ml/default_config.yml:13-15)."""

    def __init__(self, features: list[str], target: str = "target_mmh",
                 num_trees: int = 15, max_depth: int = 20, seed: int = 42):
        self.features = features
        self.target = target
        self.num_trees = num_trees
        self.max_depth = min(max_depth, 30)  # MLlib cap
        self.seed = seed
        self.model = None
        self.bc: BiasCorrection | None = None

    def _assemble(self, df: DataFrame) -> DataFrame:
        from pyspark.ml.feature import VectorAssembler

        clean = df.na.drop(subset=self.features)
        va = VectorAssembler(inputCols=self.features, outputCol="features",
                             handleInvalid="skip")
        return va.transform(clean)

    def fit(self, df: DataFrame, bc_degree: int = 1) -> "RandomForestQPE":
        from pyspark.ml.regression import RandomForestRegressor

        train = self._assemble(df)
        rf = RandomForestRegressor(
            featuresCol="features", labelCol=self.target,
            numTrees=self.num_trees, maxDepth=self.max_depth,
            seed=self.seed, subsamplingRate=0.8)
        self.model = rf.fit(train)
        # bias correction: the reference fits sorted(pred) vs sorted(obs)
        # on the FULL collected training set (rfdefinitions.py:42-50) —
        # a q-q match, so a fixed quantile grid carries the same
        # information.  approxQuantile keeps it distributed: ~1k grid
        # points cross the driver instead of every training row.
        scored = self.model.transform(train).select("prediction", self.target)
        probs = [i / 1000.0 for i in range(1001)]
        qp, qo = scored.approxQuantile(["prediction", self.target],
                                       probs, 1e-3)
        self.bc = BiasCorrection.fit(np.asarray(qp), np.asarray(qo),
                                     degree=bc_degree)
        return self

    def transform(self, df: DataFrame, corrected: bool = True) -> DataFrame:
        out = self.model.transform(self._assemble(df))
        if corrected and self.bc is not None:
            out = out.withColumn("prediction_bc",
                                 self.bc.apply(F.col("prediction")))
        return out.drop("features")

    def feature_importances(self) -> dict[str, float]:
        fi = self.model.featureImportances.toArray()
        return dict(zip(self.features, [float(x) for x in fi]))


def sessionize(df: DataFrame, partition_cols: list[str], ts_col: str,
               gap_sec: int) -> DataFrame:
    """Event sessionization: a gap > ``gap_sec`` starts a new session.

    Reference A15 ``split_event`` (ml/utils.py:71-126): order timestamps,
    cumsum of gap-jumps = event id.  Spark-first: ``lag`` + running
    ``sum`` in one window — one shuffle on the partition key.
    """
    w = Window.partitionBy(*partition_cols).orderBy(F.col(ts_col))
    gap = (F.col(ts_col).cast("long")
           - F.lag(F.col(ts_col).cast("long")).over(w))
    is_new = F.when(gap.isNull() | (gap > gap_sec), 1).otherwise(0)
    running = Window.partitionBy(*partition_cols).orderBy(F.col(ts_col)) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn("session_id", F.sum(is_new).over(running) - 1)


def split_events(df: DataFrame, ts_col: str = "TIMESTAMP",
                 gap_hours: float = 12.0, k: int = 5,
                 seed: int = 42) -> DataFrame:
    """Event sessionization + deterministic K-fold assignment.

    Reference ``split_event`` (ml/utils.py:71-126): timestamps sorted,
    gap > 12 h ⇒ new event; events randomly assigned to K folds.  The
    event boundary is GLOBAL over timestamps (not per station), so the
    session window runs on the distinct-timestamp dimension (small) and
    broadcast-joins back — no global window over the fact table.
    """
    from pyspark.sql.functions import broadcast

    tdim = df.select(ts_col).distinct()
    sess = sessionize(tdim, [], ts_col, int(gap_hours * 3600)) \
        .withColumnRenamed("session_id", "event_id")
    sess = sess.withColumn(
        "fold", F.pmod(F.hash(F.col("event_id"), F.lit(seed)), F.lit(k)))
    return df.join(broadcast(sess), on=ts_col, how="left")


def event_cross_validation(df: DataFrame, features: list[str],
                           target: str = "target_mmh", k: int = 5,
                           num_trees: int = 15, max_depth: int = 20,
                           seed: int = 42):
    """K-fold event-based CV; returns per-fold test scores
    (reference ml/rf.py:537-630)."""
    folded = split_events(df, k=k, seed=seed).cache()
    results = []
    for fold in range(k):
        train = folded.filter(F.col("fold") != fold)
        test = folded.filter(F.col("fold") == fold)
        if test.limit(1).count() == 0:
            continue
        model = RandomForestQPE(features, target, num_trees, max_depth,
                                seed).fit(train)
        scored = model.transform(test)
        agg = scored.agg(
            F.sqrt(F.avg(F.pow(F.col("prediction_bc") - F.col(target), 2)))
            .alias("rmse"),
            F.corr("prediction_bc", target).alias("corr"),
            F.count(F.lit(1)).alias("n")).collect()[0]
        results.append({"fold": fold, "rmse": float(agg["rmse"]),
                        "corr": float(agg["corr"] or 0.0),
                        "n": int(agg["n"])})
    folded.unpersist()
    return results


def permutation_importance(df: DataFrame, model: RandomForestQPE,
                           features: list[str], target: str,
                           seed: int = 42) -> dict[str, float]:
    """Permutation feature importance (reference ml/rf.py:632-843):
    score drop when one feature column is shuffled.

    The permutation is PARTITION-LOCAL: one rand() repartition breaks
    any input-order/feature correlation, then each feature column is
    shuffled within its partition by an Arrow-batched ``mapInPandas``
    (deterministic per (seed, feature, partition)).  Statistically
    equivalent to a global permutation for the importance statistic, and
    nothing funnels through a single task — the previous formulation
    used two no-partition row_number windows plus a join per feature.

    The partition's Arrow batches are CONCATENATED before permuting: a
    per-batch shuffle (with small ``maxRecordsPerBatch``) would only
    weakly break the feature-target association and bias importances
    toward zero.  One partition must fit in worker memory — already the
    engine-wide sizing assumption.
    """
    import numpy as np
    import pandas as pd

    from pyspark import TaskContext

    base = _rmse(model.transform(df), target)
    n = df.rdd.getNumPartitions()
    d = df.repartition(n, F.rand(seed))
    out = {}
    for i, feat in enumerate(features):
        def _permute(batches, _feat=feat, _salt=seed * 1_000_003 + i * 7919):
            pid = TaskContext.get().partitionId()
            rng = np.random.default_rng(_salt + pid)
            parts = list(batches)
            if not parts:
                return
            pdf = pd.concat(parts, ignore_index=True)
            pdf[_feat] = pdf[_feat].to_numpy()[rng.permutation(len(pdf))]
            yield pdf

        permuted = d.mapInPandas(_permute, d.schema)
        out[feat] = _rmse(model.transform(permuted), target) - base
    return out


def _rmse(scored: DataFrame, target: str) -> float:
    col = "prediction_bc" if "prediction_bc" in scored.columns else "prediction"
    return float(scored.agg(
        F.sqrt(F.avg(F.pow(F.col(col) - F.col(target), 2)))).collect()[0][0])
