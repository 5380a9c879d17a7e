"""Filters / predicates (SURVEY §2.2).

Every operator here is a pure DataFrame transformation built from column
expressions, so Catalyst pushes the predicates into the parquet scan
(check: ``.explain`` shows them under ``PushedFilters``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Reference missing-value sentinel (database_10min/default_config.yml:1).
NO_DATA_FILL = -9999


def sentinel_to_null(df: DataFrame, cols: list[str],
                     sentinel: float = NO_DATA_FILL) -> DataFrame:
    """Replace the -9999 sentinel with NULL (reference ml/rf.py:154,180-181).

    Spark-first: NULL end-to-end; the sentinel exists only at legacy file
    boundaries.
    """
    return df.withColumns(
        {c: F.when(F.col(c) == sentinel, None).otherwise(F.col(c)) for c in cols})


def clamp_below(df: DataFrame, col: str, threshold: float,
                fill: float = 0.0) -> DataFrame:
    """Threshold clamp, e.g. RZC < 0.04 → 0 (MIN_RZC_VALID,
    common/constants.py:296; io_data.py:97-98)."""
    return df.withColumn(
        col, F.when(F.col(col) < threshold, F.lit(fill)).otherwise(F.col(col)))


def complete_group_filter(df: DataFrame, group_cols: list[Column | str],
                          expected: int) -> DataFrame:
    """Keep only groups with exactly ``expected`` members.

    Reference's complete-hour constraint ``transform('count') == 6``
    (ml/rf.py:211-223) as a count window — single shuffle.
    """
    w = Window.partitionBy(*group_cols)
    return (df.withColumn("__cnt", F.count(F.lit(1)).over(w))
            .filter(F.col("__cnt") == expected)
            .drop("__cnt"))


def dedup_by_key(df: DataFrame, key_cols: list[str],
                 order_cols: list[Column] | None = None) -> DataFrame:
    """Deduplicate on a key subset (reference drop_duplicates,
    ml/rf.py:170-177).

    With ``order_cols`` the survivor is deterministic (row_number over the
    ordering); without, Spark's ``dropDuplicates`` keeps an arbitrary row —
    fine when duplicates are exact copies.
    """
    if order_cols is None:
        return df.dropDuplicates(key_cols)
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))
