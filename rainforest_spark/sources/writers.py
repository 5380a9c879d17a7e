"""Sinks: query-result writes, daily-partition upsert, anti-join append
(SURVEY §2.1 S4/S5/S6).

The reference rewrites whole day files (read old + concat + drop_duplicates,
retrieve_radar_data.py:635-649) and merges gauge CSVs row-by-row
(retrieve_dwh_data.py:16-28).  Spark-first: partitioned parquet with dynamic
partition overwrite — only touched partitions rewrite, which is the shape
that survives 100 TB (no read-modify-write of the whole table).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Read errors that mean "no table at this path yet": no directory, or
#: a directory without data files.
_NO_TABLE_YET = {"PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"}


def write_query_result(df: DataFrame, output_file: str) -> None:
    """CSV / csv.gz / parquet sink by suffix (reference database.py:200-222)."""
    p = output_file.lower()
    if p.endswith(".parquet"):
        df.write.mode("overwrite").option("compression", "gzip").parquet(output_file)
    elif p.endswith(".csv.gz"):
        (df.write.mode("overwrite").option("header", True)
         .option("compression", "gzip").csv(output_file))
    elif p.endswith(".csv"):
        df.write.mode("overwrite").option("header", True).csv(output_file)
    else:
        raise ValueError(f"unsupported sink suffix: {output_file}")


def upsert_daily_partition(spark: SparkSession, new_rows: DataFrame, path: str,
                           key_cols: list[str], partition_col: str = "day") -> None:
    """Append + dedup into a partitioned parquet table.

    Reference semantics (retrieve_radar_data.py:635-649): if the day file
    exists, old and new are concatenated and de-duplicated on the key.
    Spark-first: union with the existing rows of ONLY the incoming
    partitions, dropDuplicates on the key, dynamic-overwrite those
    partitions.  At scale this touches |incoming days| partitions, never
    the whole table.

    Only a table that does not exist yet is created from ``new_rows``
    alone; any other error (e.g. a revision whose schema does not merge
    with the stored one) propagates and leaves the stored days intact.
    Dynamic overwrite is a per-write option, so the caller's session
    conf is never changed.
    """
    try:
        existing = spark.read.parquet(path)
    except AnalysisException as exc:
        if exc.getCondition() not in _NO_TABLE_YET:
            raise
        merged = new_rows
    else:
        days = [r[0] for r in new_rows.select(partition_col).distinct().collect()]
        old = existing.filter(existing[partition_col].isin(days))
        merged = old.unionByName(new_rows, allowMissingColumns=True)
    (merged.dropDuplicates(key_cols)
     .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
     .partitionBy(partition_col).parquet(path))


def anti_join_append(existing: DataFrame, new_rows: DataFrame,
                     key_cols: list[str], overwrite: bool = False) -> DataFrame:
    """Incremental merge keyed on ``key_cols``.

    Reference ``append_to_file`` (retrieve_dwh_data.py:16-28): keep existing
    rows, add only new keys (or the reverse when ``overwrite``).  Expressed
    as a left-anti join + union — shuffle only on the key columns.
    """
    if overwrite:
        keep_old = existing.join(new_rows.select(key_cols), on=key_cols, how="left_anti")
        return keep_old.unionByName(new_rows, allowMissingColumns=True)
    add_new = new_rows.join(existing.select(key_cols), on=key_cols, how="left_anti")
    return existing.unionByName(add_new, allowMissingColumns=True)


def append_run_summary(spark: SparkSession, path: str, day: str, t0: int,
                       t1: int, n_steps: int, n_rows: int,
                       task: str = "") -> None:
    """Job-metrics append (SURVEY S17): the reference appends protocol
    lines 'day;t0;t1;n_steps;n_rows;taskfile'
    (retrieve_radar_data.py:663-674); here an appendable parquet table."""
    row = [(day, int(t0), int(t1), int(n_steps), int(n_rows), task)]
    df = spark.createDataFrame(
        row, "day string, t0 long, t1 long, n_steps long, n_rows long, "
             "task string")
    df.write.mode("append").parquet(path)


def compact_partitions(spark: SparkSession, path: str,
                       partition_col: str = "day",
                       target_file_mb: int = 128,
                       min_files: int = 4,
                       partitions: list | None = None) -> dict:
    """Small-file compaction for a partitioned parquet table — the
    maintenance pass every long-lived upsert store needs
    (:func:`upsert_daily_partition` accumulates one file set per write;
    at 100 TB a year of 5-min upserts is millions of KB-files whose
    open/footer cost dominates scans).

    Per partition: if it holds ≥ ``min_files`` data files, rewrite it
    as ``ceil(bytes / target_file_mb)`` files via a dynamic partition
    overwrite (a per-write option, like the upsert's) — only rewritten
    partitions are touched, readers of other partitions are unaffected.
    ``partitions`` limits the sweep (e.g. yesterday only, after the
    daily ingest); default sweeps every partition that needs it.

    Returns ``{partition_value: n_files_before}`` for the rewritten
    partitions.  File listing happens driver-side on the partition
    DIRECTORIES (a bounded metadata walk), never through the data.
    """
    import glob as _glob
    import math
    import os

    todo = {}
    for pdir in sorted(_glob.glob(os.path.join(path, f"{partition_col}=*"))):
        val = os.path.basename(pdir).split("=", 1)[1]
        if partitions is not None and val not in {str(p) for p in partitions}:
            continue
        files = [f for f in _glob.glob(os.path.join(pdir, "*"))
                 if not os.path.basename(f).startswith(("_", "."))]
        if len(files) >= min_files:
            todo[val] = (len(files), sum(os.path.getsize(f) for f in files))
    if not todo:
        return {}
    table = spark.read.parquet(path)
    for val, (n, nbytes) in todo.items():
        n_out = max(1, math.ceil(nbytes / (target_file_mb * 2**20)))
        part = table.filter(
            F.col(partition_col).cast("string") == val)
        (part.repartition(n_out)
         .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
         .partitionBy(partition_col).parquet(path))
    return {val: n for val, (n, _) in todo.items()}
