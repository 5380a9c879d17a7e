"""Sinks: query-result writes, daily-partition upsert, anti-join append
(SURVEY §2.1 S4/S5/S6), and the staged partition swap that the upsert
and the RT stream's ``post/`` store commit through.

The reference rewrites whole day files (read old + concat + drop_duplicates,
retrieve_radar_data.py:635-649) and merges gauge CSVs row-by-row
(retrieve_dwh_data.py:16-28).  The upsert keeps that per-day
read-modify-write, on the driver with pyarrow: only the touched day
partitions are read and rewritten, never the whole table, and each new
day file is staged and swapped into place.  Spark checks the schema and
collects the incoming rows; it does not merge or write.
"""

from __future__ import annotations

import datetime
import os
import shutil
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Read errors that mean "no table at this path yet": no directory, or
#: a directory without data files.
_NO_TABLE_YET = {"PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"}

#: characters Spark escapes as %XX in partition directory names
_ESCAPED = frozenset(map(chr, range(1, 32))) | frozenset('"#%\'*/:=?[\\]^{\x7f')


def _partition_dir(col: str, value) -> str:
    """The directory name Spark's ``partitionBy`` gives ``col=value``."""
    if value is None or value == "":
        text = "__HIVE_DEFAULT_PARTITION__"
    elif isinstance(value, bool):
        text = str(value).lower()
    elif isinstance(value, (int, str)) or (
            isinstance(value, datetime.date)
            and not isinstance(value, datetime.datetime)):
        text = "".join(f"%{ord(c):02X}" if c in _ESCAPED else c
                       for c in str(value))
    else:
        raise TypeError(f"unsupported partition value {value!r}")
    return f"{col}={text}"


def _keep_last(table, keys: list[str]):
    """``table`` with one row per ``keys`` value (nulls equal): the last."""
    import numpy as np

    last = (table.append_column("__row", [np.arange(table.num_rows)])
            .group_by(keys, use_threads=False)
            .aggregate([("__row", "max")])["__row_max"])
    return table.take(np.sort(last.to_numpy()))


def _staging_dir(root: str, tag) -> str:
    # Spark and pyarrow readers skip names that start with "_" (Spark
    # only if the name has no "=")
    return f"{root}/_staging-{tag}"


def undo_partition_swap(root: str, tag) -> None:
    """Roll back what a cut :func:`swap_partitions` of ``tag`` left: put
    back every old partition it had moved aside whose place is empty,
    then remove its staging directory."""
    staging = _staging_dir(root, tag)
    if not os.path.isdir(staging):
        return
    for name in os.listdir(staging):
        old = f"{root}/{name.removeprefix('_old-')}"
        if name.startswith("_old-") and not os.path.isdir(old):
            os.rename(f"{staging}/{name}", old)
    shutil.rmtree(staging)


def swap_partitions(root: str, tag, tables: dict, **write_options) -> None:
    """Replace the partition directories ``root/<name>`` with the Arrow
    tables of ``tables`` (name → table), one parquet file each
    (``pq.write_table`` options in ``write_options``).

    The files go to the hidden staging directory of ``tag`` first; then
    each partition's old directory is moved into it as ``_old-<name>``
    and the staged one renamed into place, and the staging directory is
    removed.  Unlike the delete-then-rename of Spark's dynamic-overwrite
    commit, a commit cut between the two renames loses no stored
    partition: :func:`undo_partition_swap` of the same ``tag`` puts it
    back.  One writer owns a tag at a time.
    """
    import pyarrow.parquet as pq

    staging = _staging_dir(root, tag)
    # a new name per commit: a reader planned on the old listing fails
    # on a missing file instead of reading the new one at the old length
    file_name = f"part-00000-{uuid.uuid4().hex}.parquet"
    for name, table in tables.items():
        os.makedirs(f"{staging}/{name}")
        pq.write_table(table, f"{staging}/{name}/{file_name}",
                       **write_options)
    for name in tables:
        if os.path.isdir(f"{root}/{name}"):
            os.rename(f"{root}/{name}", f"{staging}/_old-{name}")
        os.rename(f"{staging}/{name}", f"{root}/{name}")
    shutil.rmtree(staging)


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
    """Append + dedup into a partitioned parquet table, one day at a time.

    Reference semantics (retrieve_radar_data.py:635-649): if the day file
    exists, old and new are concatenated and de-duplicated on the key,
    and the day file is rewritten.  Here the same read-modify-write runs
    on the driver, per touched ``path/<partition_col>=<v>/``: the stored
    rows (none for a new day) and that day's incoming rows are merged
    with pyarrow, de-duplicated on ``key_cols`` within the day, the
    incoming row winning a key clash (the later one among incoming
    duplicates), and committed as one parquet file by
    :func:`swap_partitions`.  Untouched days are never read or written.
    A day whose last commit was cut between its two renames is restored
    before it is read.

    Spark only checks the schema: the stored one (from
    ``spark.read.parquet``) must merge with ``new_rows`` by name, as
    ``unionByName(allowMissingColumns=True)`` does, and the merged
    schema gives the written types.  A revision that does not merge
    raises ``AnalysisException`` before any file is touched.  Only a
    table that does not exist yet is created from ``new_rows`` alone.
    The upsert runs two Spark jobs, the schema read and one Arrow
    collect of ``new_rows``, whose rows must therefore fit on the
    driver, like the reference's day frame.  The caller's session conf
    is never changed.

    The layout is what Spark's ``partitionBy`` writes: the same
    directory names for int, string and date values, no partition
    column in the files, timestamps as INT96 when
    ``spark.sql.parquet.outputTimestampType`` says so (Spark's
    default).  The exception is a table that also has
    ``timestamp_ntz`` columns: pyarrow cannot write INT96 for some
    columns only, so its ``timestamp`` columns are written as INT64
    micros, which Spark reads alike and DuckDB as ``TIMESTAMPTZ``.
    ``path`` is a local path (a URI raises ``ValueError`` before any
    Spark job), and only one writer may write a given day at a time, as
    with Spark's dynamic overwrite.
    """
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    if "://" in path:
        raise ValueError(f"path must be a local path: {path!r}")
    try:
        existing = spark.read.parquet(path)
    except AnalysisException as exc:
        if exc.getCondition() not in _NO_TABLE_YET:
            raise
        merged = new_rows
    else:
        # no job: the empty side is optimised away, and the union
        # casts the incoming rows to the merged types
        merged = existing.limit(0).unionByName(new_rows,
                                               allowMissingColumns=True)
    target = to_arrow_schema(merged.schema)
    rows = merged.toArrow().cast(target)
    file_schema = target.remove(target.get_field_index(partition_col))
    keys = [k for k in key_cols if k != partition_col]
    int96 = (spark.conf.get("spark.sql.parquet.outputTimestampType")
             == "INT96" and not any(pa.types.is_timestamp(f.type)
                                    and f.type.tz is None
                                    for f in file_schema))
    # measured values rarely repeat: dictionary pages would make them
    # ~45 % larger than plain ones, where Spark's writer falls back
    dictionary = [f.name for f in file_schema
                  if not pa.types.is_floating(f.type)]

    days = rows[partition_col]
    for value in pc.unique(days).to_pylist():
        part = _partition_dir(partition_col, value)
        # one tag per day, so the day's next upsert finds a cut commit;
        # no "=" in it, or Spark would list the staging directory
        tag = part.replace("=", "-")
        undo_partition_swap(path, tag)
        new = rows.filter(pc.is_null(days) if value is None
                          else pc.equal(days, pa.scalar(value, days.type)))
        old = (pq.read_table(f"{path}/{part}", schema=file_schema,
                             coerce_int96_timestamp_unit="us")
               if os.path.isdir(f"{path}/{part}")
               else file_schema.empty_table())
        day = pa.concat_tables([old, new.drop_columns(partition_col)])
        swap_partitions(path, tag, {part: _keep_last(day, keys)},
                        use_deprecated_int96_timestamps=int96,
                        use_dictionary=dictionary)


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
    maintenance pass for partitions that appends fragment (at 100 TB a
    year of 5-min appends is millions of KB-files whose open/footer
    cost dominates scans).  :func:`upsert_daily_partition` leaves one
    file per day it touches, so it needs no compaction of its own.

    Per partition: if it holds ≥ ``min_files`` data files, rewrite it
    as ``ceil(bytes / target_file_mb)`` files via a dynamic partition
    overwrite (a per-write option) — only rewritten partitions are
    touched, readers of other partitions are unaffected.
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
