"""Named-table catalog + SQL entry point.

Re-expresses the reference's ``Database`` / ``TableDict`` /
``DataFrameWithInfo`` abstractions (rainforest/database_10min/database.py:
47-136, 164-234):

- ``add_tables``: name → file glob, registered as SQL temp views.
- ``query``: SQL with the custom ``UT()`` macro rewritten to
  ``UNIX_TIMESTAMP()`` (database.py:227-234), optional sink, and the
  RAM-gated collect policy (stay distributed when the estimated result
  exceeds ``WARNING_RAM_MB``; database.py:190-201, constants.py:325).
- ``upsert``: a daily-partition upsert into a table registered from a
  path, followed by a re-registration so later reads see the new files.

Spark-first deltas from the reference: the catalog is just the Spark
catalog (temp views) — Catalyst handles pushdown/pruning/broadcast; the
size estimate reuses the reference's ``rows × cols × 4B`` heuristic
(database.py:192-193).  A collect first ships a small bounded head of
the result; only a result larger than that head is counted before the
gate decides, so a small read runs its plan once and a larger one pays
the head as an extra pass.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from rainforest_spark.session import WARNING_RAM_MB, get_spark
from rainforest_spark.sources.readers import read_df

_UT_MACRO = re.compile(r"\bUT\s*\(", re.IGNORECASE)


def parse_query(sql_query: str) -> str:
    """Rewrite the reference's ``UT(`` macro to ``UNIX_TIMESTAMP(``.

    Reference: database_10min/database.py:227-234 (string substitution
    before handing the SQL to Spark).  A regex keeps it from firing
    inside identifiers like ``OUT(``.
    """
    return _UT_MACRO.sub("UNIX_TIMESTAMP(", sql_query)


@dataclass
class TableInfo:
    """Lazy table metadata (reference ``DataFrameWithInfo``, database.py:54-80)."""

    name: str
    df: DataFrame
    #: the file glob the table was registered from; None for a DataFrame
    path: str | None = None
    _summary: dict | None = field(default=None, repr=False)

    def summary(self, time_col: str = "TIMESTAMP") -> dict:
        if self._summary is None:
            from pyspark.sql import functions as F

            aggs = [F.count(F.lit(1)).alias("rows")]
            if time_col in self.df.columns:
                aggs += [F.min(time_col).alias("t_min"), F.max(time_col).alias("t_max")]
            self._summary = self.df.agg(*aggs).collect()[0].asDict()
            self._summary["cols"] = len(self.df.columns)
        return self._summary


class Database:
    """SQL-queryable catalog of named tables (reference database.py:82-234)."""

    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or get_spark()
        self.tables: dict[str, TableInfo] = {}

    def add_tables(self, sources: dict[str, DataFrame | str]) -> None:
        """Register tables from DataFrames or file globs as SQL temp views.

        Reference: database.py:113-136 (``add_tables`` → ``read_df`` →
        ``registerTempTable``).
        """
        for name, src in sources.items():
            path = None if isinstance(src, DataFrame) else src
            df = src if path is None else read_df(self.spark, path)
            df.createOrReplaceTempView(name)
            self.tables[name] = TableInfo(name, df, path)

    def upsert(self, name: str, new_rows: DataFrame, key_cols: list[str],
               partition_col: str = "day") -> None:
        """``upsert_daily_partition`` into the files table ``name`` was
        registered from, then re-register it.

        A registered view keeps the file listing it was planned with, so
        without the re-registration the next read of a rewritten day
        fails on a file the upsert removed.  A table registered from a
        DataFrame has no files to write to: ``ValueError``.
        """
        from rainforest_spark.sources.writers import upsert_daily_partition

        path = self.tables[name].path
        if path is None:
            raise ValueError(f"table {name!r} was registered from a DataFrame, "
                             "not a path; there is nothing to upsert into")
        upsert_daily_partition(self.spark, new_rows, path, key_cols,
                               partition_col)
        self.add_tables({name: path})

    def estimate_result_mb(self, df: DataFrame, n_rows: int) -> float:
        """rows × cols × 4 bytes, the reference's float32 heuristic
        (database.py:192-193)."""
        return n_rows * len(df.columns) * 4 / 1024 / 1024

    def query(self, sql_query: str, to_memory: bool = True,
              output_file: str | None = None):
        """Run SQL (with UT() macro) and apply the reference's result policy.

        - ``output_file`` → distributed write, csv[.gz]/parquet by suffix
          (database.py:200-222).
        - ``to_memory`` → collect to pandas only under the RAM gate
          (database.py:190-201); else return the lazy DataFrame.

        The gate admits ``cap = WARNING_RAM_MB·2²⁰ / (4·cols)`` rows.  A
        collect first takes a bounded head, ``limit(probe + 1)`` with
        ``probe = cap // 1024``: a result of at most ``probe`` rows is that
        head, in one pass of the plan (one Spark job for a scan, a top-K
        for ``ORDER BY``).  A larger result is counted, and the gate then
        collects it in full or returns it lazily, as without the head.
        Such a miss pays a whole extra pass, not a small one: the Arrow
        collect of a limit takes up to ``probe + 1`` rows from *each*
        partition and shuffles them to one, so the bound holds per
        partition, a scan reads at least the first row group of every
        partition, and an aggregate runs in full.  The probe stays far
        below ``cap``: ``ORDER BY`` under a limit plans a top-K that
        allocates 2·limit slots per task up front (a ``cap``-sized limit
        exhausted a 3g driver heap), and a head near ``cap`` rows could
        exceed ``spark.driver.maxResultSize`` for a result that the gate
        returns lazily.  ``to_memory=False`` runs no job.
        """
        df = self.spark.sql(parse_query(sql_query))
        if output_file:
            from rainforest_spark.sources.writers import write_query_result

            write_query_result(df, output_file)
            return df
        if to_memory:
            # a command's result (e.g. CREATE VIEW) has no columns
            cap = int(WARNING_RAM_MB * 2**20 // (4 * max(len(df.columns), 1)))
            # per partition: 512 KB at 4 B per cell, ~8 MB shuffled for a
            # 16-file scan whose full head is thrown away
            probe = max(cap // 1024, 1)
            head = df.limit(probe + 1).toPandas()
            if len(head) <= probe:
                return head
            if self.estimate_result_mb(df, df.count()) <= WARNING_RAM_MB:
                return df.toPandas()
        return df
