"""rainforest_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of MeteoSwiss/rainforest.

The reference (/root/reference) is a radar QPE library built on
numpy/pandas/dask with an embedded Spark SQL query layer and SLURM fan-out
ETL.  This package re-expresses the whole surface on DataFrame/SQL/Catalyst:

- ``session``    — SparkSession factory mirroring the reference engine conf
                   (rainforest/database_10min/database.py:17-24).
- ``catalog``    — named-table catalog + SQL entry point with the ``UT()``
                   macro and RAM-gated collect (database.py:96-234).
- ``sources``    — scan/sink helpers: multi-format reads, daily-partition
                   upsert, anti-join incremental append (SURVEY §2.1).
- ``operators``  — the relational operator library (SURVEY §2.2-2.8):
                   filters, joins (as-of, latest-per-run, nearest-centroid),
                   aggregations (mode, session paths), windows (ranged
                   cumulative sums, weighted quantiles), scores, dedup,
                   similarity, text analysis.
- ``grid``       — polar→Cartesian geometry pipeline as DataFrame jobs.
- ``ml``         — MLlib RandomForest QPE + a-posteriori bias correction.
- ``streaming``  — Structured Streaming re-expression of the RT daemon.
"""

__version__ = "0.1.0"

from rainforest_spark.session import get_spark  # noqa: F401
from rainforest_spark.catalog import Database  # noqa: F401
