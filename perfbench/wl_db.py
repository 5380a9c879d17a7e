"""db_research: one research client against the gauge/radar/reference
database, through ``catalog.Database``.

Set-up writes the seeded tables (radar day-partitioned) and registers
them with ``Database.add_tables``.  The client then runs a closed loop
of a fixed op cycle — point lookups (one station, one hour, through the
``UT()`` macro), hourly aggregates over a week, gauge×radar×reference
co-location joins on a day skewed toward recent ones, and
``upsert_daily_partition`` writes of a revised day, each followed by a
read that must see it — until ``--seconds`` of op time have passed.
Once per run it trains: ``prepare_input`` + ``RandomForestQPE.fit`` at
the reference's 15-tree shape (the run's bulk operation).

Every read is compared with DuckDB on the same parquet right after it
runs, outside the op's timing.
"""

from __future__ import annotations

import glob
import os
import time
from datetime import datetime, timezone

import numpy as np
import pandas as pd

import gen
import harness
from harness import check, log, median, quantile

SIZES = {
    "full": {"stations": 30, "days": 8, "revisions": 6,
             "revision_stations": 3, "train_days": 1},
    "tiny": {"stations": 6, "days": 3, "revisions": 2,
             "revision_stations": 2, "train_days": 1},
}
#: one client's op cycle.  Point lookups are the common op: with 7 of
#: 12, the median latency is a warm point lookup's even when the run's
#: first lookup pays first-use costs, and the slow ops (joins, the
#: upsert) set the p90
CYCLE = ["point", "range", "point", "join", "point", "upsert", "verify",
         "point", "point", "join", "point", "point"]
RF_FEATURES = ["ZH_mean", "ZDR_mean", "RHOHV_mean", "HEIGHT", "VISIB_mean",
               "HISO", "DIST_TO_RAD"]


def _utc(ts: int) -> str:
    return datetime.fromtimestamp(ts, timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S")


def setup(ctx, rep: int) -> dict:
    from rainforest_spark.catalog import Database

    sz = ctx.size
    base = os.path.join(ctx.work, f"setup{rep}")
    gdb = gen.ResearchDB(ctx.seed, sz["stations"], sz["days"])
    tables = gdb.tables()
    paths = gen.write_db(os.path.join(base, "db"), tables)
    rng = np.random.default_rng(ctx.seed + 5)
    weights = 1.5 ** np.arange(len(gdb.days))       # recent days favoured
    weights /= weights.sum()
    revisions = []
    for i in range(sz["revisions"]):
        day = int(rng.choice(gdb.days, p=weights))
        rev = gdb.revision(day, sz["revision_stations"])
        path = os.path.join(base, f"revision_{i}.parquet")
        rev.to_parquet(path, index=False)
        revisions.append((day, path, rev))
    db = Database(ctx.spark)
    with ctx.tracer.span("catalog.add_tables"):
        db.add_tables(paths)
    radar = tables["radar"]
    keys = {int(d): set(map(tuple, part[gen.RADAR_KEY].to_numpy().tolist()))
            for d, part in radar.groupby("day")}
    return {"db": db, "paths": paths, "gdb": gdb, "revisions": revisions,
            "day_keys": keys, "weights": weights}


# ------------------------------------------------------------------ ops

def _point(rng, st):
    gdb = st["gdb"]
    sta = str(rng.choice(gdb.stations))
    h0 = int(rng.choice(gdb.ts[::6])) - 600
    cols = "STATION, TIMESTAMP, RRE150Z0, TRE200S0"
    where = f"STATION = '{sta}' AND TIMESTAMP >= {{lo}} AND TIMESTAMP < {{hi}}"
    spark_sql = (f"SELECT {cols} FROM gauge WHERE "
                 + where.format(lo=f"UT('{_utc(h0)}')",
                                hi=f"UT('{_utc(h0 + 3600)}')"))
    duck_sql = (f"SELECT {cols} FROM {{gauge}} WHERE "
                + where.format(lo=h0, hi=h0 + 3600))
    return spark_sql, duck_sql, ["TIMESTAMP"]


def _range(rng, st):
    gdb = st["gdb"]
    stas = "', '".join(rng.choice(gdb.stations, 3, replace=False))
    t1 = int(gdb.ts[-1]) + 600
    t0 = max(int(gdb.ts[0]), t1 - 7 * 86400)
    body = ("SELECT STATION, (TIMESTAMP - 600) - (TIMESTAMP - 600) % 3600 "
            "AS HOUR, SUM(RRE150Z0) AS RAIN, AVG(TRE200S0) AS TEMP, "
            "COUNT(*) AS N FROM {gauge} WHERE STATION IN ('" + stas + "') "
            "AND TIMESTAMP >= {lo} AND TIMESTAMP < {hi} AND RRE150Z0 >= 0 "
            "GROUP BY 1, 2")
    return (body.format(gauge="gauge", lo=f"UT('{_utc(t0)}')",
                        hi=f"UT('{_utc(t1)}')"),
            body.replace("{lo}", str(t0)).replace("{hi}", str(t1)),
            ["STATION", "HOUR"])


def _join(rng, st):
    day = int(rng.choice(st["gdb"].days, p=st["weights"]))
    body = ("SELECT g.STATION, r.RADAR, COUNT(*) AS N, "
            "AVG(g.RRE150Z0) AS GAUGE, AVG(r.ZH_mean) AS ZH, "
            "AVG(f.RZC) AS RZC FROM {gauge} g "
            "JOIN {radar} r ON g.STATION = r.STATION "
            "AND g.TIMESTAMP = r.TIMESTAMP "
            "JOIN {reference} f ON f.STATION = g.STATION "
            "AND f.TIMESTAMP = g.TIMESTAMP "
            f"WHERE r.day = {day} AND r.NX = 0 AND r.NY = 0 AND f.NX = 0 "
            "AND f.NY = 0 AND g.RRE150Z0 >= 0 AND r.ZH_mean > -100 "
            "GROUP BY g.STATION, r.RADAR")
    return (body.format(gauge="gauge", radar="radar", reference="reference"),
            body, ["STATION", "RADAR"])


def _verify_sql(day: int):
    body = "SELECT COUNT(*) AS N FROM {radar} WHERE day = " + str(day)
    return body.format(radar="radar"), body, []


def _read(st, sql: str, tr) -> pd.DataFrame:
    db = st["db"]
    if not tr.enabled:
        return db.query(sql)
    # traced: the same work as query(to_memory=True) — plan + count,
    # then the result transfer — split into two spans
    with tr.span("catalog.query"):
        df = db.query(sql, to_memory=False)
        df.count()
    with tr.span("catalog.collect"):
        return df.toPandas()


def _upsert(st, rev_path: str, tr) -> None:
    from rainforest_spark.sources.writers import upsert_daily_partition

    spark = st["db"].spark
    with tr.span("sources.writers.upsert"):
        upsert_daily_partition(spark, spark.read.parquet(rev_path),
                               st["paths"]["radar"], gen.RADAR_KEY + ["day"])
    # the registered view caches its file listing: re-register the
    # rewritten table so later reads see the new files
    with tr.span("catalog.refresh"):
        st["db"].add_tables({"radar": st["paths"]["radar"]})


def _train(ctx, st, tr):
    from rainforest_spark.ml.dataset import prepare_input
    from rainforest_spark.ml.rf import RandomForestQPE

    db = st["db"]
    cut = int(st["gdb"].ts[-1]) - ctx.size["train_days"] * 86400
    inputs = [db.query(f"SELECT * FROM {t} WHERE TIMESTAMP > {cut}",
                       to_memory=False)
              for t in ("gauge", "radar", "reference")]
    inputs += [db.query(f"SELECT * FROM {t}", to_memory=False)
               for t in ("stations", "radars")]
    with tr.span("ml.dataset.prepare_input"):
        ds = prepare_input(*inputs)
        if tr.enabled:
            ds = ds.localCheckpoint()
    with tr.span("ml.rf.fit"):
        model = RandomForestQPE(RF_FEATURES, num_trees=15, max_depth=6,
                                seed=ctx.seed).fit(ds)
    return ds, model


# ------------------------------------------------------------ checking

def _duck(st):
    import duckdb

    if "duck" not in st:
        st["duck"] = duckdb.connect()
    return st["duck"]


def _duck_tables(st) -> dict:
    p = st["paths"]
    return {"gauge": f"read_parquet('{p['gauge']}')",
            "reference": f"read_parquet('{p['reference']}')",
            "radar": f"read_parquet('{p['radar']}/*/*.parquet', "
                     "hive_partitioning = true)"}


def _same(got: pd.DataFrame, want: pd.DataFrame, keys: list[str]) -> bool:
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    if keys:
        got = got.sort_values(keys, ignore_index=True)
        want = want.sort_values(keys, ignore_index=True)
    for c in got.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if a.dtype.kind in "fc" or b.dtype.kind in "fc":
            a, b = a.astype(float), b.astype(float)
            if not np.allclose(a, b, rtol=1e-9, atol=1e-9, equal_nan=True):
                return False
        elif a.dtype.kind in "iu" or b.dtype.kind in "iu":
            if not np.array_equal(a.astype(np.int64), b.astype(np.int64)):
                return False
        elif not np.array_equal(a.astype(str), b.astype(str)):
            return False
    return True


def _check_read(st, duck_sql: str, keys: list[str],
                got: pd.DataFrame) -> None:
    want = _duck(st).execute(duck_sql.format(**_duck_tables(st))).df()
    check(_same(got, want, keys),
          f"read differs from DuckDB: {duck_sql[:120]}…\n"
          f"spark:\n{got.head()}\nduckdb:\n{want.head()}")


def _check_upserted_day(st, day: int, n_read: int) -> None:
    """The day holds exactly its distinct keys: the base keys plus every
    revision applied so far, each once."""
    want = len(st["day_keys"][day])
    check(n_read == want, f"day {day}: read sees {n_read} rows after the "
          f"upsert, expected {want} distinct keys")
    keys = ", ".join(gen.RADAR_KEY)
    dup = _duck(st).execute(
        f"SELECT COUNT(*) - COUNT(DISTINCT ({keys})) FROM read_parquet("
        f"'{st['paths']['radar']}/day={day}/*.parquet')").fetchone()[0]
    check(dup == 0, f"day {day}: {dup} duplicate keys after the upsert")


def _check_model(ctx, ds, model) -> None:
    """Train RMSE below the target's standard deviation.  Runs before
    any upsert rewrites the files the training set was read from."""
    from pyspark.sql import functions as F

    ctx.tracer.count("ml.rf.fit_rows", ds.count())
    row = model.transform(ds).agg(
        F.sqrt(F.avg(F.pow(F.col("prediction_bc") - F.col("target_mmh"),
                           2))).alias("rmse"),
        F.stddev("target_mmh").alias("std")).collect()[0]
    check(row["rmse"] is not None and row["rmse"] < row["std"],
          f"RF train RMSE {row['rmse']} not below target std {row['std']}")


def _dir_stats(path: str) -> tuple[int, int]:
    files = [f for f in glob.glob(os.path.join(path, "*.parquet"))]
    return len(files), sum(os.path.getsize(f) for f in files)


# ------------------------------------------------------------- driving

def _client_op(ctx, st: dict, kind: str, rng, tr) -> float:
    """Run one client op and its output check; returns the op's time.
    The check and the bookkeeping run after the clock stops."""
    if kind == "upsert":
        day, rev_path, rev = st["revisions"][
            st["n_upserts"] % len(st["revisions"])]
        with tr.span("db.upsert"):
            t0 = time.perf_counter()
            _upsert(st, rev_path, tr)
            dt = time.perf_counter() - t0
        st["n_upserts"] += 1
        st["last_day"] = day
        st["day_keys"][day] |= set(map(
            tuple, rev[gen.RADAR_KEY].to_numpy().tolist()))
        if tr.enabled:
            n_files, n_bytes = _dir_stats(os.path.join(
                st["paths"]["radar"], f"day={day}"))
            tr.count("sources.writers.files_per_partition", n_files)
            tr.count("sources.writers.bytes_written_per_user_byte",
                     n_bytes / os.path.getsize(rev_path))
        return dt
    if kind == "verify":
        spark_sql, duck_sql, keys = _verify_sql(st["last_day"])
    else:
        spark_sql, duck_sql, keys = {"point": _point, "range": _range,
                                     "join": _join}[kind](rng, st)
    with tr.span(f"db.{kind}"):
        t0 = time.perf_counter()
        got = _read(st, spark_sql, tr)
        dt = time.perf_counter() - t0
    _check_read(st, duck_sql, keys, got)
    if kind == "verify":
        _check_upserted_day(st, st["last_day"], int(got["N"].iloc[0]))
    tr.count("catalog.rows_returned", len(got))
    return dt


def measure(ctx, st: dict) -> dict:
    # the bulk op first: a researcher trains, then explores
    failed = 0
    t0 = time.perf_counter()
    try:
        with ctx.jobs.group("train"), ctx.tracer.span("db.train"):
            st["train"] = _train(ctx, st, ctx.tracer)
    except Exception as e:                    # noqa: BLE001 — counted
        log(f"train op failed: {e!r}")
        failed += 1
        st["train"] = None
    train_s = time.perf_counter() - t0
    if st["train"]:
        _check_model(ctx, *st["train"])

    rng = np.random.default_rng(ctx.seed + 17)
    st.update(n_upserts=0, last_day=None)
    ops = []                            # (kind, seconds, traced, cycle)
    busy, cycle = 0.0, 0
    while busy < ctx.seconds or (ctx.trace and cycle < 3):
        # a traced run alternates untraced and traced cycles, so one
        # process gives both totals
        traced = ctx.trace and cycle % 2 == 1
        tr = ctx.tracer if traced else ctx.null_tracer
        for kind in CYCLE:
            try:
                with ctx.jobs.group(kind, traced):
                    dt = _client_op(ctx, st, kind, rng, tr)
            except harness.CheckFailed:
                raise
            except Exception as e:            # noqa: BLE001 — counted
                log(f"{kind} op failed: {e!r}")
                failed += 1
                continue
            if traced and kind != "upsert":
                tr.count("catalog.spark_jobs_per_query",
                         ctx.jobs.per_op[kind][-1][0])
            busy += dt
            ops.append((kind, dt, traced, cycle))
        cycle += 1
    plain = [o for o in ops if not o[2]]
    log("ops (kind:seconds) " + " ".join(
        f"{o[0]}:{o[1]:.3f}" for o in ops) + f"; train {train_s:.3f}")
    return {
        "attempted": len(ops) + failed + (1 if st["train"] else 0),
        "failed": failed,
        "throughput": len(plain) / sum(o[1] for o in plain),
        "latencies": [o[1] for o in plain],
        "train_s": train_s,
        "traced_op_s": [o[1] for o in ops if o[2]],
        # the overhead compares warm cycles: the first carries the
        # first-use costs of each query shape
        "untraced_op_s": [o[1] for o in plain if o[3] > 0],
    }


def verify(ctx, st: dict, res: dict) -> int:
    """Reads and the model were checked as they ran."""
    return res["failed"]


def metrics(ctx, st: dict, res: dict) -> dict:
    lat = res["latencies"]
    return {"throughput_per_s": res["throughput"],
            "latency_p50_s": median(lat),
            "latency_p90_s": quantile(lat, 0.9),
            "bulk_op_s": res["train_s"]}
