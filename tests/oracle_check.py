"""Local replica of the driver's correctness gate.

Runs a Spark query and its DuckDB oracle on the same parquet dir and
compares row count, column names, and exact values (order-insensitive,
columns sorted by name) — strictly harsher than any hash comparison the
driver could do, so passing here implies passing there.
"""

from __future__ import annotations

import atexit
import datetime
import math
import shutil
import tempfile

import duckdb

from realtime_analytics_with_kafka_clickhouse_spark.schemas import TESTDATA_TABLES


# DuckDB spills to ``.tmp/`` under the cwd by default; keep its spill files
# in a private temp dir that is removed when the process exits.
_DUCK_TEMP = tempfile.mkdtemp(prefix="oracle_duckdb_")
atexit.register(shutil.rmtree, _DUCK_TEMP, ignore_errors=True)


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect(config={"temp_directory": _DUCK_TEMP})
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon(v):
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", repr(v))
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, datetime.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, datetime.date):
        return ("d", v.isoformat())
    if v is None:
        return ("null",)
    try:  # Decimal and friends -> exact string
        import decimal

        if isinstance(v, decimal.Decimal):
            return ("dec", str(v.normalize()))
    except Exception:
        pass
    return ("s", str(v))


def compare(spark_df, con, sql: str, name: str = "?") -> list[str]:
    """Return list of mismatch descriptions (empty == pass)."""
    problems: list[str] = []
    srows = spark_df.collect()
    scols = list(spark_df.columns)
    dres = con.execute(sql)
    dcols = [d[0] for d in dres.description]
    drows = dres.fetchall()

    if sorted(c.lower() for c in scols) != sorted(c.lower() for c in dcols):
        problems.append(f"{name}: columns differ spark={sorted(scols)} duck={sorted(dcols)}")
        return problems
    if len(srows) != len(drows):
        problems.append(f"{name}: rowcount spark={len(srows)} duck={len(drows)}")

    sidx = sorted(range(len(scols)), key=lambda i: scols[i].lower())
    didx = sorted(range(len(dcols)), key=lambda i: dcols[i].lower())
    sset = sorted(tuple(_canon(r[i]) for i in sidx) for r in srows)
    dset = sorted(tuple(_canon(r[i]) for i in didx) for r in drows)
    if sset != dset:
        diff_s = [r for r in sset if r not in set(map(tuple, dset))][:3]
        diff_d = [r for r in dset if r not in set(map(tuple, sset))][:3]
        problems.append(f"{name}: values differ; spark-only={diff_s} duck-only={diff_d}")
    return problems
