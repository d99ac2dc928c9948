"""DuckDB checks of every operation's output.

Registry rows are compared with their own oracle SQL through the test
suite's ``compare_frames``. The medallion run, the merged silver write and
the streaming rollup are compared with the SQL below, run over the
generated input files.
"""

from __future__ import annotations

import functools
import importlib.util
import os

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.cache
def _oracle_check():
    """The test suite's oracle helpers (``tests/oracle_check.py``)."""
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(ROOT, "tests", "oracle_check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, corrupt: bool) -> list[str]:
    if corrupt:
        spark_pdf = spark_pdf.iloc[1:]
    return _oracle_check().compare_frames(spark_pdf, oracle_pdf)


def duckdb_frame(cat_dir: str, sql: str) -> pd.DataFrame:
    con = _oracle_check().duckdb_connection(cat_dir)
    try:
        return con.sql(sql).df()
    finally:
        con.close()


def _sql(sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        return con.sql(sql).df()
    finally:
        con.close()


SILVER = """
SELECT * FROM read_parquet('{bronze}')
WHERE value IS NOT NULL AND event_type IS NOT NULL
QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
"""

GOLD = """
WITH silver AS ({silver})
SELECT CAST(year(ts) AS INT) AS year, CAST(month(ts) AS INT) AS month,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value) AS value_avg,
       count(*) AS total_records
FROM silver GROUP BY 1, 2
"""

ROLLUP = """
SELECT CAST(year(ts) AS INT) AS year, CAST(month(ts) AS INT) AS month,
       count(*) AS n_rows,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value
FROM read_parquet('{inc}/*.parquet')
WHERE value IS NOT NULL
GROUP BY 1, 2
"""


def check_medallion(spark, result, bronze: str, out: str, corrupt: bool) -> list[str]:
    """Bronze and silver row counts (returned and on disk) and the gold
    table's values."""
    silver_sql = SILVER.format(bronze=bronze)
    want_bronze = int(_sql(f"SELECT count(*) AS n FROM read_parquet('{bronze}')").n[0])
    want_silver = int(_sql(f"SELECT count(*) AS n FROM ({silver_sql})").n[0])
    got_silver = result.silver_rows - (1 if corrupt else 0)
    problems = []
    if result.bronze_rows != want_bronze:
        problems.append(f"bronze rows {result.bronze_rows} != oracle {want_bronze}")
    if got_silver != want_silver:
        problems.append(f"silver rows {got_silver} != oracle {want_silver}")
    on_disk = spark.read.parquet(f"{out}/silver").count()
    if on_disk != want_silver:
        problems.append(f"silver rows on disk {on_disk} != oracle {want_silver}")
    gold = spark.read.parquet(f"{out}/gold").toPandas()
    problems += [f"gold: {p}" for p in
                 compare(gold, _sql(GOLD.format(silver=silver_sql)), corrupt)]
    return problems


def check_rollup(rollup: pd.DataFrame, inc_dir: str, corrupt: bool) -> list[str]:
    """Per-month row counts, sums and averages of the streamed increments."""
    return [f"rollup: {p}" for p in
            compare(rollup, _sql(ROLLUP.format(inc=inc_dir)), corrupt)]
