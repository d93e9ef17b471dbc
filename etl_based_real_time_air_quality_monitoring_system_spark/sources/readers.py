"""Scans (SURVEY.md §2.1).

- S7  schema-enforced JSON directory scan
  (``spark_processing/spark_processor.py:59-62``)
- S8  parquet scan (``streamlit_ui/dashboard.py:47``)
- S9  schema-inferred JSON fallback (``streamlit_ui/dashboard.py:48-52``)
- plus ``load_table`` for the driver testdata layout
  (``/root/testdata/sf*/{name}.parquet``), including the
  TIMESTAMP(NANOS) workaround for ``events.ts``.

All scans are plain DataFrame reads, so Catalyst predicate pushdown /
column pruning / partition pruning apply unchanged — at 100 TB the scan
IS the query cost, and these reads keep ``PushedFilters`` and
``ReadSchema`` minimal automatically.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..session import prepare

#: tables shipped by the driver (TESTDATA.md)
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S8 — parquet scan with partition discovery (dashboard.py:47)."""
    return spark.read.parquet(path)


def read_json_enforced(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    multiline: bool = True,
) -> DataFrame:
    """S7 — JSON directory scan under an explicit schema, permissive
    mode (malformed rows -> nulls, T9 error isolation).

    Mirrors ``spark_processor.py:59-62``; permissive parse replaces the
    reference's per-message try/except (``consumer.py:149-166``).
    ``multiline=True`` matches the reference's one-document-per-file
    layout; pass ``False`` for standard JSON-lines directories (one
    record per line — the splittable layout any sane sink produces).
    """
    return (
        spark.read.schema(schema)
        .option("multiline", "true" if multiline else "false")
        .option("mode", "PERMISSIVE")
        .json(path)
    )


def read_json_inferred(spark: SparkSession, path: str) -> DataFrame:
    """S9 — inference fallback (dashboard.py:51). Secondary path only:
    inference costs an extra full scan, never use on the 100 TB table."""
    return spark.read.json(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table.

    ``events.ts`` is normalized to TimestampType whatever the parquet
    encoding delivers:

    - TIMESTAMP(NANOS,false): rejected by Spark's reader outright
      ([PARQUET_TYPE_ILLEGAL]); with
      ``spark.sql.legacy.parquet.nanosAsLong=true`` it arrives as a
      long that we floor-divide to microseconds — exactly the
      truncation DuckDB applies on the same file.
    - timestamp[us] without isAdjustedToUTC: arrives as TIMESTAMP_NTZ
      when NTZ inference is on (``unix_micros`` et al. reject NTZ at
      analysis time); cast to TIMESTAMP under the UTC session TZ —
      same instant the oracle computes.
    - plain TIMESTAMP: passes through.
    """
    prepare(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        dt = df.schema["ts"].dataType
        if isinstance(dt, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(dt, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> None:
    """Register every testdata table as a temp view so the whole engine
    surface is reachable from plain ``spark.sql`` — the same table
    names the DuckDB oracle sees, so any ``oracle_sql()`` string is
    *also* runnable against Spark SQL directly (modulo dialect).

    Temp views are lazy: registration reads only parquet footers; all
    pushdown/pruning happens per-query exactly as with ``load_table``.
    """
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
