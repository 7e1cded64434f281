"""Telemetry ingest path — the Spark-first rebuild of the reference's
EP1 lifecycle (SURVEY §3): pandas read_csv -> rename -> fillna ->
execute_values INSERT (/root/reference/project/database_and_model_tools.py:37-97)
becomes a distributed schema'd scan -> declarative transforms -> one
atomic partitioned-parquet commit.

Physical layout replaces the reference's 6 btree indexes
(/root/reference/project/db.py:128-135): partition by event date
(coarse time bucket -> partition pruning for the range scans) and sort
within partitions by (machineid, timestamp_epoch) so the composite-
index access pattern (latest-per-machine, range scans) becomes a
sorted, pruned columnar read.

Request-path cost contract (``insert_rows`` and the ``TelemetryEngine``
log writes, all built on ``literal_rows``): rows never leave the JVM
through a Python worker, and a one-row call runs exactly one Spark job
of one task with no shuffle stage, writing one parquet file. Only
``ingest_csv`` pays the ``repartition(event_date)`` exchange; small
inserts arrive as one partition, so they skip it.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StringType, StructField, StructType, TimestampType

from .functions.timefeat import dayofweek_monday0, with_write_defaults
from .schemas import STATUS_ENCODING, TELEMETRY, TELEMETRY_FILL
from .sources.csv import read_telemetry_csv

# Reference CSV timestamp format: `9/1/2025 0:00`
# (/root/reference/project/data/machine_data_cleaned.csv:2)
CSV_TS_FORMAT = "M/d/yyyy H:mm"

_DOUBLE_COLS = [
    "enginetemperature",
    "fuelconsumption",
    "vibrationlevel",
    "humidity",
    "pressure",
    "poweroutput",
    "operatinghours",
]


def literal_rows(spark: SparkSession, rows: list[dict], schema: StructType) -> DataFrame:
    """Driver-local ``rows`` as a one-partition frame typed by ``schema``.

    Each value becomes a JVM literal cast to its field type (map values
    through ``create_map``; missing keys and ``None`` become typed
    nulls), so the frame plans as Range -> Generate with no PythonRDD
    and no Python worker behind its one task. Values are bound as
    literals, never spliced into SQL text, so free user text is safe.
    An empty ``rows`` gives an empty frame with the same schema."""

    def typed(value, dtype):
        if value is None:
            return F.lit(None).cast(dtype)
        if isinstance(dtype, MapType):
            kv = [typed(x, t) for k, v in value.items() for x, t in ((k, dtype.keyType), (v, dtype.valueType))]
            return F.create_map(*kv).cast(dtype)
        return F.lit(value).cast(dtype)

    structs = [F.struct(*[typed(r.get(f.name), f.dataType).alias(f.name) for f in schema.fields]) for r in rows]
    return spark.range(1, numPartitions=1).select(F.inline(F.array(*structs).cast(ArrayType(schema))))


def normalize_telemetry(raw: DataFrame) -> DataFrame:
    """Cast the string-typed CSV columns to the canonical schema,
    fill nulls with the reference defaults
    (database_and_model_tools.py:59-71), and (re)derive the time
    features (reference precomputes them in the CSV; deriving keeps
    dirty inputs consistent)."""
    df = raw.withColumn("timestamp", F.to_timestamp("timestamp", CSV_TS_FORMAT))
    for c in _DOUBLE_COLS:
        if c in df.columns:
            df = df.withColumn(c, F.col(c).cast("double"))
    df = df.na.fill(TELEMETRY_FILL)
    status_code = F.lit(None).cast("int")
    for status, code in reversed(list(STATUS_ENCODING.items())):
        status_code = F.when(F.col("status") == status, code).otherwise(status_code)
    df = (
        df.withColumn("status_encoded", status_code)
        .withColumn("timestamp_epoch", F.unix_timestamp("timestamp").cast("long"))
        .withColumn("hour", F.hour("timestamp").cast("int"))
        .withColumn("dayofweek", dayofweek_monday0(F.col("timestamp")))
        .withColumn("month", F.month("timestamp").cast("int"))
    )
    df = with_write_defaults(df)
    return df.select([f.name for f in TELEMETRY.fields])


def ingest_csv(spark: SparkSession, csv_path: str, table_path: str) -> int:
    """Full EP1: scan -> normalize -> atomic partitioned append.
    Returns the ingested row count (the reference's ingest_csv
    contract, database_and_model_tools.py:37-51)."""
    raw = read_telemetry_csv(spark, csv_path)
    clean = normalize_telemetry(raw)
    write_telemetry(clean, table_path)
    # Count THIS batch, not the post-append table total — on a second
    # ingest into a non-empty table the table count would overcount the
    # reference contract (rows inserted from this CSV).
    return clean.count()


def write_telemetry(df: DataFrame, table_path: str, mode: str = "append") -> None:
    """Partitioned, in-partition-sorted sink (layout rationale in the
    module docstring). One atomic commit replaces the reference's
    psycopg2 transaction (database_and_model_tools.py:90-96)."""
    _write_sorted(_with_event_date(df).repartition(F.col("event_date")), table_path, mode)


def _with_event_date(df: DataFrame) -> DataFrame:
    return df.withColumn("event_date", F.to_date("timestamp"))


def _write_sorted(df: DataFrame, table_path: str, mode: str = "append") -> None:
    (
        df.sortWithinPartitions("machineid", "timestamp_epoch")
        .write.mode(mode)
        .partitionBy("event_date")
        .parquet(table_path)
    )


def insert_rows(spark: SparkSession, rows: list[dict], table_path: str) -> int:
    """Single/small-batch insert (reference insert_telemetry,
    project/db.py:153-161) through the same normalize path, so fill
    defaults and write-time stamps match ``ingest_csv``. Rows are typed
    by ``TELEMETRY``, not inferred from their values (a ``None`` metric
    takes its fill default); ``timestamp`` is the reference CSV text,
    or a timestamp when the caller passes a ``datetime`` (then rendered
    to that text, as a CSV row would carry it). The input is one
    partition, so the write needs no exchange."""
    is_dt = any(isinstance(r.get("timestamp"), dt.datetime) for r in rows)
    ts_type = TimestampType() if is_dt else StringType()
    schema = StructType([StructField(f.name, ts_type) if f.name == "timestamp" else f for f in TELEMETRY.fields])
    raw = literal_rows(spark, rows, schema)
    if is_dt:
        raw = raw.withColumn("timestamp", F.date_format("timestamp", CSV_TS_FORMAT))
    _write_sorted(_with_event_date(normalize_telemetry(raw)), table_path)
    return len(rows)
