"""Declared-query registry: every implemented operator from SURVEY.md §2
as a (spark_builder, duckdb_oracle_sql) pair over the driver's testdata.

Importing this package registers every entry: each domain module below
decorates its builders with ``register(name, oracle_sql)``. An entry
lives in the module its name prefix maps to:

    ref_     reference        the reference app's telemetry surface
    tpch_    tpch             TPC-H query shapes
    ext_     sql, windows,    relational operators, split by sub-domain:
             analytics,       SQL surface; window functions and time
             storage          series; statistics, sketches and business
                              analytics; sources, sinks and table layout
    stream_  streaming        Structured Streaming
    llm_     text, vector     LLM-data text processing; embeddings and
                              vector search
    graph_   graph            graph algorithms
    ml_      ml               SQL-native ML and statistics
    udf_     python_boundary  Python/pandas/Arrow UDF boundary

The reference app's telemetry surface (its project/db.py) maps
onto ``events`` — latest-per-user_id is the analog of
latest-per-machineid (FIXTURES.md §B) — and the extension surface (§2B)
onto the TPC-H-ish star schema.

Conventions (driver compares row count + schema + order-insensitive
value hash):
- every computed column is aliased identically in Spark and SQL;
- float outputs are rounded to 4 decimals on BOTH sides;
- timestamps are projected as epoch seconds (BIGINT) to dodge
  timezone/precision representation differences;
- every top-k has a deterministic tiebreak on a key column.

Fragments shared across domains live here, once: ``EPOCH_SQL``,
``_CENTS``, ``_HEXPOS``, ``_DEC`` and ``_views``. Domain modules import
from this core only, never from each other; a helper used by one
domain lives in that domain's module. Measurement history behind
individual entries is in OPTIMIZATION_r*.md.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import tune_session
from ..sources.catalog import load_table


@dataclass
class Query:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None -> rows-only check


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None):
    def deco(fn):
        REGISTRY[name] = Query(fn=fn, oracle=oracle)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str, ts_range=None) -> DataFrame:
    tune_session(spark)
    return load_table(spark, sf_dir, name, ts_range=ts_range)


def _epoch(col: str = "ts"):
    """Epoch seconds as BIGINT; floor matches DuckDB CAST(floor(epoch(ts)))."""
    return F.unix_timestamp(F.col(col)).cast("long")


EPOCH_SQL = "CAST(floor(epoch(ts)) AS BIGINT)"

# Exact half-up cents from a double: floor(x*100 + 0.5) is the same single
# IEEE expression on both engines, and every aggregate after it is BIGINT.
_CENTS = "CAST(floor({col} * 100 + 0.5) AS BIGINT)"

# Value of the p-th hex digit of the SQL string `h` (DuckDB twin of
# llm/prep.md5_bucket's digit arithmetic).
_HEXPOS = "strpos('0123456789abcdef', substr(h, {p}, 1)) - 1"

# Exact integer accumulator type for sums of products (BIGINT overflows
# where DuckDB would silently widen to HUGEINT).
_DEC = "decimal(38,0)"


def _views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register testdata tables as temp views for spark.sql entries."""
    for n in names:
        _t(spark, sf_dir, n).createOrReplaceTempView(n)


# Importing the domain modules registers their entries.
from . import (  # noqa: E402,F401
    reference,
    tpch,
    sql,
    windows,
    analytics,
    storage,
    streaming,
    text,
    vector,
    graph,
    ml,
    python_boundary,
)
