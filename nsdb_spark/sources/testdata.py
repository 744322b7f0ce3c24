"""Adapters for the driver-generated testdata tables (TESTDATA.md).

`events` is exposed as an NSDb metric frame: timestamp (epoch ms BIGINT),
value (DECIMAL/double), tags event_type + user_id, dimensions event_id +
props — so the whole NSDb query surface runs against it through the regular
parse → analyze → compile pipeline.

Timestamp determinism: events.ts is a naive parquet TIMESTAMP (MICROS in
the generated files). It surfaces as TIMESTAMP_NTZ, or, for a NANOS file
read with the legacy nanosAsLong on, as BIGINT nanos; `ts_ms` floors either
representation to epoch ms (session tz pinned to UTC so the NTZ cast is the
identity instant), bit-identical to DuckDB's epoch_ms(ts) truncation.

Schema reuse: every registry entry reads its tables through `table`, which
reads through sources/parquet.read_parquet. The first read of a table file
infers its schema (one Spark job); later reads of the same file version,
under the same parquet inference confs (nanosAsLong among them), pass the
remembered schema and launch no job while the frame is built.

Temporal extent: a temporal read's bucket axis spans the shard-aligned
extent of the data, which NSDb takes from shard locations, never from a
scan (ReadCoordinator.scala:210-214). `events_ts_range` reads the events
file's ts min/max from its parquet footer statistics (no Spark job, no
data page), floored to ms as `ts_ms` floors; `events_bounds` snaps it to
the shard grid. The NSDb pipeline (`run_nsdb_on_events`), the relative-
time `now` and the rollup entries' `bounds=` all take their extent from
there, so building a temporal entry runs no Spark job. The quantile rollup
entries take their value grid (`value_range=`) from the same footer
(`events_value_range`).
"""
from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..analyzer import analyze
from ..compiler import QueryCompiler, TimeContext
from ..model import FieldClass, MetricSchema, NsdbType, SchemaField, shard_start
from ..sql.parser import parse
from .parquet import read_parquet

EVENTS_SCHEMA = MetricSchema(
    NsdbType.DECIMAL,
    {
        "event_id": SchemaField("event_id", FieldClass.DIMENSION, NsdbType.BIGINT),
        "event_type": SchemaField("event_type", FieldClass.TAG, NsdbType.VARCHAR),
        "props": SchemaField("props", FieldClass.DIMENSION, NsdbType.VARCHAR),
        "user_id": SchemaField("user_id", FieldClass.TAG, NsdbType.BIGINT),
    },
)

#: default NSDb shard interval (30 d) — governs temporal bucket alignment
SHARD_INTERVAL_MS = 30 * 24 * 3600 * 1000


def _configure(spark: SparkSession) -> None:
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # removed in newer Spark builds; ts then reads as TIMESTAMP_NTZ
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def ts_ms(df: DataFrame, col: str = "ts") -> Column:
    """Epoch-ms (floor) from a raw testdata timestamp column, whatever type
    the Spark build read it as (BIGINT nanos vs TIMESTAMP/TIMESTAMP_NTZ)."""
    # `div` truncates toward zero, but DuckDB's epoch_ms FLOORS — they
    # differ on pre-1970 rows, so subtract the (nonnegative) pmod first:
    # (a - pmod(a, b)) div b == floor(a / b) exactly, all in bigint
    if isinstance(df.schema[col].dataType, LongType):
        return F.expr(f"({col} - pmod({col}, 1000000)) div 1000000")
    us = f"unix_micros(cast({col} as timestamp))"
    return F.expr(f"({us} - pmod({us}, 1000)) div 1000")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _configure(spark)
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def events_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a metric frame (timestamp ms, value, tags/dims)."""
    df = table(spark, sf_dir, "events")
    return df.select(
        ts_ms(df).alias("timestamp"),
        F.col("value"),
        F.col("event_id"),
        F.col("event_type"),
        F.col("props"),
        F.col("user_id"),
    )


#: ticks per ms of each parquet TIMESTAMP logical type unit
_PER_MS = {"milliseconds": 1, "microseconds": 1_000, "nanoseconds": 1_000_000}


def _footer_min_max(sf_dir: str, column: str):
    """(path, column descriptor, raw min, raw max) of one events column,
    from its parquet footer statistics over every non-empty row group.
    Raises ValueError naming the file when a row group has none."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "events.parquet")
    meta = pq.ParquetFile(path).metadata
    i = meta.schema.names.index(column)
    groups = (meta.row_group(g) for g in range(meta.num_row_groups))
    stats = [rg.column(i).statistics for rg in groups if rg.num_rows]
    if not stats or any(st is None or not st.has_min_max for st in stats):
        raise ValueError(f"{path}: no {column} statistics in the parquet footer")
    lo, hi = min(st.min_raw for st in stats), max(st.max_raw for st in stats)
    return path, meta.schema.column(i), lo, hi


def events_ts_range(sf_dir: str) -> tuple[int, int]:
    """(min, max) of events.ts in epoch ms, from the parquet footer's
    column statistics: the unit comes from ts's TIMESTAMP logical type,
    and each bound floors to ms exactly as `ts_ms` does. Raises
    ValueError naming the file when the footer has no ts statistics."""
    path, col, lo, hi = _footer_min_max(sf_dir, "ts")
    lt = col.logical_type
    unit = json.loads(lt.to_json()).get("timeUnit") if lt.type == "TIMESTAMP" else None
    if unit not in _PER_MS:
        raise ValueError(f"{path}: ts is not a parquet TIMESTAMP column ({lt})")
    return lo // _PER_MS[unit], hi // _PER_MS[unit]


def events_value_range(sf_dir: str) -> tuple[float, float]:
    """(min, max) of events.value from the parquet footer's column
    statistics: the value grid of a quantile rollup, found without a
    scan. Raises ValueError naming the file when the footer has no value
    statistics."""
    _path, _col, lo, hi = _footer_min_max(sf_dir, "value")
    return float(lo), float(hi)


def events_bounds(sf_dir: str) -> tuple[int, int]:
    """(lower, upper) of events' shard-aligned extent: the start of the
    shard holding the first row, the end of the shard holding the last."""
    lo, hi = events_ts_range(sf_dir)
    si = SHARD_INTERVAL_MS
    return shard_start(lo, si), shard_start(hi, si) + si


def run_nsdb_on_events(
    spark: SparkSession,
    sf_dir: str,
    sql: str,
    now_ms: int | None = None,
) -> DataFrame:
    """Full NSDb pipeline (parse → analyze → compile) over the events
    metric frame, its shard locations those of the footer extent."""
    stmt = parse(sql)
    parsed = analyze(stmt, EVENTS_SCHEMA)
    ctx = TimeContext(now_ms) if now_ms is not None else TimeContext(0)
    compiler = QueryCompiler(spark, shard_interval_ms=SHARD_INTERVAL_MS)
    lower, upper = events_bounds(sf_dir)
    return compiler.compile(
        events_metric(spark, sf_dir), EVENTS_SCHEMA, parsed, ctx,
        locations=list(range(lower, upper, SHARD_INTERVAL_MS)),
    )
