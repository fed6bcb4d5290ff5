"""Log-event data model.

Reference: a fluent-bit event is (timestamp, metadata-map, body-map) grouped
in chunks labeled with a *tag* (include/fluent-bit/flb_log_event.h:52-61;
tag routing src/flb_router.c:140). Here an event stream is simply a DataFrame
with conventional columns:

- ``tag``        StringType        -- routing key (per-row, was per-chunk)
- ``timestamp``  TimestampType     -- event time (fluent-bit: sec+nsec; Spark
                                      holds microseconds, ``ts_nanos`` keeps
                                      the sub-microsecond remainder if needed)
- body keys      typed columns     -- the record map, schema-on-read

A schemaless body (fluent-bit is msgpack, schema-free) is represented either
as typed columns (parquet / structured sources) or as a single ``body``
MapType/StringType column parsed on demand via the parsers in
``fluent_bit_spark.functions.parsers``. This keeps the hot path inside
whole-stage codegen instead of forcing a variant interpreter per row.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

TAG_COL = "tag"
TS_COL = "timestamp"

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


# sessions already configured by ensure_session_conf. Weakly keyed on the
# session object, not its id(): a later session can be allocated at a
# freed session's address and would then skip its conf
_CONF_DONE: weakref.WeakSet[SparkSession] = weakref.WeakSet()


def ensure_session_conf(spark: SparkSession) -> None:
    """Make a caller-provided session safe for the testdata + oracle gate:
    ns-parquet handling, UTC timezone, AQE. All runtime-settable."""
    if spark in _CONF_DONE:
        return
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    _CONF_DONE.add(spark)


# inferred parquet schema per (session, absolute file path): schema
# inference reads the footer in a driver JOB on EVERY read.parquet call
# (measured: 1 job + ~90 ms/call vs 0 jobs with an explicit schema), and
# every query pays it per table it loads. The testdata files are
# immutable for a driver run, so the schema — metadata, never row data —
# is cached for the session's lifetime, exactly like Spark's own
# file-listing cache. Weakly keyed on the session (see _CONF_DONE), so
# the entries die with it.
_SCHEMA_CACHE: weakref.WeakKeyDictionary[SparkSession, dict[str, T.StructType]] = (
    weakref.WeakKeyDictionary()
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-generated parquet table.

    ``events.ts`` is TIMESTAMP(NANOS) parquet, which Spark reads as a long
    (spark.sql.legacy.parquet.nanosAsLong) — convert to a microsecond
    timestamp here, truncating exactly as DuckDB does, so oracle value
    hashes line up.
    """
    ensure_session_conf(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    schemas = _SCHEMA_CACHE.setdefault(spark, {})
    key = os.path.abspath(path)
    cached = schemas.get(key)
    if cached is None:
        df = spark.read.parquet(path)
        schemas[key] = df.schema
    else:
        df = spark.read.schema(cached).parquet(path)
    for f_ in df.schema.fields:
        if name == "events" and f_.name == "ts" and isinstance(f_.dataType, T.LongType):
            # integer DIV, not floor(x/1000.0): epoch-ns (~1.7e18) exceeds
            # double's 2^53 mantissa, so float division drifts by ~1 us
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif isinstance(f_.dataType, T.TimestampNTZType):
            # parquet with isAdjustedToUTC=false reads as TIMESTAMP_NTZ,
            # which rejects numeric casts (unix_micros, cast double). The
            # session tz is pinned to UTC, so NTZ->TIMESTAMP is wall-clock
            # identical to DuckDB's naive-timestamp reading of the same file.
            df = df.withColumn(f_.name, F.col(f_.name).cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TESTDATA_TABLES}


def events_as_stream_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``events`` table viewed as a tagged log-event stream.

    tag = 'events.<event_type>' mirrors fluent-bit's dotted tag convention
    (e.g. 'kube.ns.pod'); timestamp = ts. Used by tag-routing / window /
    throttle queries.
    """
    df = load_table(spark, sf_dir, "events")
    return df.withColumn(TAG_COL, F.concat(F.lit("events."), F.col("event_type"))).withColumnRenamed(
        "ts", TS_COL
    )


def with_tag(df: DataFrame, tag: str) -> DataFrame:
    return df.withColumn(TAG_COL, F.lit(tag))


def _with_global_seq(df: DataFrame, out: str = "_seq") -> DataFrame:
    """Contiguous 0..n-1 sequence in input order WITHOUT a global
    single-partition window: per-partition counts -> broadcast prefix
    offsets -> row_number within each partition. Ordering equals
    ``orderBy(monotonically_increasing_id())`` (partition id occupies the
    id's high bits), but every step stays parallel, so reading a large
    JSON file through this path cannot collapse to one task."""
    df = df.withColumn("__pid", F.spark_partition_id()).withColumn(
        "__mid", F.monotonically_increasing_id()
    )
    per = df.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n"))
    # one row per partition: a single-partition window over THIS tiny
    # table is intentional; the data-derived zero key (pid & 0) avoids the
    # constant-folded unpartitioned-WindowExec warning
    wo = (
        Window.partitionBy(F.col("__pid").bitwiseAND(F.lit(0)))
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = per.select("__pid", F.coalesce(F.sum("__n").over(wo), F.lit(0)).alias("__off"))
    win = Window.partitionBy("__pid").orderBy("__mid")
    return (
        df.join(F.broadcast(offsets), "__pid")
        .withColumn(out, F.col("__off") + F.row_number().over(win) - 1)
        .drop("__pid", "__mid", "__off")
    )


def read_json_events_variant(
    spark: SparkSession,
    path_or_lines,
    tag: str = "samples",
    base_ts: str = "2024-01-01 00:00:00",
) -> DataFrame:
    """Schemaless mode: JSON-lines -> (tag, timestamp, body VariantType).

    This is the faithful analog of the reference's msgpack record map —
    missing keys vs explicit nulls stay distinguishable, values keep
    dynamic types, and the SP engine resolves keys via variant paths.
    """
    if isinstance(path_or_lines, str):
        # contiguous 0..n-1 sequence in file order (monotonic ids are
        # partition-offset, NOT contiguous — don't use them as seconds)
        df = _with_global_seq(spark.read.text(path_or_lines))
    else:
        df = spark.createDataFrame(
            [(i, ln) for i, ln in enumerate(path_or_lines)], ["_seq", "value"]
        )
    return df.select(
        F.lit(tag).alias(TAG_COL),
        F.timestamp_seconds(F.unix_timestamp(F.lit(base_ts)) + F.col("_seq")).alias(TS_COL),
        F.parse_json(F.col("value")).alias("body"),
    )


def read_json_events(
    spark: SparkSession,
    path_or_rows,
    tag: str = "samples",
    schema: T.StructType | None = None,
    base_ts: str = "2024-01-01 00:00:00",
) -> DataFrame:
    """Load a JSON-lines fixture (the reference's test corpus format,
    tests/internal/data/stream_processor/samples.json) as a tagged event
    DataFrame with synthetic monotonically-increasing timestamps.
    """
    if isinstance(path_or_rows, str):
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.json(path_or_rows)
    else:
        df = spark.createDataFrame(path_or_rows, schema=schema)
    return (
        _with_global_seq(df.withColumn(TAG_COL, F.lit(tag)))
        .withColumn(
            TS_COL,
            F.timestamp_seconds(F.unix_timestamp(F.lit(base_ts)) + F.col("_seq")),
        )
        .drop("_seq")
    )
