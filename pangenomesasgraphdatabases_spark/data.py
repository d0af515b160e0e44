"""Loaders for the driver's synthetic star-schema parquet tables.

Every parquet input file the package reads goes through
``read_parquet``, which keeps an in-process memo of each file's
inferred schema.  ``spark.read.parquet`` without a schema runs schema
inference as a Spark job on every call, so building a plan over the
same reference tables again would otherwise cost one job per table.
The first read of a file infers and stores its schema; later reads pass
it to ``spark.read.schema(...)`` and submit no job.  The memo key is:

- the path: the file being read;
- its ``st_size`` and ``st_mtime_ns``: a file rewritten at the same
  path has another size or modification time and is inferred again;
- ``spark.sql.legacy.parquet.nanosAsLong``: ``_load_events`` turns it
  on for the whole session, and it changes the type inferred for a
  TIMESTAMP(NANOS) column (BIGINT instead of an error), so a schema
  inferred under one setting is not reused under the other.

Only schemas are memoized, never DataFrames: two reads of one file
must get their own attribute ids, or a self-join of a table breaks.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
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


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


_SCHEMAS: dict[tuple, StructType] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` for an input file that is not
    rewritten while it is read, inferring its schema once per file
    version (see the module docstring for the memo key).  ``path``
    names one file: a directory's own size and time do not change when
    a file inside it is rewritten."""
    st = os.stat(path)
    key = (
        path,
        st.st_size,
        st.st_mtime_ns,
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"),
    )
    schema = _SCHEMAS.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMAS[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def normalize_events(raw: DataFrame) -> DataFrame:
    """Normalize the raw events frame to a stable surface regardless of
    how the generator stored `ts`:

    - TIMESTAMP(NANOS) read as long via the nanosAsLong legacy conf
      (older testdata drops): ts_ns is the raw value, ts is the
      micros-truncated timestamp.
    - TIMESTAMP(MICROS) (current testdata, arrives as TIMESTAMP_NTZ or
      TIMESTAMP): ts is the column itself, ts_ns = unix_micros * 1000.

    SESSION-TIMEZONE PROOFING (r9, caught by tools/probe_env.py): a
    bare NTZ->TZ cast interprets the stored wall time in the SESSION
    timezone, so under a non-UTC driver session every epoch (and every
    day-bucket boundary) would shift by the UTC offset —
    events_error_budget_burn read 31 rows instead of 30 under an
    America/New_York session.  The NTZ branch therefore re-anchors the
    cast with from_utc_timestamp(.., current_timezone()), which is the
    bit-exact identity under UTC and "treat the wall time as UTC"
    under any other session timezone — matching DuckDB's naive
    epoch(ts) everywhere.  (Instants inside a DST transition hour
    could still shift by 1h under a DST session; the synthetic data
    has none, and UTC sessions are unaffected.)

    Downstream queries only ever see (ts_ns BIGINT, ts TIMESTAMP)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    if isinstance(raw.schema["ts"].dataType, LongType):
        ts_ns = F.col("ts").alias("ts_ns")
        ts = F.timestamp_micros(F.expr("ts div 1000")).alias("ts")
    else:
        if isinstance(raw.schema["ts"].dataType, TimestampNTZType):
            ts_col = F.expr(
                "from_utc_timestamp(cast(ts as timestamp), current_timezone())"
            )
        else:
            ts_col = F.col("ts").cast("timestamp")
        ts_ns = (F.unix_micros(ts_col) * F.lit(1000)).alias("ts_ns")
        ts = ts_col.alias("ts")
    return raw.select(
        "event_id", ts_ns, ts, "user_id", "event_type", "value", "props"
    )


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load events.parquet through normalize_events (schema-adaptive;
    the nanosAsLong conf is harmless when the file stores micros)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_events(read_parquet(spark, f"{sf_dir}/events.parquet"))
