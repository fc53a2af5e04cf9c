"""Table readers for the driver's parquet fixtures.

Two normalizations, both lossless:

- Fixtures that store ``events.ts`` as parquet TIMESTAMP(NANOS) are
  refused by Spark's vectorized reader. With
  ``spark.sql.legacy.parquet.nanosAsLong=true`` (set in session.py) the
  column arrives as nanosecond LongType; we convert to TimestampType
  (microsecond) here. The driver's data is microsecond-aligned.
- Fixtures whose timestamps carry ``isAdjustedToUTC=false`` arrive as
  TIMESTAMP_NTZ. Engine code (windows, unix_micros, streaming
  watermarks) targets TimestampType, so NTZ columns are cast; the
  session timezone is pinned to UTC (session.py), which makes the cast
  wall-clock identical and keeps parity with the DuckDB oracle's naive
  TIMESTAMP semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sqlpp_spark.session import session_state


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The normalized scan of ``<sf_dir>/<name>.parquet``. A repeat read
    in one session returns the same DataFrame (the session's scan memo,
    ``session.SessionState``): footer and file listing are read once per
    session, the way a catalog would. The key carries the file mtime,
    so a fixture regenerated mid-session gets a fresh scan."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        mtime = os.stat(path).st_mtime_ns
    except OSError:
        mtime = None
    scans = session_state(spark).scans
    key = (path, mtime)
    df = scans.get(key)
    if df is not None:
        return df
    if name == "events":
        # runtime-settable SQL conf; needed when the caller's session
        # (e.g. the driver's) didn't set it at build time
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
    df = spark.read.parquet(path)
    if name == "events":
        df = _normalize_nanos(df)
    df = _normalize_ntz(df)
    scans[key] = df
    return df


def _normalize_nanos(df: DataFrame) -> DataFrame:
    cols = []
    for f in df.schema.fields:
        if f.name == "ts" and isinstance(f.dataType, T.LongType):
            # integer div: ns epochs exceed double's 2^53 exact range,
            # so float division here would be off by ±1 microsecond
            cols.append(F.timestamp_micros(F.expr("ts div 1000")).alias("ts"))
        else:
            cols.append(F.col(f.name))
    return df.select(*cols)


def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast TIMESTAMP_NTZ columns to session-TZ TimestampType.

    The session timezone is pinned to UTC, so the cast preserves the
    wall-clock value exactly; it happens in the scan stage (a projection
    over the parquet read) and does not block pushdown of other columns.
    """
    if not any(isinstance(f.dataType, T.TimestampNTZType) for f in df.schema.fields):
        return df
    cols = [
        F.col(f.name).cast(T.TimestampType()).alias(f.name)
        if isinstance(f.dataType, T.TimestampNTZType)
        else F.col(f.name)
        for f in df.schema.fields
    ]
    return df.select(*cols)
