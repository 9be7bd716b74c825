"""Table catalog over the driver-generated parquet test data.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings, one parquet file/dir per table under an sf dir.

Scale notes (100 TB design): these loaders are plain ``spark.read.parquet``
so Catalyst keeps predicate pushdown / column pruning / partition pruning.
The one special case is ``events`` whose parquet physical type is
INT64(TIMESTAMP_NANOS) — Spark has no nanosecond timestamp, so we read the
raw long (``spark.sql.legacy.parquet.nanosAsLong``) and truncate to
microseconds, which is exactly what DuckDB/Arrow do when converting ns→µs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .session import tune

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

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


# (applicationId, path) -> (source mtime, StructType). Schema inference
# reads parquet footers in a driver-side job (~0.1s per call); interactive
# and bench workloads re-load the same static tables dozens of times per
# session, so memoize the inferred schema and hand it to the reader
# explicitly. Pinned to the file/dir mtime: regenerated test data
# re-infers. Pushdown/pruning are unaffected (an explicit schema is the
# same read path minus the inference job).
_SCHEMA_CACHE: dict[tuple, tuple[float, object]] = {}


def _read_cached_schema(spark: SparkSession, path: str) -> DataFrame:
    import os

    key = (spark.sparkContext.applicationId, path)
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        mtime = -1.0
    hit = _SCHEMA_CACHE.get(key)
    if hit is not None and hit[0] == mtime:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_CACHE[key] = (mtime, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one catalog table; normalizes the events timestamp."""
    if name == "events":
        return load_events(spark, sf_dir)
    return _read_cached_schema(spark, f"{sf_dir}/{name}.parquet")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts`` as a proper TimestampType (µs precision).

    Also keeps ``ts_ns`` (the nanosecond epoch long) so downstream
    windowing can emit timezone-agnostic epoch values with pure arithmetic.

    The file's physical ts type has varied across driver generations —
    INT64(TIMESTAMP_NANOS) (read as a raw long via nanosAsLong),
    TIMESTAMP_NTZ (µs, isAdjustedToUTC=false), or plain TIMESTAMP — so all
    three normalize to the same canonical pair: ``ts_ns`` = epoch nanos
    treating the file's wall-clock as UTC (matching DuckDB/Arrow's naive
    read), and ``ts`` = ``timestamp_micros(epoch_us)``, whose instant is
    session-timezone-independent. NTZ→epoch is derived by pure field
    arithmetic (``unix_date`` + wall hour/minute/fractional-second — see
    :func:`ntz_epoch_us`), never a session-timezone cast, so DST gaps in
    the session zone cannot shift it.
    """
    tune(spark)  # ensure nanosAsLong is on even on an externally built session
    raw = _read_cached_schema(spark, f"{sf_dir}/events.parquet")
    t = dict(raw.dtypes)["ts"]
    if t == "bigint":
        ts_ns = F.col("ts")
        # exact long floor division: double division of an epoch-ns long
        # can misround within an ulp (256 ns) of a µs boundary
        us = F.expr("(ts - pmod(ts, 1000)) div 1000").cast("long")
    elif t == "timestamp_ntz":
        us = ntz_epoch_us(F.col("ts"))
        ts_ns = us * F.lit(1000)
    else:
        us = F.unix_micros(F.col("ts")).cast("long")
        ts_ns = us * F.lit(1000)
    return raw.withColumn("ts_ns", ts_ns.cast("long")).withColumn(
        "ts", F.timestamp_micros(us)
    )


def epoch_day_expr(us_col_name: str):
    """Exact FLOOR division of an epoch-microseconds column to day
    buckets — the ONE definition of day bucketing shared by the
    declared behavioral queries and their maintained twins
    (paths/retention stores), so a misfix of the negative-epoch
    subtlety cannot desynchronize a twin from its batch query. Spark's
    ``div`` truncates toward zero; subtracting the always-non-negative
    ``pmod`` remainder first makes the numerator an exact multiple, so
    truncation equals floor for any sign (the rollup's _floordiv
    rule)."""
    d = 86_400_000_000
    return F.expr(
        f"({us_col_name} - pmod({us_col_name}, {d})) div {d}"
    )


def ntz_epoch_us(ts) -> "F.Column":
    """Epoch microseconds of a TIMESTAMP_NTZ wall-clock read as UTC.

    Pure field arithmetic — days via ``unix_date``, then wall
    hour/minute/fractional-second — with NO timestamp-timezone cast
    anywhere. The obvious alternative (``timestampdiff`` against an NTZ
    epoch literal) resolves through a cast to session-zone TIMESTAMP, and
    a wall time that falls inside the session zone's DST spring-forward
    gap shifts by the gap width (verified: 2025-03-09 02:30 under
    America/New_York moved 1h). Field extraction on NTZ has no such
    failure mode under any session timezone.
    """
    # second() truncates; date_part SECOND keeps the fraction as decimal
    sec_us = (F.date_part(F.lit("SECOND"), ts) * F.lit(1_000_000)).cast("long")
    return (
        F.unix_date(F.to_date(ts)).cast("long") * F.lit(86_400_000_000)
        + F.hour(ts).cast("long") * F.lit(3_600_000_000)
        + F.minute(ts).cast("long") * F.lit(60_000_000)
        + sec_us
    ).cast("long")


def ts_epoch_us(df: DataFrame, col: str = "ts") -> "F.Column":
    """Timezone-agnostic epoch-microseconds of a timestamp column,
    DTYPE-CONDITIONAL: ``timestamp_ntz`` goes through the field-
    arithmetic :func:`ntz_epoch_us` (a session-zone cast would shift
    wall times inside DST gaps), plain ``timestamp`` through
    ``unix_micros`` (already an instant; ntz field math would re-read
    it through the session zone). The ONE definition the maintained
    streams' fold closures share (ADVICE r15: paths/retention applied
    ntz arithmetic unconditionally, diverging from their batch twins on
    plain-timestamp input under a non-UTC session)."""
    if dict(df.dtypes).get(col) == "timestamp_ntz":
        return ntz_epoch_us(F.col(col))
    return F.unix_micros(F.col(col)).cast("long")
