"""SparkSession construction and tuning.

The reference pipeline scales horizontally by running more worker containers
(``/root/reference/README.md:87-93``); here the executor pool plays that
role. Defaults are chosen for correctness-at-scale: AQE on (runtime join
strategy + skew splitting), UTC session time, Arrow for any pandas exchange.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, TimestampType

# Confs we also (re-)apply at runtime when handed an externally built session
# (e.g. the verification driver's): these are all runtime-settable SQL confs.
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized reader
    # rejects; read as long and convert explicitly (see catalog.load_events).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Runtime re-planning: broadcast-join conversion, partition coalescing,
    # skew-join splitting — all essential at 100 TB where static estimates
    # of shuffle sizes are wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for the few pandas_udf/mapInPandas operators.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def get_spark(
    app_name: str = "data-pipeline-challenge-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract) or
    ``local[*]``. ``shuffle_partitions`` defaults to the core count in local
    mode — on a real cluster you would leave it to AQE's coalescing with a
    high initial partition count instead.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to a session we did not build.

    Deliberately does NOT touch ``spark.sql.session.timeZone``: query outputs
    are designed to be timezone-agnostic (epoch arithmetic / NTZ / dates), so
    we never need to mutate the caller's timezone.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable on this build — defaults still correct
    return spark


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: StructType | str
) -> DataFrame:
    """A DataFrame over a SHORT list of driver rows (ledger events, landed
    file names, a batch's file order), planned as a ``LocalRelation``.

    ``spark.createDataFrame(<list>, schema)`` parallelizes the rows into an
    RDD-backed ``LogicalRDD``, so every plan that reads it launches a
    ``defaultParallelism``-task Spark job just to ship a handful of driver
    values back to the executors (~0.45 s warm on 4 cores; an ingest
    delivery paid it twice on its ledger appends alone). The same rows
    handed over as an Arrow table become a ``LocalRelation``: collecting
    it launches no job, and a write or join over it runs in the consumer's
    own job.

    Returns exactly the rows ``createDataFrame(rows, schema)`` returns.
    ``TimestampType`` values go through ``TimestampType.toInternal`` and
    travel as UTC instants, so a naive ``datetime`` means process-local
    time, as it does for the list path; a naive Arrow timestamp would be
    read in the SESSION time zone instead and shift whenever the two
    differ. A ``None`` in a non-nullable field raises, as the list path's
    schema check does.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    arrays = []
    for field, values in zip(schema.fields, columns):
        if not field.nullable and any(v is None for v in values):
            raise ValueError(f"field {field.name}: None in a non-nullable field")
        if isinstance(field.dataType, TimestampType):
            values = [field.dataType.toInternal(v) for v in values]
        arrays.append(pa.array(values, type=to_arrow_type(field.dataType)))
    return spark.createDataFrame(
        pa.Table.from_arrays(arrays, names=schema.names), schema
    )


def release_checkpoint(df: DataFrame) -> None:
    """Free the blocks of a ``localCheckpoint`` frame. Its plan is a
    ``LogicalRDD`` over the checkpointed RDD, which the ``CacheManager``
    never saw, so ``DataFrame.unpersist()`` is a no-op for it: the
    blocks stay in ``getPersistentRDDs()`` until JVM GC happens to
    collect the frame. Unpersisting that RDD frees them now (and is
    harmless for a reliable ``checkpoint``, whose RDD holds no blocks)."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


class Pins:
    """The frames one :func:`pinned` scope holds, released in reverse
    order when it exits."""

    def __init__(self) -> None:
        self._release: list = []

    def __call__(self, df: DataFrame) -> DataFrame:
        """Cache ``df`` for the rest of the scope. A frame its caller
        already cached stays the caller's: Spark caches per plan with
        no refcount, so releasing it here would drop their cache."""
        if df.is_cached:
            return df
        self._release.append(df.cache().unpersist)
        return df

    def checkpoint(self, df: DataFrame) -> DataFrame:
        """``df`` materialized now as an eager local checkpoint: its
        lineage is cut, so a write and later reads of the result do not
        re-run the plan that built it."""
        df = df.localCheckpoint(eager=True)
        self._release.append(lambda: release_checkpoint(df))
        return df


@contextmanager
def pinned() -> Iterator[Pins]:
    """One owner for the pins a fold takes::

        with pinned() as pin:
            batch = pin(batch_df)
            kept = pin.checkpoint(kept)
            ...

    Everything pinned through ``pin`` is released when the block exits,
    normally or by an exception, in reverse order. A frame returned out
    of the block may read a released cache (its next action recomputes
    what the cache held), but never a released checkpoint, whose
    lineage is gone."""
    pins = Pins()
    try:
        yield pins
    finally:
        for release in reversed(pins._release):
            release()
