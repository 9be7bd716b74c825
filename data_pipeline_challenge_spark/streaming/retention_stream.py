"""Maintained retention-cohort matrix — the streaming twin of
``plans/events.events_retention_weekly`` (the store keeps DAY-granular
activity, the finest view; the report coarsens to any
``days_per_bucket``, weekly included, because floor division composes
and DISTINCT survives coarsening).

The retention matrix is a pure function of the DISTINCT (user, day)
activity set, and distinct sets merge by union — so the maintained
store folds each micro-batch's own (user, day) set (bounded by the
batch's users x days, far under batch volume) and the report recomputes
cohort day (min per user) and offsets over the collapsed union. Raw
events are read exactly once; state is O(users x active days) at any
event volume — the same reduce-to-sufficient-statistics argument as the
quantile histograms (exact, not a sketch: the activity set IS the
sufficient statistic). First-active day needs no separate frontier
store: it is min(day) over the union, and min is associative, so late
batches can only refine it correctly.

Exactly-once follows cms_stream's minimal protocol (one store, last-id
replay guard); consolidation collapses duplicate (user, day) rows via
the fold-time transform.

Reference parity: no counterpart in the reference; north-star extension
of the behavioral family (retention cohorts, r15).
"""

from __future__ import annotations

from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..batchstore import View, admit_batch, append_batch_increment, read_store

def _act_set(batch_df: DataFrame) -> DataFrame:
    """The batch's own distinct (user_id, day) activity rows — the one
    definition the fold and any backfill share."""
    # dtype-conditional epoch (ADVICE r15): see catalog.ts_epoch_us
    from ..catalog import epoch_day_expr, ts_epoch_us

    return (
        batch_df.select(
            "user_id", ts_epoch_us(batch_df, "ts").alias("__us")
        )
        .select("user_id", epoch_day_expr("__us").alias("day"))
        .distinct()
    )


def _distinct_rows(df: DataFrame) -> DataFrame:
    return df.select("user_id", "day").distinct()


def fold_batch(
    spark: SparkSession,
    out_dir: str | Path,
    batch_df: DataFrame,
    batch_id: int,
) -> None:
    """Fold ONE micro-batch of events (needs user_id, ts) into the
    activity-set store. Idempotent via the store's last-id guard."""
    odir = Path(out_dir)
    store = odir / "act"
    if not admit_batch(odir, batch_id, store):
        return
    append_batch_increment(_act_set(batch_df), store, batch_id)


def retention_report(
    spark: SparkSession,
    out_dir: str | Path,
    days_per_bucket: int = 1,
) -> DataFrame | None:
    """(cohort_bucket, bucket_offset, n_users) over everything folded —
    identical arithmetic to the batch retention queries on the
    collapsed activity set. ``days_per_bucket=7`` serves the declared
    ``events_retention_weekly`` matrix exactly (floor division
    composes: day-granular activity coarsens to the same week ids the
    batch query derives from raw timestamps, and DISTINCT survives the
    coarsening). None before the first batch."""
    act = read_store(spark, Path(out_dir) / "act")
    if act is None:
        return None
    act = _distinct_rows(act)
    if days_per_bucket != 1:
        d = int(days_per_bucket)
        act = act.select(
            "user_id",
            F.expr(f"(day - pmod(day, {d})) div {d}").alias("day"),
        ).distinct()  # day-granular buckets: plain integer floor-div
    first = act.groupBy("user_id").agg(F.min("day").alias("cohort_bucket"))
    return (
        act.join(first, "user_id")
        .groupBy(
            "cohort_bucket",
            (F.col("day") - F.col("cohort_bucket")).alias("bucket_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# Duplicate (user, day) rows across increments collapse at fold time, so
# the compacted store holds the distinct activity set exactly.
VIEW = View(
    fold=fold_batch, stores={"act": None}, transforms={"act": lambda _: _distinct_rows}
)
