"""Maintained top daily event-type paths — the streaming twin of
``plans/events.events_top_daily_paths``.

A user-day's path is its first THREE events in event-time order, and a
user-day can span micro-batches (its earliest events may even arrive in
a LATER batch) — but "first three" is a bottom-k under the total
(t_us, event_id) order, and bottom-k merges by union-then-rekeep:
``top3(A ∪ B) == top3(top3(A) ∪ top3(B))``. So each micro-batch folds
only its OWN per-(user, day) top-3 candidate rows (WindowGroupLimit —
at most 3 rows per touched user-day per batch), and the read side
re-ranks the union, assembles paths, and counts — equal to the batch
query over the concatenated input EXACTLY, for any arrival order. The
same merge law the KMV sketch uses, here with a payload (the event
type) riding on the ordering key.

State: O(touched user-days x 3 x batches-between-compactions) rows;
consolidation collapses to the resolved top-3 per user-day via the
fold-time transform. Exactly-once follows cms_stream's minimal protocol
(one store, last-id replay guard).

Reference parity: none; north-star extension of the behavioral family
(path analysis, r15).
"""

from __future__ import annotations

from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..batchstore import View, admit_batch, append_batch_increment, read_store

_K = 3


def _top3(df: DataFrame, keep_rank: bool = False) -> DataFrame:
    """Resolved first-3 rows per (user, day) under (t_us, event_id) —
    the one merge rule the fold, the report, and consolidation share.
    Duplicate rows across increments (a replayed event) collapse first
    so they cannot occupy two of the three slots. ``keep_rank=True``
    returns the in-prefix rank as ``rn`` so the report's path assembly
    does not pay a second identical window pass (self-review r15)."""
    w = Window.partitionBy("user_id", "day").orderBy("t_us", "event_id")
    out = (
        df.select("user_id", "day", "t_us", "event_id", "event_type")
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _K)
    )
    return out if keep_rank else out.drop("rn")


def _prefix_rows(batch_df: DataFrame) -> DataFrame:
    # dtype-conditional epoch (ADVICE r15): plain-timestamp input must
    # not go through NTZ field arithmetic or a non-UTC session diverges
    # from the batch twin
    from ..catalog import epoch_day_expr, ts_epoch_us

    return _top3(
        batch_df.select(
            "user_id",
            "event_id",
            "event_type",
            ts_epoch_us(batch_df, "ts").alias("t_us"),
        ).withColumn("day", epoch_day_expr("t_us"))
    )


def fold_batch(
    spark: SparkSession,
    out_dir: str | Path,
    batch_df: DataFrame,
    batch_id: int,
) -> None:
    """Fold ONE micro-batch of events (event_id, ts, user_id,
    event_type) into the prefix store: the increment is the batch's own
    per-(user, day) top-3. Idempotent via the store's last-id guard."""
    odir = Path(out_dir)
    store = odir / "prefix"
    if not admit_batch(odir, batch_id, store):
        return
    append_batch_increment(_prefix_rows(batch_df), store, batch_id)


def paths_report(
    spark: SparkSession, out_dir: str | Path, limit: int = 20
) -> DataFrame | None:
    """(path, n_user_days) top-``limit`` over everything folded —
    identical assembly and ordering to the batch query on the resolved
    prefix set. None before the first batch."""
    prefix = read_store(spark, Path(out_dir) / "prefix")
    if prefix is None:
        return None
    ranked = _top3(prefix, keep_rank=True)
    paths = ranked.groupBy("user_id", "day").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("rn"), F.col("event_type")))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_user_days"))
        .orderBy(F.col("n_user_days").desc(), "path")
        .limit(limit)
    )


# Consolidation collapses to the resolved top-3 per user-day (at most 3
# rows per ever-touched user-day).
VIEW = View(
    fold=fold_batch, stores={"prefix": None}, transforms={"prefix": lambda _: _top3}
)
