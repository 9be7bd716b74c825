"""Maintained per-user session windows — the streaming twin of the
declared (oracle-checked) ``events_session_windows`` query.

Sessionization is a MONOTONE MERGE under inserts: a session boundary is
a consecutive-event gap >= the inactivity threshold, inserting events
can only SHRINK gaps (never widen them), so sessions only ever merge —
exactly the associativity the other maintained stores fold on
(bottom-k for paths, min for components, union for retention). The
sufficient statistic per session interval is
``(first_us, last_us, n_events, sum_cents)``: merging two intervals
adds the counts and cent-sums and takes min/max of the bounds, and
``merge(intervals(A ∪ B)) == merge(merge(intervals(A)) ∪
merge(intervals(B)))`` because an interval boundary survives the union
iff the gap across it still clears the threshold — insertions can only
remove boundaries, and every removed boundary is removed by the same
rule on both sides. (Spark's own ``session_window`` aggregation state
merges the same way; this store makes the state external, replayable,
and consolidation-friendly.)

Per micro-batch: fold the batch's OWN events into batch-local merged
intervals (one user-keyed window pass — the declared query's
gaps-and-islands arithmetic, epoch-integer microseconds and integer
cents throughout) and append them; the read side re-merges each user's
stored intervals with the identical islands rule (new island iff
``first_us − running_max(last_us) >= gap``). State is O(users ×
sessions × batches-between-compactions); consolidation collapses to
the resolved merged intervals via the fold-time transform (the
resolution IS the merge, which is associative — the
``consolidate_batch_store`` transform contract).

Exactly-once follows cms_stream's minimal protocol (one store, last-id
replay guard). Like the rollup store — and unlike the paths store,
whose rows are naturally distinct — events re-delivered under a NEW
batch id would double-count; the checkpointed source delivers each
file once, and renumbered fresh-checkpoint replays are skipped by the
guard (tested).

Reference parity: none; north-star extension of the behavioral family
(the batch query is SURVEY §2's windowed-session row).
"""

from __future__ import annotations

from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..batchstore import View, admit_batch, append_batch_increment, read_store
from ..operators.sessions import (
    GAP_US,
    active_hours_from_spans,
    merge_session_intervals as _merge_intervals,
)


def _batch_intervals(batch_df: DataFrame) -> DataFrame:
    """One event-level pass: each event becomes a degenerate interval,
    then the shared merge rule collapses the batch's own sessions —
    the only stage that ever reads raw events."""
    from ..catalog import ts_epoch_us

    from ..operators.rollup import money_cents

    ev = batch_df.select(
        "user_id",
        ts_epoch_us(batch_df, "ts").alias("first_us"),
        money_cents(F.col("value")).alias("sum_cents"),
    ).select(
        "user_id",
        "first_us",
        F.col("first_us").alias("last_us"),
        F.lit(1).cast("long").alias("n_events"),
        "sum_cents",
    )
    return _merge_intervals(ev)


def fold_batch(
    spark: SparkSession,
    out_dir: str | Path,
    batch_df: DataFrame,
    batch_id: int,
) -> None:
    """Fold ONE micro-batch of events (event_id, ts, user_id, value)
    into the session-interval store. Idempotent via the store's
    last-id guard.

    Grid assumption (ADVICE r16, the rollup-store convention): values
    are quantized to CENTS per event at fold time
    (``floor(v*100+0.5)``) so cross-batch sums stay associative, while
    the declared batch query rounds the double sum once at the end —
    the two agree exactly for inputs on the 2dp grid (all repo
    testdata; the convention every maintained money-sum store shares)
    and can diverge for off-grid doubles."""
    odir = Path(out_dir)
    store = odir / "sessions"
    if not admit_batch(odir, batch_id, store):
        return
    append_batch_increment(_batch_intervals(batch_df), store, batch_id)


def sessions_report(spark: SparkSession, out_dir: str | Path) -> DataFrame | None:
    """(user_id, session_start_s, session_end_s, n_events, sum_value)
    over everything folded — column-identical to the declared
    ``events_session_windows`` query (start = floor seconds of the
    first event, end = last event + gap in floor seconds, sum =
    cents/100 == round(sum(value), 2) on the 2dp grid). None before
    the first batch."""
    sessions = read_store(spark, Path(out_dir) / "sessions")
    if sessions is None:
        return None
    merged = _merge_intervals(sessions.drop("ingest_batch"))
    return merged.select(
        "user_id",
        F.expr("(first_us - pmod(first_us, 1000000)) div 1000000").alias(
            "session_start_s"
        ),
        F.expr(
            f"(last_us + {GAP_US} - pmod(last_us + {GAP_US}, 1000000)) "
            "div 1000000"
        ).alias("session_end_s"),
        "n_events",
        (F.col("sum_cents").cast("double") / F.lit(100.0)).alias("sum_value"),
    )


def active_sessions_per_hour_report(
    spark: SparkSession, out_dir: str | Path
) -> DataFrame | None:
    """(hour_s, active_sessions) over everything folded — the
    maintained serving path of the declared
    ``events_active_sessions_per_hour`` interval-overlap report, which
    is a pure function of the session SPANS the store already resolves:
    each merged session explodes into the hours its own span covers
    (bounded by session length, never the grid) and the count is one
    map-side-combinable groupBy — identical integer second/hour
    arithmetic to the batch query. None before the first batch."""
    sessions = sessions_report(spark, out_dir)
    if sessions is None:
        return None
    return active_hours_from_spans(
        sessions, "session_start_s", "session_end_s"
    )


# Consolidation collapses to the resolved merged intervals (one row per
# current session per user).
VIEW = View(
    fold=fold_batch,
    stores={"sessions": None},
    transforms={"sessions": lambda _: _merge_intervals},
)
