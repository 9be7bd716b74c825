"""Maintained event-type transition matrix — the streaming twin of
``plans/events.events_type_transition_matrix``, with CROSS-BATCH
sequence stitching.

Transition counts add, so per-batch pair counts fold into a ``pairs``
batch store like any mergeable aggregate — but unlike the other
maintained stores, the underlying sequences SPAN batch boundaries: a
user's last event in batch N and first event in batch N+1 form a real
transition that neither batch sees alone. The stream therefore also
maintains a ``frontier`` store — each batch appends one row per user it
TOUCHED (that user's last event), and the read side resolves the latest
row per user across increments — and each fold emits

    intra-batch pairs  (lead() within the batch, per user)
  + boundary pairs     (previous frontier type -> batch's first type)

so the drained report equals the batch query over the concatenated
input EXACTLY (``test_transition_stream_equals_batch`` pins this —
boundary stitching has to be exactly right or the counts diverge).

Ordering assumption: per-user event-time order never runs backwards
across batches (each batch's events for a user are at-or-after that
user's frontier) — the append-only in-arrival-order contract the
ingest landing provides. Out-of-order deliveries would need a
watermarked resequencer in front; this store documents rather than
hides that requirement.

Exactly-once: two stores, so a batch is committed only when folded
into BOTH (min across stores — the dedup_stream precedent); pairs
append BEFORE frontier so a crash between them replays the frontier
append of an already-counted batch, never double-counts pairs.
Per-batch cost: O(batch + touched users); frontier reads prune to the
latest increments at report time and consolidate in-stream.

Reference parity: no counterpart in the reference (arrival-order-only
stream); north-star extension of the behavioral-sequence family
(events_user_sequences, events_type_transition_matrix).
"""

from __future__ import annotations

from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.streaming import StreamingQuery

from ..batchstore import (
    View,
    admit_batch,
    append_batch_increment,
    last_batch_id,
    read_store,
    run_view,
)


def _current_frontier(spark: SparkSession, odir: Path) -> DataFrame | None:
    """Latest frontier row per user across increments, resolved on the
    EVENT ordering key (t_us, event_id) — not the ingest_batch column,
    which in-stream consolidation collapses (rows folded into one
    consolidated partition would tie on it and resolve arbitrarily)."""
    frontier = read_store(spark, odir / "frontier")
    if frontier is None:
        return None
    w = Window.partitionBy("user_id").orderBy(
        F.col("t_us").desc(), F.col("event_id").desc()
    )
    return (
        frontier.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "ingest_batch")
    )


def fold_batch(
    spark: SparkSession,
    out_dir: str | Path,
    batch_df: DataFrame,
    batch_id: int,
    sequential: bool = True,
) -> None:
    """Fold ONE micro-batch of events (event_id, ts, user_id,
    event_type) into the maintained transition counts. Idempotent: a
    batch counts only when folded into BOTH stores; pairs append first
    (see module docstring for the crash-window argument).
    ``sequential=False`` relaxes the gap check for resequencer-fed
    folds, whose downstream ids are monotone but legitimately
    non-contiguous (the resequencer's own arrival-id guard protects
    the store transitively)."""
    odir = Path(out_dir)
    pairs_store = odir / "pairs"
    frontier_store = odir / "frontier"
    if not admit_batch(odir, batch_id, pairs_store, frontier_store, strict=sequential):
        return

    from ..catalog import ntz_epoch_us

    # tz-agnostic epoch micros: the frontier's t_us is compared across
    # folds that may run under different session timezones — a cast
    # through TIMESTAMP would shift NTZ wall clocks per session and
    # could disorder the cross-batch frontier resolution.
    ev = batch_df.select(
        "user_id",
        "event_type",
        ntz_epoch_us(F.col("ts")).alias("t_us"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("n_in_batch"),
        "t_us",
        "event_id",
    )
    intra = (
        seq.filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    firsts = seq.filter(F.col("rn") == 1).select(
        "user_id", F.col("cur").alias("first_type")
    )
    frontier = _current_frontier(spark, odir)
    if frontier is not None:
        boundary = (
            firsts.join(frontier, "user_id")
            .groupBy(
                F.col("event_type").alias("cur"),
                F.col("first_type").alias("nxt"),
            )
            .agg(F.count(F.lit(1)).alias("n"))
        )
        all_pairs = (
            intra.unionByName(boundary)
            .groupBy("cur", "nxt")
            .agg(F.sum("n").alias("n"))
        )
    else:
        all_pairs = intra

    if batch_id > last_batch_id(pairs_store):
        append_batch_increment(all_pairs, pairs_store, batch_id)
    # frontier delta: the batch's LAST event per touched user
    lasts = seq.filter(F.col("rn") == F.col("n_in_batch")).select(
        "user_id", F.col("cur").alias("event_type"), "t_us", "event_id"
    )
    append_batch_increment(lasts, frontier_store, batch_id)


def transition_report(
    spark: SparkSession, out_dir: str | Path
) -> DataFrame | None:
    """(cur, nxt, n, prob) over everything folded — identical columns
    and arithmetic to the batch query (counts summed across increments,
    probability one rounded division against broadcast totals). None
    before the first batch."""
    pairs = read_store(spark, Path(out_dir) / "pairs")
    if pairs is None:
        return None
    pairs = pairs.groupBy("cur", "nxt").agg(F.sum("n").alias("n"))
    totals = pairs.groupBy("cur").agg(F.sum("n").alias("n_cur"))
    return pairs.join(F.broadcast(totals), "cur").select(
        "cur",
        "nxt",
        "n",
        F.round(F.col("n").cast("double") / F.col("n_cur"), 6).alias("prob"),
    )


def _frontier_collapse(df: DataFrame) -> DataFrame:
    """Fold-time transform for the frontier store: materialize only the
    RESOLVED latest row per user — safe because the read-side resolution
    key (t_us, event_id) is batch-independent and associative (latest of
    latests == latest), so resolving the folded part against newer
    increments gives the same answer as resolving raw rows. Without
    this, consolidation merged directories but rows still grew
    O(touched users x batches) between compactions (ADVICE r14)."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("t_us").desc(), F.col("event_id").desc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def start_resequenced_transition_stream(
    spark: SparkSession,
    events_dir: str | Path,
    out_dir: str | Path,
    checkpoint_dir: str | Path,
    schema: str,
    delay_us: int,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    consolidate_every: int | None = 64,
) -> StreamingQuery:
    """Out-of-order-tolerant variant: a watermarked resequencer
    (streaming/resequence.py) buffers arrivals and releases
    event-time-contiguous slabs into :func:`fold_batch`, so the fold's
    per-user-order assumption (module docstring) holds by construction
    for any delivery schedule up to ``delay_us`` of disorder; later
    events are dropped and counted (watermark late-drop semantics).
    After an ``availableNow`` drain, call :func:`flush_resequenced` to
    release the unfinalized tail before reading the report."""
    from .resequence import consolidate_resequenced, reseq_fold

    odir = Path(out_dir)
    odir.mkdir(parents=True, exist_ok=True)
    rdir = odir / "reseq"

    from ..catalog import ntz_epoch_us

    def _fold(released: DataFrame, batch_id: int) -> None:
        fold_batch(spark, odir, released.drop("t_us"), batch_id, sequential=False)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        with_t = batch_df.withColumn("t_us", ntz_epoch_us(F.col("ts")))
        reseq_fold(spark, rdir, with_t, batch_id, _fold, delay_us)
        consolidate_resequenced(spark, rdir, batch_id, consolidate_every, odir, VIEW)

    return run_view(
        spark, events_dir, schema, checkpoint_dir, process_batch,
        max_files_per_trigger, available_now,
    )


def flush_resequenced(spark: SparkSession, out_dir: str | Path) -> None:
    """Release the resequencer's unfinalized tail into the transition
    fold — the end-of-drain step that makes an ``availableNow`` run's
    report cover every landed event."""
    from .resequence import flush_resequencer

    odir = Path(out_dir)

    def _fold(released: DataFrame, batch_id: int) -> None:
        fold_batch(spark, odir, released.drop("t_us"), batch_id, sequential=False)

    flush_resequencer(spark, odir / "reseq", _fold)


# Pairs rows are O(types² x batches) between compactions and collapse on
# read (sum); frontier rows collapse to the resolved latest-per-user AT
# FOLD TIME, so the compacted frontier holds exactly one row per
# ever-touched user.
VIEW = View(
    fold=fold_batch,
    stores={"pairs": None, "frontier": None},
    transforms={"frontier": lambda _: _frontier_collapse},
)
