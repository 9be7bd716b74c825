"""Maintained last-touch attribution — the streaming twin of the
declared ``events_attribution_last_touch`` (VERDICT r16 #5), closing
the events family: rollup, gapfill, retention, paths, sessions,
transitions, trend, and KMV all had maintained stores; attribution was
the last batch-only report.

Last-touch is a backward AS-OF join, which makes it ORDER-SENSITIVE in
a way the additive folds are not: a conversion must see every touch
at-or-before its instant, and nothing after. Two stores make the fold
incremental (one shared core with the batch query —
``operators/attribution.py`` — so the surfaces cannot drift):

- ``frontier/`` — each batch appends the batch's LATEST touch per
  touched user (t_us, t_event_id, t_type); the read side resolves the
  latest row per user on the EVENT key (t_us, t_event_id) across
  increments — the transition stream's frontier discipline, and the
  only state attribution needs: older touches can never win an as-of
  against a later frontier touch, so the per-user frontier is the
  sufficient statistic for every FUTURE conversion;
- ``attrib/`` — per-batch attribution counts
  (attributed, n, value_cents): counts and cent-sums add, so the
  report is a plain re-aggregation. Values quantize to CENTS per
  conversion at fold time (the rollup/sessions grid convention —
  exact for 2dp-grid inputs, the repo testdata; the batch query
  rounds its double sum once at the end).

Per batch: conversions as-of-join the batch's own deduped touches
UNIONED with the prior frontier (frontier instants are strictly older
than every in-batch instant under the ordering contract, so the union
IS the correct candidate set), then one count/cents aggregate.

Ordering assumption — STRICTER than the transition fold's, stated
honestly: per-user event time never runs backwards across batches,
AND same-instant events for a user arrive in the SAME batch. The
fold's union treats the stored frontier as strictly older than every
in-batch instant, so a touch at time t delivered one batch after a
conversion at the same t would be counted 'direct' by the plain
stream while the batch query attributes the touch (ADVICE r17). A
late-arriving touch CANNOT be retrofitted onto an already-counted
conversion (the count is an aggregate, not a per-conversion store),
so tie-capable or out-of-order delivery needs the watermarked
resequencer in front (event-time-contiguous slabs keep equal
timestamps together by construction):
:func:`start_resequenced_attribution_stream` buffers arrivals and
releases event-time-contiguous slabs into the fold, making the
contract hold BY CONSTRUCTION for any disorder up to ``delay_us``
(later events drop + count — watermark semantics). The plain stream,
``batchstore.start_view(spark, VIEW, ...)``, stays available for in-order feeds;
``test_attribution_stream_out_of_order_fails_then_resequencer_fixes``
pins the failure schedule first, the repo's discipline for documented
contracts.

Exactly-once: a batch is committed only when folded into BOTH stores
(min across stores); ``attrib`` appends BEFORE ``frontier``, so a
crash between them replays the frontier append of an already-counted
batch — recomputed from a frontier view that cannot contain the batch
(write order), hence identical — and never double-counts.

Reference parity: none (the reference pipeline has no analytics
surface); north-star extension of the events family.
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
from ..session import pinned
from ..operators.attribution import (
    LOOKBACK_US,
    attribute_conversions,
    touch_rollup,
)


_CONV_TYPE = "purchase"
_TOUCH_TYPES = ("click", "view")


def _latest_per_user(df: DataFrame) -> DataFrame:
    """THE frontier resolution rule — latest row per user on the EVENT
    ordering key (t_us, t_event_id), never ingest_batch (which
    consolidation collapses). One definition for the read view, the
    fold's delta, and compaction (code-review r17: three copies had to
    stay identical for those views to agree)."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("t_us").desc(), F.col("t_event_id").desc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _current_frontier(spark: SparkSession, odir: Path) -> DataFrame | None:
    """Latest touch per user across increments (None before the first
    batch)."""
    frontier = read_store(spark, odir / "frontier")
    return None if frontier is None else _latest_per_user(frontier).drop("ingest_batch")


def fold_batch(
    spark: SparkSession,
    out_dir: str | Path,
    batch_df: DataFrame,
    batch_id: int,
    lookback_us: int = LOOKBACK_US,
    sequential: bool = True,
) -> None:
    """Fold ONE micro-batch of events into the maintained attribution
    counts. ``batch_df`` needs (event_id, user_id, event_type, value)
    plus ``t_us`` (timezone-agnostic epoch micros), derived from ``ts``
    via ``catalog.ts_epoch_us`` when absent (a raw event file). Requires
    the per-user event-time ordering contract (module docstring);
    idempotent via the min-across-stores replay guard, attrib before
    frontier.

    The guard is strict (``batchstore.sequential_fold_guard``, r18): a
    gapped batch id on a store with history — a stale pre-rebuild or
    foreign checkpoint — is refused loudly instead of silently losing
    the gap's touches from the frontier and permanently skewing the
    irreversible counts (VERDICT r17's sharpest case).
    ``sequential=False`` relaxes only the gap check, for the
    resequenced wrappers whose downstream ids (2B / 2B+1) are monotone
    but legitimately non-contiguous; the resequencer's own arrival-id
    guard protects the store transitively there."""
    odir = Path(out_dir)
    attrib_store = odir / "attrib"
    frontier_store = odir / "frontier"
    # The lookback is pinned as a STORE parameter, unlike the near-dup
    # gate's min_jaccard (tunable policy): attribution counts are
    # irreversible aggregates — folds under a different lookback would
    # silently mix attribution regimes in one report, permanently
    # breaking the stream==batch claim. A lookback change is a fresh
    # store.
    if not admit_batch(
        odir, batch_id, attrib_store, frontier_store,
        params={"lookback_us": int(lookback_us)}, strict=sequential,
    ):
        return

    if "t_us" not in batch_df.columns:
        from ..catalog import ts_epoch_us

        batch_df = batch_df.withColumn("t_us", ts_epoch_us(batch_df, "ts"))
    from ..operators.rollup import money_cents

    with pinned() as pin:
        ev = pin(batch_df.select("event_id", "user_id", "event_type", "value", "t_us"))
        conv = ev.filter(F.col("event_type") == _CONV_TYPE).select(
            "user_id",
            F.col("t_us").alias("c_us"),
            money_cents(F.col("value")).alias("cents"),
        )
        batch_touches = pin(touch_rollup(
            ev.filter(F.col("event_type").isin(*_TOUCH_TYPES)).select(
                "user_id", "t_us", "event_id", "event_type"
            )
        ))
        frontier = _current_frontier(spark, odir)
        touches = (
            batch_touches
            if frontier is None
            else batch_touches.unionByName(
                frontier.select("user_id", "t_us", "t_event_id", "t_type")
            )
        )
        counts = (
            attribute_conversions(
                conv, touches, lookback_us=lookback_us,
            )
            .groupBy("attributed")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("cents").alias("value_cents"),
            )
        )
        if batch_id > last_batch_id(attrib_store):
            append_batch_increment(counts, attrib_store, batch_id)
        # frontier delta: the batch's latest touch per touched user
        append_batch_increment(
            _latest_per_user(batch_touches), frontier_store, batch_id
        )


def attribution_report(
    spark: SparkSession, out_dir: str | Path
) -> DataFrame | None:
    """(attributed, n_conversions, attributed_value) over everything
    folded — column-identical to the declared batch query (cent sums
    re-scaled once, the grid convention). None before the first
    batch."""
    attrib = read_store(spark, Path(out_dir) / "attrib")
    if attrib is None:
        return None
    return attrib.groupBy("attributed").agg(
        F.sum("n").alias("n_conversions"),
        F.round(F.sum("value_cents") / 100.0, 2).alias("attributed_value"),
    )


def _frontier_collapse(df: DataFrame) -> DataFrame:
    """Fold-time transform: keep only the resolved latest touch per
    user (latest-of-latests == latest — associative, so the post-fold
    view resolves identically; the transition precedent)."""
    return _latest_per_user(df)


def _attrib_collapse(df: DataFrame) -> DataFrame:
    """Fold-time transform: counts and cent-sums are associative, so
    the compacted store holds one row per attributed type."""
    return df.groupBy("attributed").agg(
        F.sum("n").alias("n"), F.sum("value_cents").alias("value_cents")
    )


def rebuild_attribution_store(
    spark: SparkSession,
    out_dir: str | Path,
    events_df: DataFrame,
    lookback_us: int = LOOKBACK_US,
) -> None:
    """OFFLINE recompute for BEYOND-DELAY repair (VERDICT r17 #2) — the
    tool for the one case the maintained fold honestly scopes out: a
    touch arriving later than the resequencer's ``delay_us`` is dropped
    and counted (watermark semantics), and because the counts are an
    irreversible aggregate, the mis-attribution can never be retrofitted
    incrementally. When the drop counters say the skew matters, this
    recomputes the whole store from the RETAINED event history — the
    exact arithmetic of the oracle-checked declared query, via the same
    ``operators/attribution.py`` core — into a fresh store, swapped in
    atomically (``batchstore.rebuild_swap``, the components-store
    contract).

    ``events_df`` needs (event_id, user_id, event_type, value) plus
    either ``t_us`` (epoch micros) or a ``ts`` timestamp column to
    derive it from. ``lookback_us`` may change here — a rebuild is
    exactly when the pinned attribution regime is allowed to.

    The rebuilt store starts a NEW batch-numbering history (committed
    id -1, consolidated layout): resume only with a FRESH checkpoint
    over post-rebuild arrivals. A STALE pre-rebuild checkpoint is
    refused loudly — by :func:`fold_batch`'s sequential guard on the
    plain path, and by the resequencer's arrival-id guard on the
    resequenced path (the swap removes the nested ``reseq/`` stores,
    and the ``_rebuilt.json`` marker written here arms the reseq guard
    via its parent-dir check). Run while no stream writes the store."""
    from ..batchstore import rebuild_swap, write_initial_consolidated
    from ..catalog import ts_epoch_us
    from ..operators.rollup import money_cents

    ev = events_df
    if "t_us" not in ev.columns:
        ev = ev.withColumn("t_us", ts_epoch_us(ev, "ts"))
    ev = ev.select("event_id", "user_id", "event_type", "value", "t_us")

    def _build(tmp: Path) -> None:
        from ..batchstore import ensure_store_params

        ensure_store_params(tmp, {"lookback_us": int(lookback_us)})
        conv = ev.filter(F.col("event_type") == _CONV_TYPE).select(
            "user_id",
            F.col("t_us").alias("c_us"),
            money_cents(F.col("value")).alias("cents"),
        )
        with pinned() as pin:
            touches = pin(touch_rollup(
                ev.filter(F.col("event_type").isin(*_TOUCH_TYPES)).select(
                    "user_id", "t_us", "event_id", "event_type"
                )
            ))
            counts = (
                attribute_conversions(conv, touches, lookback_us=lookback_us)
                .groupBy("attributed")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("cents").alias("value_cents"),
                )
            )
            write_initial_consolidated(counts, tmp / "attrib", None)
            write_initial_consolidated(
                _latest_per_user(touches), tmp / "frontier", None
            )

    rebuild_swap(out_dir, _build)


def start_resequenced_attribution_stream(
    spark: SparkSession,
    events_dir: str | Path,
    out_dir: str | Path,
    checkpoint_dir: str | Path,
    schema: str,
    delay_us: int,
    lookback_us: int = LOOKBACK_US,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    consolidate_every: int | None = 64,
) -> StreamingQuery:
    """Out-of-order-tolerant variant: the watermarked resequencer
    (streaming/resequence.py) buffers arrivals and releases event-time-
    contiguous slabs into :func:`fold_batch`, so a late touch is either
    sequenced BEFORE the conversions it should win (disorder within
    ``delay_us``) or dropped + counted — never silently mis-attributed.
    After an ``availableNow`` drain, call :func:`flush_resequenced` to
    release the unfinalized tail before reading the report."""
    from ..catalog import ts_epoch_us
    from .resequence import consolidate_resequenced, reseq_fold

    odir = Path(out_dir)
    odir.mkdir(parents=True, exist_ok=True)
    rdir = odir / "reseq"

    def _fold(released: DataFrame, fold_id: int) -> None:
        fold_batch(
            spark, odir, released, fold_id,
            lookback_us=lookback_us, sequential=False,
        )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        with_t = batch_df.withColumn("t_us", ts_epoch_us(batch_df, "ts"))
        reseq_fold(spark, rdir, with_t, batch_id, _fold, delay_us)
        consolidate_resequenced(spark, rdir, batch_id, consolidate_every, odir, VIEW)

    return run_view(
        spark, events_dir, schema, checkpoint_dir, process_batch,
        max_files_per_trigger, available_now,
    )


def flush_resequenced(
    spark: SparkSession, out_dir: str | Path, lookback_us: int = LOOKBACK_US
) -> None:
    """Release the resequencer's unfinalized tail into the attribution
    fold — the end-of-drain step for ``availableNow`` runs."""
    from .resequence import flush_resequencer

    odir = Path(out_dir)

    def _fold(released: DataFrame, fold_id: int) -> None:
        fold_batch(
            spark, odir, released, fold_id,
            lookback_us=lookback_us, sequential=False,
        )

    flush_resequencer(spark, odir / "reseq", _fold)


VIEW = View(
    fold=fold_batch,
    stores={"attrib": None, "frontier": None},
    transforms={
        "attrib": lambda _: _attrib_collapse,
        "frontier": lambda _: _frontier_collapse,
    },
)
