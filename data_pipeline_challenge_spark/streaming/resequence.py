"""Watermarked event-time resequencer — an ordering front for maintained
stores whose folds assume per-key arrival order (transition_stream's
documented contract: streaming/transition_stream.py module docstring).

Out-of-order delivery breaks sequence-shaped folds in two ways: a batch
may contain events OLDER than a user's committed frontier (the boundary
stitch would count a backwards transition), and a later batch may carry
an event that belongs BETWEEN two already-stitched ones. The fix is the
standard streaming watermark discipline, implemented over the same
append-only batch stores as every other maintained structure:

- each micro-batch lands verbatim in a ``buffer`` store;
- the watermark is ``max event time seen so far - delay`` (monotone; the
  running max and the released floor live in a tiny ``wm`` store, one
  row per batch);
- each batch RELEASES the buffered slice ``(prev_floor, watermark]`` —
  closed under event time, so everything released is final: any event
  that could still arrive inside that span is by definition later than
  ``delay`` out of order and is DROPPED (counted per batch in the ``wm``
  row — the same late-drop semantics as the windowed-aggregation
  watermark, made observable);
- the release feeds the downstream fold in one call, already a single
  event-time-contiguous slab, so the downstream's per-key order
  assumption holds BY CONSTRUCTION: every released event is strictly
  newer than every previously released one.

Exactly-once composition: the buffer append, the downstream fold, and
the ``wm`` commit are each idempotent on the micro-batch id (the
batchstore replay guard), ordered buffer -> downstream -> wm so a crash
between any two replays into the same release slice (the floor only
advances at the wm commit). Per-batch cost: O(buffer rows) for the
release filter — and the buffer prunes to the unreleased tail at each
consolidation via the fold-time ``transform`` hook, so between
compactions it holds O(delay-window + late) rows, not history.

Reference parity: none (the reference consumes RabbitMQ in arrival
order); north-star extension closing VERDICT r14 item 5.
"""

from __future__ import annotations

from pathlib import Path
from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..batchstore import (
    View,
    append_batch_increment,
    has_rebuilt_marker,
    last_batch_id,
    maybe_consolidate_in_stream,
    read_batch_store,
    read_store,
    sequential_fold_guard,
    view_stores,
)
from ..session import local_frame, pinned

_WM_SCHEMA = "max_t_us long, released_floor_us long, n_late long"
_FLOOR_FILE = "_flush_floor.json"


def _sidecar_floor(odir: Path) -> tuple[int | None, int | None]:
    """The flush-committed (max_t, floor), or (None, None). Flush floor
    commits live in this atomically-replaced SIDECAR, never as wm
    increments: an increment would either collide with the next real
    batch's id (making the replay guard treat a crashed batch as
    committed) or — after an offline wm consolidation — land at an id
    the marker view excludes, silently losing the commit. A sidecar has
    no id at all; the state fold below maxes it in. It lives INSIDE the
    wm store directory (underscore-prefixed: invisible to parquet
    listings, untouched by the consolidation sweep) so that wiping the
    stores remains a FULL state reset — a sibling-file sidecar would
    survive a rebuild and silently drop every event at-or-below its
    stale floor as late."""
    p = odir / "wm" / _FLOOR_FILE
    if not p.exists():
        return None, None
    import json

    d = json.loads(p.read_text())
    return int(d["max_t_us"]), int(d["released_floor_us"])


def _wm_state(
    spark: SparkSession, wm_store: Path
) -> tuple[int | None, int | None]:
    """(max event time seen, released floor) across commits — both
    monotone, so max over wm increments ∪ the flush sidecar is the
    current state. (None, None) before the first commit."""
    side = _sidecar_floor(wm_store.parent)
    wm = read_store(spark, wm_store)
    if wm is None:
        return side
    row = wm.agg(
        F.max("max_t_us").alias("m"),
        F.max("released_floor_us").alias("f"),
    ).collect()[0]
    m, f = row["m"], row["f"]
    sm, sf = side
    if sm is not None:
        m = sm if m is None else max(m, sm)
        f = sf if f is None else max(f, sf)
    return m, f


def wm_collapse(df: DataFrame) -> DataFrame:
    """Fold-time transform for the wm store's consolidation: the state
    is single-row-foldable (maxes and a sum are associative), so the
    compacted store holds exactly one row instead of one per
    micro-batch — keeping the per-batch ``_wm_state`` scan O(1) at any
    stream age."""
    return df.agg(
        F.max("max_t_us").alias("max_t_us"),
        F.max("released_floor_us").alias("released_floor_us"),
        F.sum("n_late").alias("n_late"),
    )


def reseq_fold(
    spark: SparkSession,
    out_dir: str | Path,
    batch_df: DataFrame,
    batch_id: int,
    downstream: Callable[[DataFrame, int], None],
    delay_us: int,
    t_col: str = "t_us",
) -> None:
    """Buffer one micro-batch and release the watermark-final slice
    ``(prev_floor, max_seen - delay_us]`` — in event time, not arrival
    time — into ``downstream(released_df, batch_id)``. ``downstream``
    must be idempotent on its id argument (every maintained fold in
    this package is). Events arriving at-or-below the already-released
    floor are late by more than ``delay_us``: dropped and counted in
    the wm commit row.

    Downstream ids are ``2*batch_id`` (flushes use ``2*B+1``): strictly
    monotone across any interleaving of drains, flushes, and restarts —
    a flush after batch B folds at ``2B+1``, and the next real batch
    B+1 folds at ``2B+2``, so a continued checkpoint can never collide
    with a flush id (which would make the downstream gate silently
    swallow a real release)."""
    odir = Path(out_dir)
    odir.mkdir(parents=True, exist_ok=True)
    buffer_store = odir / "buffer"
    wm_store = odir / "wm"
    _recover_flush(spark, odir, downstream, t_col)
    if not sequential_fold_guard(
        batch_id,
        min(last_batch_id(buffer_store), last_batch_id(wm_store)),
        odir,
        # a rebuild swaps the DOWNSTREAM store root wholesale, taking
        # this nested reseq dir with it — the parent's marker must arm
        # this guard too, or a stale arrival checkpoint would attach to
        # the empty post-rebuild buffer as if brand new and silently
        # lose the gap downstream (strict=False there, by design)
        rebuilt=has_rebuilt_marker(odir) or has_rebuilt_marker(odir.parent),
    ):
        return

    with pinned() as pin:
        batch_df = pin(batch_df)
        agg = batch_df.agg(F.max(t_col).alias("m")).collect()[0]
        prev_max, prev_floor = _wm_state(spark, wm_store)
        new_max = max(x for x in (agg["m"], prev_max) if x is not None) if (
            agg["m"] is not None or prev_max is not None
        ) else None

        if batch_id > last_batch_id(buffer_store):
            append_batch_increment(batch_df, buffer_store, batch_id)

        n_late = 0
        if new_max is not None:
            watermark = new_max - delay_us
            floor = prev_floor if prev_floor is not None else None
            lo = floor if floor is not None else -(1 << 62)
            if watermark > lo:
                release = read_batch_store(spark, buffer_store).filter(
                    (F.col(t_col) > F.lit(lo)) & (F.col(t_col) <= F.lit(watermark))
                )
                downstream(release.drop("ingest_batch"), 2 * batch_id)
                new_floor = watermark
            else:
                new_floor = lo
            if floor is not None:
                n_late = batch_df.filter(F.col(t_col) <= F.lit(floor)).count()
        else:
            new_floor = prev_floor if prev_floor is not None else -(1 << 62)
            new_max = prev_max if prev_max is not None else -(1 << 62)

        wm_row = local_frame(
            spark, [(int(new_max), int(new_floor), int(n_late))], _WM_SCHEMA
        )
        append_batch_increment(wm_row, wm_store, batch_id)


def flush_resequencer(
    spark: SparkSession,
    out_dir: str | Path,
    downstream: Callable[[DataFrame, int], None],
    t_col: str = "t_us",
) -> None:
    """End-of-drain release: fold everything still above the released
    floor (the tail the watermark hadn't finalized) at downstream id
    ``2*B+1`` (B = latest committed arrival batch — see
    :func:`reseq_fold`'s id-space note), then commit the floor via the
    atomic SIDECAR file (``_sidecar_floor``): a wm increment would
    either consume arrival id B+1 — which the next real micro-batch
    after a restart uses, so a crash mid-that-batch would be read as
    committed with its floor never written, re-releasing an
    overlapping slab — or, after an offline wm consolidation, land at
    an id the marker view excludes and silently lose the commit. For
    ``availableNow`` drains whose report must cover every landed event
    — an always-on stream never calls this."""
    odir = Path(out_dir)
    buffer_store = odir / "buffer"
    wm_store = odir / "wm"
    _recover_flush(spark, odir, downstream, t_col)
    prev_max, prev_floor = _wm_state(spark, wm_store)
    if prev_max is None or not buffer_store.exists():
        return
    lo = prev_floor if prev_floor is not None else -(1 << 62)
    if prev_max <= lo:
        return
    latest_buf, latest_wm = last_batch_id(buffer_store), last_batch_id(wm_store)
    if latest_buf > latest_wm:
        raise RuntimeError(
            f"resequencer store has an uncommitted arrival batch "
            f"(buffer at {latest_buf}, wm at {latest_wm}) — a crash "
            "interrupted a fold; drain the stream (which replays and "
            "commits it) before flushing, or the flush would re-release "
            "a slab the crashed batch may already have folded"
        )
    latest = latest_wm
    # WRITE-AHEAD INTENT: the downstream fold commits before the floor
    # does, so a crash between them followed by a stream RESTART (not a
    # flush re-run) would read the stale floor and re-release this slab
    # at a fresh downstream id the replay guard has never seen.
    # Recording (lo, fold_id, floor) first lets the next reseq_fold or
    # flush COMPLETE the interrupted flush instead — same slab (the
    # floor only advances at the wm commit that did not happen), same
    # fold id (downstream-gated), then the floor commit.
    _write_intent(
        odir, {"lo": int(lo), "fold_id": 2 * latest + 1, "floor": int(prev_max)}
    )
    _complete_flush(spark, odir, downstream, t_col)


_INTENT = "_flush_intent.json"


def _write_intent(odir: Path, intent: dict) -> None:
    import json
    import os

    tmp = odir / (_INTENT + ".tmp")
    tmp.write_text(json.dumps(intent))
    os.replace(tmp, odir / _INTENT)


def _recover_flush(
    spark: SparkSession,
    odir: Path,
    downstream: Callable[[DataFrame, int], None],
    t_col: str,
) -> None:
    """Complete a flush whose crash left its intent marker behind —
    called at the head of every fold and flush, so the stale-floor
    double-release window is closed no matter which path runs next."""
    if (odir / _INTENT).exists():
        _complete_flush(spark, odir, downstream, t_col)


def _complete_flush(
    spark: SparkSession,
    odir: Path,
    downstream: Callable[[DataFrame, int], None],
    t_col: str,
) -> None:
    import json

    intent = json.loads((odir / _INTENT).read_text())
    buffer_store = odir / "buffer"
    lo, fold_id, floor = intent["lo"], intent["fold_id"], intent["floor"]
    release = read_batch_store(spark, buffer_store).filter(
        F.col(t_col) > F.lit(lo)
    )
    downstream(release.drop("ingest_batch"), fold_id)
    # floor commit via the atomic sidecar (see _sidecar_floor for why
    # never a wm increment); monotone, so overwriting an older sidecar
    # is always safe
    import os

    wm_store = odir / "wm"
    wm_store.mkdir(parents=True, exist_ok=True)
    tmp = wm_store / (_FLOOR_FILE + ".tmp")
    tmp.write_text(
        json.dumps({"max_t_us": int(floor), "released_floor_us": int(floor)})
    )
    os.replace(tmp, wm_store / _FLOOR_FILE)
    (odir / _INTENT).unlink()


def buffer_prune_transform(
    spark: SparkSession, out_dir: str | Path, t_col: str = "t_us"
) -> Callable[[DataFrame], DataFrame]:
    """Fold-time transform for the buffer store's consolidation: rows
    at-or-below the released floor are either already folded downstream
    or late-dropped by policy — no reader ever selects them again, so
    the fold drops them and the buffer's steady-state row count is the
    unreleased tail (O(delay-window)), not history. The floor is read
    ONCE at fold time — safe because it only advances, and advancing
    after the read merely prunes less."""
    wm_store = Path(out_dir) / "wm"

    def _prune(df: DataFrame) -> DataFrame:
        _, floor = _wm_state(spark, wm_store)
        if floor is None:
            return df
        return df.filter(F.col(t_col) > F.lit(floor))

    return _prune


def consolidate_resequenced(
    spark: SparkSession,
    out_dir: str | Path,
    batch_id: int,
    every: int | None,
    view_dir: str | Path,
    view: View,
) -> None:
    """In-stream consolidation hook of a resequenced view, run after
    :func:`reseq_fold` in the same ``foreachBatch``. TWO id spaces: the
    resequencer's own ``{buffer, wm}`` stores under ``out_dir`` carry
    arrival batch ids, but the downstream ``view``'s stores (at
    ``view_dir``) carry the
    DOUBLED fold ids (2B / 2B+1 — see :func:`reseq_fold`), so their fold
    horizon must be ``2 * batch_id - 1`` (protecting the current batch's
    2B increment for crash-replay) or consolidation would forever bound
    at half of history and the live dir count would grow without
    reset."""
    rdir = Path(out_dir)
    maybe_consolidate_in_stream(
        spark,
        {rdir / "buffer": None, rdir / "wm": None},
        batch_id,
        every,
        transforms={
            rdir / "buffer": buffer_prune_transform(spark, rdir),
            rdir / "wm": wm_collapse,
        },
    )
    stores, transforms, unbounded = view_stores([(view_dir, view)])
    maybe_consolidate_in_stream(
        spark,
        stores,
        2 * batch_id,
        2 * every if every else None,
        unbounded,
        transforms,
    )
