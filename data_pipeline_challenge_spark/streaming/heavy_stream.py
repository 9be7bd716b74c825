"""Streaming heavy hitters — the maintained twin of
``operators/sketches.heavy_hitters``.

Each micro-batch folds two things:

- ``counts/`` — the batch's per-item counts as a batch-store increment
  (vocabulary-sized per batch, partitioned by ``prefix_bucket(item)``
  so a candidate recount prunes to the candidates' buckets);
- ``mg/b{B}.json`` — the running Misra-Gries summary: previous summary
  merged with THIS batch's sketch (counter addition + the
  subtract-(k+1)th compaction) plus the running item total. MG
  summaries are mergeable (Agarwal et al. 2012), so the maintained
  summary equals a one-shot sketch of everything folded — no true
  > N/k item over the WHOLE stream is ever lost.

``heavy_hitters_report`` then recounts only the ≤k candidates from the
counts store — reads pruned to the candidates' partition buckets — and
filters by the exact global threshold, so the maintained answer is
EXACT and equal to the batch operator over the concatenated input
(``test_heavy_stream_equals_batch``).

Exactly-once follows the family recipe: the summary for batch B is a
pure function of (summary B-1, batch B), written tmp+rename keyed by
batch id, so a crash-replay recomputes the identical file; the counts
increment uses the shared ``append_batch_increment`` protocol; the
replay guard skips batches present in BOTH stores. Summary files are
retained for the trailing window only (the latest is the state; older
ones exist so a replayed batch can re-derive from its predecessor).
"""

from __future__ import annotations

import json
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..batchstore import (
    View,
    append_batch_increment,
    ensure_store_params,
    has_rebuilt_marker,
    last_batch_id,
    latest_commit_file,
    prefix_bucket,
    prefix_bucket_local,
    read_batch_store,
    sequential_fold_guard,
    write_commit_file,
)
from ..operators.sketches import _mg_merge, mg_summary
from ..session import local_frame, pinned

_N_BUCKETS = 64


def _summary_path(odir: Path, batch_id: int) -> Path:
    return odir / "mg" / f"b{batch_id}.json"


def _latest_summary(odir: Path, before: int | None = None) -> tuple[dict, int]:
    """(summary record, batch_id) of the newest summary strictly before
    ``before`` (or the newest overall); an empty summary and -1 when
    none exists."""
    return latest_commit_file(odir / "mg", {"mg": {}, "n_total": 0}, before)


def fold_batch(
    spark: SparkSession,
    out_dir: str | Path,
    batch_df: DataFrame,
    batch_id: int,
    item_col: str,
    k: int,
) -> None:
    """Fold ONE micro-batch: append its per-item counts and advance the
    running MG summary. Idempotent — a replayed batch re-derives its
    summary from the PREDECESSOR's file and overwrites its own."""
    odir = Path(out_dir)
    odir.mkdir(parents=True, exist_ok=True)
    # population=non_null is part of the pin: n_total once counted null
    # items (which neither the sketch nor the recount ever see), and
    # because each summary derives from its predecessor, a store built
    # under the old semantics carries the inflated running total
    # FOREVER — new folds cannot heal it. Mixed-semantics stores refuse
    # loudly here and are rebuilt into a fresh dir.
    ensure_store_params(
        odir,
        {"k": int(k), "item_col": item_col, "population": "non_null"},
    )
    counts_store = odir / "counts"

    if batch_id <= last_batch_id(counts_store) and _summary_path(
        odir, batch_id
    ).exists():
        return  # replay of a fully folded batch
    # Summary ids are monotone (each derives from its predecessor): a
    # batch at-or-below the newest summary is already covered by the
    # commit point — refolding would double-count its items.
    _, newest = _latest_summary(odir)
    if batch_id <= newest:
        return
    # strict numbering check only — the crash-heal case (counts ahead
    # of the summary file) sits at the frontier and passes
    sequential_fold_guard(
        batch_id,
        max(newest, last_batch_id(counts_store)),
        odir,
        rebuilt=has_rebuilt_marker(odir),
    )

    # Non-null population only, matching the batch operator: the sketch
    # drops nulls and the report's isin recount can never match one, so
    # counting nulls into n_total would inflate the N/k threshold.
    items = batch_df.select(
        F.col(item_col).cast("string").alias("item")
    ).filter(F.col("item").isNotNull())
    with pinned() as pin:
        batch_counts = pin(
            items.groupBy("item")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("item_bucket", prefix_bucket(F.col("item"), _N_BUCKETS))
        )
        batch_mg = mg_summary(items, "item", k)
        batch_total = batch_counts.agg(
            F.coalesce(F.sum("n"), F.lit(0)).alias("t")
        ).first()["t"]

        # counts BEFORE summary: the summary file is the replay guard's
        # second half, so a crash between the two replays the batch.
        append_batch_increment(
            batch_counts, counts_store, batch_id, partition_by="item_bucket"
        )

    prev, _ = _latest_summary(odir, before=batch_id)
    merged = _mg_merge(iter([prev.get("mg", {}), batch_mg]), int(k))
    rec = {
        "batch_id": batch_id,
        "mg": merged,
        "n_total": int(prev.get("n_total", 0)) + int(batch_total),
    }
    write_commit_file(odir / "mg", batch_id, rec)


def heavy_hitters_report(
    spark: SparkSession, out_dir: str | Path, k: int | None = None
) -> DataFrame | None:
    """EXACT heavy hitters of everything folded so far: candidates from
    the maintained summary, true counts from a candidate-bucket-pruned
    scan of the counts store, threshold from the running total. None
    before the first batch."""
    odir = Path(out_dir)
    counts_store = odir / "counts"
    summary, sid = _latest_summary(odir)
    if sid < 0 or not counts_store.exists():
        return None
    if k is None:
        k = int(json.loads((odir / "_gate_params.json").read_text())["k"])
    cands = sorted(summary.get("mg", {}))
    n_total = int(summary.get("n_total", 0))
    if not cands or n_total == 0:
        return local_frame(spark, [], "item string, n long")
    # driver-local constant-folded bucket evaluation — no cluster job
    # per report just to hash the <=k candidate strings (batchstore.
    # prefix_bucket_local, r19)
    buckets = sorted(set(prefix_bucket_local(spark, cands, _N_BUCKETS)))
    return (
        read_batch_store(spark, counts_store)
        # Snapshot consistency (ADVICE r11): counts are appended BEFORE
        # the summary file (the commit point), so after a crash in that
        # window the store is one batch AHEAD of the summary this report
        # read its candidates and n_total from — mixing them inflates
        # counts relative to the threshold. Scan only increments the
        # summary covers; consolidated dirs (negative ids) fold batches
        # at-or-below a committed summary, so they are always covered.
        .filter((F.col("ingest_batch") <= sid) | (F.col("ingest_batch") < 0))
        .filter(F.col("item_bucket").isin(buckets))  # partition-pruned
        .filter(F.col("item").isin(cands))
        .groupBy("item")
        .agg(F.sum("n").alias("n"))
        .filter(F.col("n") * F.lit(int(k)) > F.lit(n_total))
    )


def _summary_frontier(odir: Path) -> int:
    """The offline compaction bound: the newest summary's id. After an
    UNCLEAN stop the counts store can be one uncommitted batch ahead of
    the newest summary, and folding that increment into a negative-id
    consolidated dir would smuggle it past the report's
    committed-snapshot filter — it stays in its own positive dir until
    the restarted stream's replay commits it."""
    return _latest_summary(odir)[1]


VIEW = View(
    fold=fold_batch, stores={"counts": ["item_bucket"]}, frontier=_summary_frontier
)
