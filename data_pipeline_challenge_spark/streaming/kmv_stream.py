"""Maintained KMV distinct-cardinality sketch — the streaming twin of
``operators/sketches.kmv_bottom_hashes``/``kmv_estimate``.

Bottom-k sets MERGE by union-then-rekeep: each micro-batch folds its own
bottom-k hash frame (at most k rows per group per batch before it ever
hits disk) into a ``hashes`` batch store, and the read side collapses
the union — distinct, then bottom-k again — so the maintained estimate
equals the batch sketch over the concatenated input EXACTLY
(``test_kmv_stream_equals_batch``), the same mergeability argument as
the CMS cells and quantile histograms, here for CARDINALITY. Because
the hash family is the engine-portable md5 fold, this is the
distinct-count sketch an external oracle can rebuild bit-identically —
the role HLL (engine-opaque) cannot fill.

State: O(k x groups x batches-between-compactions) rows; consolidation
collapses to the resolved bottom-k per group via the fold-time
``transform`` hook (the same associativity argument as the transition
frontier: bottom-k of a union == bottom-k of bottom-k's).

Exactly-once follows cms_stream's minimal protocol: one store, the
``append_batch_increment`` last-id replay guard is the whole protocol.

Reference parity: no counterpart in the reference; north-star extension
of the sketch family (SURVEY §2 checklist, sketches row).
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from ..batchstore import View, admit_batch, append_batch_increment, read_store
from ..operators.sketches import (
    KMV_K,
    kmv_bottom_hashes,
    kmv_estimate,
    kmv_merge,
    kmv_pairwise_setops,
)


def _bottom_k(df: DataFrame, k: int, gcs: list) -> DataFrame:
    """Collapse a union of bottom-k frames to the resolved bottom-k —
    delegates to the batch operator's ``kmv_merge`` so the union
    resolution rule exists exactly once."""
    return kmv_merge(df, k, group_cols=gcs or None)


def _params(odir: Path) -> dict:
    return json.loads((odir / "_gate_params.json").read_text())


def fold_batch(
    spark: SparkSession,
    out_dir: str | Path,
    batch_df: DataFrame,
    batch_id: int,
    item_col: str,
    k: int = KMV_K,
    group_cols: "list[str] | None" = None,
) -> None:
    """Fold ONE micro-batch's items into the sketch store. The increment
    is the batch's OWN bottom-k (per group) — never the raw items.
    Idempotent via the store's last-id guard; (item_col, k, group_cols)
    are pinned at store creation (bottom-k sets of different k or
    grouping must never union)."""
    odir = Path(out_dir)
    params: dict = {"item_col": item_col, "k": k}
    if group_cols:
        params["group_cols"] = list(group_cols)
    store = odir / "hashes"
    if not admit_batch(odir, batch_id, store, params=params):
        return
    append_batch_increment(
        kmv_bottom_hashes(batch_df, item_col, k, group_cols=group_cols),
        store,
        batch_id,
    )


def _collapsed(
    spark: SparkSession, out_dir: str | Path
) -> "tuple[DataFrame, list, int] | None":
    """The reports' shared preamble: None before the first batch, else
    (resolved bottom-k frame, group_cols, k) from the store and its
    pinned params — the store-layout contract exists exactly once
    (self-review r16)."""
    odir = Path(out_dir)
    hashes = read_store(spark, odir / "hashes")
    if hashes is None:
        return None
    params = _params(odir)
    gcs = list(params.get("group_cols") or ())
    k = int(params["k"])
    return _bottom_k(hashes, k, gcs), gcs, k


def kmv_report(spark: SparkSession, out_dir: str | Path) -> DataFrame | None:
    """(group..., n_hashes, kth, est) over everything folded — identical
    arithmetic to the batch estimator on the collapsed union. None
    before the first batch."""
    got = _collapsed(spark, out_dir)
    if got is None:
        return None
    bottom, gcs, k = got
    return kmv_estimate(bottom, k, group_cols=gcs or None)


def kmv_setops_report(
    spark: SparkSession, out_dir: str | Path
) -> DataFrame | None:
    """Pairwise union/intersection/difference cardinality estimates
    between the maintained per-group sketches
    (``operators/sketches.kmv_pairwise_setops`` over the collapsed
    store) — the full KMV set-operation surface served off maintained
    state, same arithmetic as the batch form (r16). Requires a store
    grouped by exactly one column (the pairing key). None before the
    first batch."""
    got = _collapsed(spark, out_dir)
    if got is None:
        return None
    bottom, gcs, k = got
    if len(gcs) != 1:
        raise ValueError(
            "kmv_setops_report needs a single-group-column store (the "
            f"pairing key); this store is grouped by {gcs!r}"
        )
    return kmv_pairwise_setops(bottom, gcs[0], k=k)


def _collapse(odir: Path):
    """Fold-time collapse to the resolved bottom-k per group, under the
    store's PINNED (k, group_cols) — read when a fold runs, after
    ``fold_batch`` has pinned them — so the compacted store holds at
    most k rows per group."""

    def collapse(df: DataFrame) -> DataFrame:
        params = _params(odir)
        return _bottom_k(df, int(params["k"]), list(params.get("group_cols") or ()))

    return collapse


VIEW = View(fold=fold_batch, stores={"hashes": None}, transforms={"hashes": _collapse})
