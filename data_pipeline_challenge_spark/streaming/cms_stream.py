"""Maintained Count-Min Sketch — the streaming twin of
``operators/sketches.cms_cells``/``cms_estimate``.

Each micro-batch folds its own depth x width cell table (at most
depth*width = 1024 rows per batch regardless of batch size) into a
``cells`` batch store. CMS cells ADD, so the maintained store IS the
sketch of everything folded, and estimates over it equal the batch
sketch over the concatenated input exactly
(``test_cms_stream_equals_batch``) — the mergeability that makes CMS
the right point-frequency structure for an always-on pipeline: state
is O(depth x width x batches-between-compactions), never O(terms).

Exactly-once follows quantile_stream's minimal protocol: one store, so
the ``append_batch_increment`` last-id replay guard is the whole
protocol (no summary file, no commit-point window).

Conservative update, considered and declined (VERDICT r14 #9): CU
(increment only the item's current-min cells) tightens point estimates
but is ORDER-DEPENDENT — ``cu(A) + cu(B) != cu(A ∪ B)`` and both differ
from the insertion-ordered stream — so folding CU per batch would break
the exact stream==batch equality ``test_cms_stream_equals_batch`` pins
(the property that makes the store trustworthy against its oracle), and
its accuracy benefit shrinks with batch size while WIDTH SIZING
(``operators/sketches.cms_sized_width``, pinned per store via the
params file) attacks the same overestimate mergeably. Callers who want
tighter maintained estimates pass a sized ``width`` at store creation.

Reference parity: no counterpart in the reference (838-LoC ETL, no
analytics surface); north-star extension of the sketch family beside
the exact Misra-Gries heavy hitters (operators/sketches.py).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

import pyspark.sql.functions as F

from ..batchstore import View, admit_batch, append_batch_increment, read_store
from ..operators.sketches import CMS_DEPTH, CMS_WIDTH, cms_cells, cms_estimate


def fold_batch(
    spark: SparkSession,
    out_dir: str | Path,
    batch_df: DataFrame,
    batch_id: int,
    item_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    group_cols: "list[str] | None" = None,
) -> None:
    """Fold ONE micro-batch's items into the sketch store (one sketch
    per group when ``group_cols`` is given — per-group cells add exactly
    like global ones). The increment is the batch's own cell table —
    bounded at groups x depth*width rows before it ever hits disk.
    Idempotent via the store's last-id guard. The (depth, width,
    group_cols) layout is pinned at store creation (cells from
    different geometries or groupings must never add)."""
    odir = Path(out_dir)
    params: dict = {"item_col": item_col, "depth": depth, "width": width}
    if group_cols:  # absent key keeps pre-grouped stores adoptable
        params["group_cols"] = list(group_cols)
    store = odir / "cells"
    if not admit_batch(odir, batch_id, store, params=params):
        return
    append_batch_increment(
        cms_cells(batch_df, item_col, depth, width, group_cols=group_cols),
        store,
        batch_id,
    )


def cms_report(
    spark: SparkSession,
    out_dir: str | Path,
    probes: DataFrame,
    item_col: str = "item",
) -> DataFrame | None:
    """Point-frequency estimates over everything folded so far: sum the
    store's per-batch cells on (d, bucket) — addition IS the merge — and
    probe with the shared batch estimator. None before the first batch.
    For a grouped store the probes frame must carry the pinned
    group columns (each (group, item) probed against ITS sketch).
    The sketch GEOMETRY and grouping are read from the store's pinned params (the
    (depth, width) fold_batch committed at creation) — a caller-supplied
    geometry that disagreed with the cells would silently hash probes
    into the wrong buckets and could under-estimate, breaking the
    one-sided est >= exact contract."""
    import json

    odir = Path(out_dir)
    cells = read_store(spark, odir / "cells")
    if cells is None:
        return None
    params = json.loads((odir / "_gate_params.json").read_text())
    gcs = list(params.get("group_cols") or ())
    cells = (
        cells.groupBy(*gcs, "d", "bucket")
        .agg(F.sum("n").alias("n"))
    )
    return cms_estimate(
        cells, probes, item_col, params["depth"], params["width"], group_cols=gcs or None
    )


# Consolidation bounds the cells store's directory count only: rows stay
# O(depth x width x batches) between compactions, and the report's
# (d, bucket) sum collapses duplicates.
VIEW = View(fold=fold_batch, stores={"cells": None})
