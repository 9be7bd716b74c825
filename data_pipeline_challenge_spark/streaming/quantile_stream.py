"""Maintained exact quantiles — the streaming twin of
``operators/profiling.exact_quantiles``.

Each micro-batch folds its value histogram (group-count by integer
value, O(distinct values) rows per batch) into a ``counts`` batch
store. Histograms ADD, so the maintained store IS the exact
distribution of everything folded — no sketch, no error bound, and the
report equals the batch operator over the concatenated input
(``test_quantile_stream_equals_batch``). State is O(distinct metric
values), which for the integer pipeline metrics this serves (token
counts, document lengths, bin fills) is small and bounded by the
metric's range, not the corpus.

Exactly-once is the simplest in the family: ONE store, so the
``append_batch_increment`` replay guard (skip batches at-or-below the
store's last id) is the whole protocol — there is no summary file and
therefore no commit-point window to read consistently across
(cf. heavy_stream, which needs its snapshot bounded at the summary's
batch id).

Reference parity: no counterpart in the reference (838-LoC ETL, no
analytics surface); north-star extension of the profiling family.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from ..batchstore import View, admit_batch, append_batch_increment, read_store


def fold_batch(
    spark: SparkSession,
    out_dir: str | Path,
    batch_df: DataFrame,
    batch_id: int,
    value_col: str,
    group_cols: list[str] | None = None,
) -> None:
    """Fold ONE micro-batch's value histogram (per ``group_cols`` when
    given — grouped histograms add exactly like global ones, so the
    grouped store stays the exact stratified distribution). Idempotent:
    a replayed batch is skipped by the store's last-id guard (its
    increment dir is already the committed content)."""
    odir = Path(out_dir)
    params: dict = {"value_col": value_col}
    if group_cols:  # absent key keeps pre-grouped warehouses adoptable
        params["group_cols"] = list(group_cols)
    store = odir / "counts"
    if not admit_batch(odir, batch_id, store, params=params):
        return
    from ..operators.profiling import grouped_value_histogram, value_histogram

    hist = (
        grouped_value_histogram(batch_df, list(group_cols), value_col)
        if group_cols
        else value_histogram(batch_df, value_col)
    )
    append_batch_increment(hist, store, batch_id)


def quantile_report(
    spark: SparkSession,
    out_dir: str | Path,
    fractions: list[tuple[int, int]],
    group_cols: list[str] | None = None,
) -> DataFrame | None:
    """EXACT quantiles of everything folded so far: the batch
    operator's shared core (``profiling.histogram_quantiles`` — ONE
    implementation of the integer pick rule, grouped or global) over
    the maintained histogram store. Pass the same ``group_cols`` the
    stream folds with. None before the first batch."""
    from ..operators.profiling import histogram_quantiles

    counts = read_store(spark, Path(out_dir) / "counts")
    if counts is None:
        return None
    gcs = list(group_cols or ())
    return histogram_quantiles(
        counts.select(*gcs, "v", "n"),
        fractions,
        group_cols=gcs or None,
    )


# Consolidation unions the increments' rows into one directory (duplicate
# values across increments stay separate rows — the report's groupBy(v)
# sums them): it bounds the per-batch DIRECTORY count, while the row count
# is O(distinct values x folded batches) between compactions.
VIEW = View(fold=fold_batch, stores={"counts": None})
