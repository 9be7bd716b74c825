"""Stateless filter gate — predicate screening with an audit trail, as a
stream stage.

The simplest member of the gate family (``decontam_stream``,
``dedup_stream``, ``near_dedup_stream``): a pure row predicate splits
each arriving micro-batch into admitted rows (``docs/``) and diverted
rows (``rejected/`` — stored verbatim so the rejection is auditable and
reversible, the same evidence discipline as the decontamination log).
No history, no index, no shuffle beyond the scan: the predicate is a
Catalyst expression evaluated in the same map pass that reads the batch,
so per-batch cost is exactly one O(batch) scan per store write.

The canonical predicate is :func:`gopher_keep` — the Gopher rule family
(Rae et al. 2021): token-count bounds, mean-token-length bounds, and the
most-frequent-token repetition cap, all codegen'd array expressions (the
same family the registered ``quality_gopher_filter`` query reports on).
Any Boolean ``Column`` over the row works.

Exactly-once follows the family recipe: increments keyed by micro-batch
id (tmp + atomic rename, idempotent overwrite), ``docs`` before
``rejected``, replay guard skips batches folded into both, and the
verdict is a pure function of the batch. ``fold_batch`` composes into
``corpus_pipeline_stream`` as the quality stage — cheapest screen first,
so later (stateful) gates never pay for rows a pure predicate would have
dropped.
"""

from __future__ import annotations

from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from ..batchstore import (
    View,
    account_empty_fold,
    admit_batch,
    append_batch_increment,
    read_store,
)
from ..functions.textfn import top_token_fraction
from ..session import pinned

def gopher_keep(
    text_col: str,
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    max_top_fraction: float = 0.12,
) -> Column:
    """The Gopher quality rule family as one Boolean Column (defaults per
    Rae et al. 2021; the registered ``quality_gopher_filter`` query uses
    tighter bounds fitted to the synthetic corpus)."""
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    mean_len = F.length(F.array_join(toks, "")).cast("double") / n
    return (
        n.between(min_tokens, max_tokens)
        & (mean_len >= min_mean_len)
        & (mean_len <= max_mean_len)
        & (top_token_fraction(toks) <= max_top_fraction)
    )


def current_admitted_docs(
    spark: SparkSession, out_dir: str | Path
) -> DataFrame | None:
    """Rows the gate admitted so far, or None before the first batch."""
    docs = read_store(spark, Path(out_dir) / "docs")
    return None if docs is None else docs.drop("ingest_batch")


def rejected_log(spark: SparkSession, out_dir: str | Path) -> DataFrame | None:
    """Diverted rows, verbatim, or None if nothing was ever rejected."""
    rejected = read_store(spark, Path(out_dir) / "rejected")
    return None if rejected is None else rejected.drop("ingest_batch")


def fold_batch(
    spark: SparkSession,
    out_dir: str | Path,
    batch_df: DataFrame,
    batch_id: int,
    keep_expr: Column,
) -> DataFrame | None:
    """Screen ONE micro-batch with ``keep_expr``. Returns the admitted
    rows read back from the just-written increment, or None for an empty
    batch. Idempotent: an already-folded batch returns its stored
    increment."""
    odir = Path(out_dir)
    docs_store = odir / "docs"
    rej_store = odir / "rejected"
    if not admit_batch(odir, batch_id, docs_store, rej_store):
        return read_store(spark, docs_store, batch_id)
    with pinned() as pin:
        batch = pin(batch_df)
        if not batch.take(1):
            # empty micro-batch: sentinel accounting keeps the id
            # sequence gap-free for the sequential guard (r18)
            account_empty_fold((docs_store, rej_store), batch_id)
            return None
        # docs BEFORE rejected (replay-guard ordering). Either side may
        # be empty; an empty increment leaves only its sentinel
        # (append_batch_increment) and a replayed fold recomputes the
        # same split.
        append_batch_increment(batch.filter(keep_expr), docs_store, batch_id)
        append_batch_increment(
            batch.filter(~F.coalesce(keep_expr, F.lit(False))), rej_store, batch_id
        )
    return read_store(spark, docs_store, batch_id)


VIEW = View(fold=fold_batch, stores={"docs": None, "rejected": None})
