"""Incremental exact-dedup against history — the streaming face of
``operators/dedup.exact_duplicates``.

A training-data pipeline at 100 TB ingests continuously, and exact dedup
must not re-scan the corpus per arrival: only NOVEL documents (first
occurrence of a normalized-text fingerprint, ever) may flow downstream.
This stream maintains two structures under ``out_dir``:

- ``docs/`` — the novel-document store: exactly one row per distinct
  fingerprint ever seen, the first-arrival winner (earliest micro-batch,
  then smallest id — deterministic under replay). Downstream consumers
  read this instead of the raw corpus.
- ``fp_index/`` — the against-history membership index: one
  ``(fp, fp_prefix)`` row per distinct fingerprint, partitioned by
  ``fp_prefix = pmod(xxhash64(fp), n_prefix)``. Hash-only, so it is
  orders of magnitude smaller than the corpus (a 100 TB corpus of ~1e11
  docs is a few TB of fingerprints).

Per-micro-batch cost is O(batch) + O(touched-prefix slice of the index),
never O(corpus), and each half is structural:

- the batch folds to one winner per fp (one batch-sized shuffle);
- the membership probe scans the index pruned to the batch's touched
  prefixes — a driver-side literal ``isin`` that lands in
  ``PartitionFilters`` (planning-time pruning; untouched prefixes' files
  are never listed) — and joins it against the BROADCAST batch
  fingerprint set (semi join, build side = batch), so the index is
  never shuffled (pinned by
  ``test_dedup_stream_probe_pruned_and_never_shuffles_index``);
- appends are pure: one new ``ingest_batch=B`` dir per store per batch
  (tmp + atomic rename), nothing existing is read back or rewritten.

Exactly-once without a transactional sink, the repo's standard recipe:
both stores key their increment dirs by micro-batch id, ``docs`` is
written before ``fp_index``, and the replay guard skips a batch only
when it is folded into BOTH stores (min across stores, mirroring
``index_stream``'s bounds rule) — a crash between the two writes
replays into an index that does not yet contain the batch, so the novel
set recomputes identically and the docs dir is overwritten with the
same content. A fresh-checkpoint renumbered replay lands at-or-below
the guard and is skipped, so nothing duplicates.

Directory growth is bounded the same way as every micro-batch store
here: ``batchstore.compact_view(spark, VIEW, out_dir)`` folds both
stores' live batches into one consolidated partition (``batchstore``
crash-safe marker protocol, offline — run while the stream is
stopped).

Near-dup (MinHash/SimHash) streaming maintenance composes on top: feed
``docs/`` (already exact-deduped) into the batch LSH operators, or the
persisted-index increments of ``index_stream`` for the embedding path.
"""

from __future__ import annotations

from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..batchstore import (
    View,
    account_empty_fold,
    admit_batch,
    append_batch_increment,
    read_batch_store,
    read_store,
)
from ..functions.textfn import normalized_fingerprint
from ..session import pinned


def _prefix_of(fp_col, n_prefix: int):
    from ..batchstore import prefix_bucket

    return prefix_bucket(fp_col, n_prefix)


def history_fps(
    spark: SparkSession, out_dir: str | Path, touched_prefixes: list[int]
) -> DataFrame:
    """Fingerprints ever seen in the given prefix partitions — a
    partition-pruned scan of the membership index. ``touched_prefixes``
    is a driver-side literal, so the ``isin`` is a static partition
    filter (untouched prefixes never listed). Goes through
    ``batchstore.read_batch_store`` so a consolidated index serves the
    identical view."""
    index = read_batch_store(spark, Path(out_dir) / "fp_index")
    return _touched_fps(index, touched_prefixes)


def _touched_fps(index: DataFrame, touched_prefixes: list[int]) -> DataFrame:
    return index.filter(
        F.col("fp_prefix").isin([int(p) for p in touched_prefixes])
    ).select("fp")


def current_novel_docs(spark: SparkSession, out_dir: str | Path) -> DataFrame | None:
    """The maintained novel-document table (one row per distinct
    fingerprint, first-arrival winner), or None before the first batch."""
    docs = read_store(spark, Path(out_dir) / "docs")
    return None if docs is None else docs.drop("ingest_batch")


def fold_batch(
    spark: SparkSession,
    out_dir: str | Path,
    batch_df: DataFrame,
    batch_id: int,
    id_col: str,
    text_col: str,
    n_prefix: int = 256,
) -> DataFrame | None:
    """Fold ONE micro-batch through against-history exact dedup — the
    per-batch core, exposed so ``corpus_pipeline_stream`` can chain it
    with the other gates inside a single ``foreachBatch``.

    Returns this batch's ADMITTED (novel) rows read back from the
    just-written increment dir — the downstream stage's input — or None
    when nothing was admitted. Idempotent: a batch already folded into
    both stores returns its stored increment without re-folding (the
    crash-mid-pipeline replay path: an earlier gate skips, later gates
    still get its output)."""
    odir = Path(out_dir)
    docs_store = odir / "docs"
    fp_store = odir / "fp_index"
    # Folded into BOTH stores ⇒ replay is a no-op (min across the two,
    # so a crash between the docs and fp_index writes refolds the
    # batch into the index). n_prefix is baked into every fp_index
    # partition ever written; a restart with a different value would
    # probe the wrong partitions and re-admit every duplicate — the
    # params pin refuses it loudly instead.
    if not admit_batch(
        odir, batch_id, docs_store, fp_store, params={"n_prefix": int(n_prefix)}
    ):
        return read_store(spark, docs_store, batch_id)

    with_fp = batch_df.withColumn("fp", normalized_fingerprint(F.col(text_col)))
    # Intra-batch winner per fingerprint: smallest id — deterministic,
    # so a crash-replay recomputes the identical novel set. One
    # batch-sized shuffle.
    w = Window.partitionBy("fp").orderBy(F.col(id_col))
    with pinned() as pin:
        # reused by the touched collect, the probe, both appends
        winners = pin(
            with_fp.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        # Driver-side touched-prefix literal (bounded by n_prefix): the
        # membership probe below prunes the index to these partitions at
        # planning time.
        touched = sorted(
            r["p"]
            for r in winners.select(_prefix_of(F.col("fp"), n_prefix).alias("p"))
            .distinct()
            .collect()
        )
        if not touched:
            # Empty micro-batch: nothing novel by construction — sentinel
            # accounting keeps the id sequence gap-free (r18): an upstream
            # gate dropping a whole batch must not make this store look
            # like a foreign checkpoint.
            account_empty_fold((docs_store, fp_store), batch_id)
            return None
        batch_fps = winners.select("fp")
        index = read_store(spark, fp_store)
        if index is not None:
            # Which batch fps exist in history: prefix-pruned index scan,
            # semi-joined against the BROADCAST batch set — the index is
            # streamed map-side, never shuffled, never rewritten.
            hits = _touched_fps(index, touched).join(
                F.broadcast(batch_fps), "fp", "left_semi"
            )
            novel = pin(winners.join(F.broadcast(hits), "fp", "left_anti"))
        else:
            novel = winners
        # docs BEFORE fp_index (see module docstring's crash argument).
        # BOTH stores are recorded even for an all-duplicate batch (the
        # helper leaves an empty-fold sentinel instead of a data dir), so
        # the min-across-stores guard advances and a fresh-checkpoint
        # renumbered replay skips the batch instead of overwriting
        # committed increments with different content. The contract value
        # stays None when nothing was admitted, so the composed pipeline
        # short-circuits instead of running later gates on zero rows.
        admitted = append_batch_increment(novel, docs_store, batch_id)
        append_batch_increment(
            novel.select(
                "fp", _prefix_of(F.col("fp"), n_prefix).alias("fp_prefix")
            ),
            fp_store,
            batch_id,
            partition_by="fp_prefix",
        )
    if not admitted:
        return None
    return read_store(spark, docs_store, batch_id)


VIEW = View(fold=fold_batch, stores={"docs": None, "fp_index": ["fp_prefix"]})
