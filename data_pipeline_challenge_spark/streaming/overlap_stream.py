"""Incrementally-maintained cross-source overlap matrix — the streaming
IVM (incremental view maintenance) twin of the batch
``source_shingle_overlap`` query.

The batch query computes, for every source pair, the count of DISTINCT
8-token shingles both hold plus the Jaccard of their shingle sets. That
view is expensively non-monotonic to recompute (a corpus-wide shingle
self-join) but cheaply MAINTAINABLE: the matrix only changes when a
(source, shingle) membership pair is seen for the FIRST time, and each
such new pair adds exactly one shared-shingle count with every OTHER
source already holding (or newly gaining) that shingle. So a micro-batch
folds in three additive steps:

1. ``shingles/`` — the ever-seen DISTINCT (source, s) membership store,
   PARTITIONED by a shingle hash bucket. The batch's candidate pairs
   anti-join against history pruned to the batch's buckets (driver-side
   literal ⇒ planning-time partition pruning), yielding the batch's NEW
   membership pairs. Per-batch cost is O(batch shingles + matched
   buckets), never O(history).
2. ``pair_inc/`` — additive (s1, s2, d) increments: new-holder × distinct
   history holders of the same shingle, plus new × new pairs within the
   batch. Each shingle contributes at most (holders choose 2) pair rows
   over its LIFETIME — bounded by source count squared, not corpus size.
3. ``count_inc/`` — additive (source, d) per-source distinct-shingle set
   size increments.

``overlap_report`` sums the increments and computes Jaccard with the
batch query's exact arithmetic — equal to the batch view over the
concatenated input (``test_overlap_stream_equals_batch``).

Exactly-once: increments are written FIRST, the membership append LAST —
the membership store's last batch id is the commit point. A replayed
batch at-or-below it skips; a crash between the writes replays against
UNCHANGED history, recomputing byte-identical increments into the same
overwritten dirs. ``overlap_report`` bounds its increment scan at the
commit point (negative consolidated ids admitted — offline compaction
bounds itself at the frontier, as the retrieval index's does),
so a mid-crash report never sees an increment whose membership append
didn't land.

Reference parity: no counterpart in the reference (838-LoC ETL, no
analytics); north-star extension — the maintained corpus-health
dashboard entry for feed-syndication drift.
"""

from __future__ import annotations

from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..batchstore import (
    View,
    admit_batch,
    append_batch_increment,
    last_batch_id,
    prefix_bucket,
    read_batch_store,
    read_store,
)
from ..session import local_frame, pinned

_N_BUCKETS = 64


def fold_batch(
    spark: SparkSession,
    out_dir: str | Path,
    batch_df: DataFrame,
    batch_id: int,
    source_col: str,
    text_col: str,
    shingle_n: int = 8,
) -> None:
    """Fold ONE micro-batch into the maintained matrix. Idempotent: the
    membership store's last-id guard skips replays; a crash between the
    increment writes and the membership append replays to identical
    content (history is unchanged until the LAST write lands)."""
    from ..functions.textfn import doc_shingles

    odir = Path(out_dir)
    sh_store = odir / "shingles"
    params = {
        "kind": "source_overlap",
        "source_col": source_col,
        "text_col": text_col,
        "shingle_n": int(shingle_n),
        "n_buckets": _N_BUCKETS,
    }
    if not admit_batch(odir, batch_id, sh_store, params=params):
        return

    with pinned() as pin:
        batch_sh = pin(doc_shingles(
            batch_df.select(
                F.col(source_col).alias("source"), F.col(text_col).alias("text")
            ),
            shingle_n,
            "source",
        ).withColumn("bucket", prefix_bucket(F.col("s"), _N_BUCKETS)))
        buckets = sorted(
            r["bucket"] for r in batch_sh.select("bucket").distinct().collect()
        )
        if not buckets:  # empty batch: nothing to fold, guard stays behind
            return
        hist = read_store(spark, sh_store)
        if hist is not None:  # partition-pruned to the batch's buckets
            hist = hist.filter(F.col("bucket").isin(buckets)).drop("ingest_batch")
        new = pin(
            batch_sh
            if hist is None
            else batch_sh.join(hist, ["bucket", "s", "source"], "left_anti")
        )

        # new holder × distinct HISTORY holders of the same shingle …
        pairs = None
        if hist is not None:
            hist_holders = hist.join(
                new.select("bucket", "s").distinct(), ["bucket", "s"], "left_semi"
            ).select("s", F.col("source").alias("other"))
            pairs = (
                new.select("s", "source")
                .join(hist_holders, "s")
                .select(
                    F.least("source", "other").alias("s1"),
                    F.greatest("source", "other").alias("s2"),
                )
            )
        # … plus new × new pairs within the batch
        a = new.select("s", F.col("source").alias("sa"))
        b = new.select("s", F.col("source").alias("sb"))
        intra = (
            a.join(b, "s")
            .filter(F.col("sa") < F.col("sb"))
            .select(F.col("sa").alias("s1"), F.col("sb").alias("s2"))
        )
        pairs = intra if pairs is None else pairs.unionByName(intra)
        pair_inc = pairs.groupBy("s1", "s2").agg(
            F.count(F.lit(1)).alias("d")
        )
        count_inc = new.groupBy("source").agg(F.count(F.lit(1)).alias("d"))

        # increments FIRST, membership append LAST (the commit point)
        append_batch_increment(pair_inc, odir / "pair_inc", batch_id)
        append_batch_increment(count_inc, odir / "count_inc", batch_id)
        append_batch_increment(
            new.select("source", "s", "bucket"),
            sh_store,
            batch_id,
            partition_by="bucket",
        )


def overlap_report(spark: SparkSession, out_dir: str | Path) -> DataFrame | None:
    """The maintained matrix: per source pair, shared distinct shingles
    and Jaccard — the batch query's exact arithmetic over the summed
    increments, bounded at the membership store's commit point so a
    mid-crash window's orphan increments are invisible. None before the
    first committed batch."""
    from ..operators.overlap import jaccard_matrix

    odir = Path(out_dir)
    tid = last_batch_id(odir / "shingles")
    if tid < 0:
        return None
    pairs = read_store(spark, odir / "pair_inc")
    if pairs is None:
        # every committed batch's pair increment was empty (single-source
        # corpus, or no cross-source shared shingle yet): the matrix is
        # legitimately empty — the store holds only empty-batch sentinels
        return local_frame(
            spark, [], "s1 string, s2 string, n_shared bigint, jaccard double"
        )
    committed = (F.col("ingest_batch") <= tid) | (F.col("ingest_batch") < 0)
    pairs = pairs.filter(committed).groupBy("s1", "s2").agg(
        F.sum("d").alias("n_shared")
    )
    counts = (
        read_batch_store(spark, odir / "count_inc")
        .filter(committed)
        .groupBy("source")
        .agg(F.sum("d").alias("n"))
    )
    return jaccard_matrix(pairs, counts)


# Offline, the two increment stores are bounded at the membership store's
# commit frontier: folding an orphan increment (crash window: written but
# its membership append never landed) into a negative consolidated dir
# would smuggle it past the report's committed-snapshot filter (the
# retrieval index's discipline).
VIEW = View(
    fold=fold_batch,
    stores={"shingles": ["bucket"], "pair_inc": None, "count_inc": None},
    frontier="shingles",
)
