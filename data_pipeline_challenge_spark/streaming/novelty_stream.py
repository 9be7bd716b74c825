"""Novelty gate — boilerplate-share-against-history screening, as a
stream stage.

The at-ingest face of the batch ``boilerplate_share_top20`` score: a doc
whose DISTINCT n-token shingles have mostly been seen before is template
re-flow (syndicated boilerplate, mirrored pages with fresh filler), a
class exact dedup misses (the doc differs somewhere) and MinHash
near-dedup under-weights (the template is diluted). The gate scores each
arriving doc as ``n_seen / n_shingles`` over the maintained seen-shingle
set and diverts docs at-or-above ``max_share``; short docs (< n tokens,
zero shingles) pass with share 0.0 — bounding short docs is the quality
gate's job, not this one's.

Semantics are AGAINST-HISTORY, the dedup_stream precedent: a doc is
scored against the shingles of everything that arrived in PRIOR batches
(admitted or diverted — a template is boilerplate regardless of what
happened to its first carrier), and the batch's own shingles fold in
AFTER scoring, so intra-batch copies of a fresh template all score alike
and the verdict for a given arrival order is deterministic. As with the
dedup gates, the arrival order IS part of the declared semantics.

Scale shape: the seen-shingle store is PARTITIONED by a shingle hash
bucket; the batch joins against history pruned to its own buckets
(driver-side literal ⇒ planning-time pruning), so per-batch cost is
O(batch shingles + matched buckets), never O(history). Shingles are
md5'd (fixed shuffle width); state is O(distinct shingles ever), the
same asymptotic as the exact-dedup fingerprint index.

Exactly-once follows the family recipe: ``docs``/``rejected`` increments
first, the seen-shingle append LAST — its last batch id is the commit
point; a replay below it returns the stored increment, a crash between
the writes replays against UNCHANGED history into the same overwritten
dirs.
"""

from __future__ import annotations

from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..batchstore import (
    View,
    account_empty_fold,
    admit_batch,
    append_batch_increment,
    prefix_bucket,
    read_store,
)
from ..session import pinned

_N_BUCKETS = 64


def fold_batch(
    spark: SparkSession,
    out_dir: str | Path,
    batch_df: DataFrame,
    batch_id: int,
    id_col: str,
    text_col: str,
    shingle_n: int = 8,
    max_share: float = 0.8,
) -> DataFrame | None:
    """Screen ONE micro-batch against the seen-shingle history. Returns
    the admitted rows (with ``n_shingles``/``n_seen``/``novelty_share``
    columns) read back from the just-written increment, or None for an
    empty batch. Idempotent: an already-committed batch returns its
    stored increment."""
    from ..functions.textfn import doc_shingles

    reserved = {"n_shingles", "n_seen", "novelty_share", "_nid"}
    clash = reserved & set(batch_df.columns)
    if clash:
        raise ValueError(
            f"input column(s) {sorted(clash)} collide with the novelty "
            "gate's score columns — rename them before the gate"
        )
    odir = Path(out_dir)
    docs_store = odir / "docs"
    sh_store = odir / "shingles"
    params = {
        "kind": "novelty_gate",
        "id_col": id_col,
        "text_col": text_col,
        "shingle_n": int(shingle_n),
        "max_share": float(max_share),
        "n_buckets": _N_BUCKETS,
    }
    if not admit_batch(odir, batch_id, sh_store, params=params):
        return read_store(spark, docs_store, batch_id)

    with pinned() as pin:
        batch = pin(batch_df)
        if not batch.take(1):
            # empty micro-batch: sentinel accounting keeps the id
            # sequence gap-free for the sequential guard (r18)
            account_empty_fold((docs_store, sh_store), batch_id)
            return None
        # ids key the score join: a NULL id would never match it (the
        # doc would be admitted at share 0.0 while its shingles still
        # fold into history) — refuse loudly. Uniqueness is the funnel
        # family's standing contract (retrieval_stream header): two
        # rows sharing an id would get one merged distinct-shingle
        # score here, so run behind exact dedup, as the funnel does.
        if batch.filter(F.col(id_col).isNull()).take(1):
            raise ValueError(
                f"novelty gate requires non-null {id_col!r}: a null id "
                "cannot be scored (it would silently bypass the gate)"
            )
        sh = pin(doc_shingles(
            batch.select(
                F.col(id_col).alias("_nid"), F.col(text_col).alias("text")
            ),
            shingle_n,
            "_nid",
        ).withColumn("bucket", prefix_bucket(F.col("s"), _N_BUCKETS)))
        buckets = sorted(
            r["bucket"] for r in sh.select("bucket").distinct().collect()
        )
        hist = read_store(spark, sh_store) if buckets else None
        if hist is not None:
            # pinned: the matched-bucket slice feeds both the score join
            # and the new-shingle anti-join below — one history scan per
            # batch, not two (the dedup_stream discipline)
            hist = pin(
                hist.filter(F.col("bucket").isin(buckets))  # pruned
                .select("bucket", "s")
            )
        flagged = (
            sh
            if hist is None
            else sh.join(
                hist.withColumn("_seen", F.lit(1)).distinct(),
                ["bucket", "s"],
                "left",
            )
        )
        if hist is None:
            flagged = flagged.withColumn("_seen", F.lit(None).cast("int"))
        scores = flagged.groupBy("_nid").agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.coalesce(F.sum("_seen"), F.lit(0)).cast("long").alias("n_seen"),
        )
        raw_share = F.coalesce(
            F.col("n_seen").cast("double") / F.col("n_shingles").cast("double"),
            F.lit(0.0),  # zero-shingle docs are novel
        )
        # the verdict compares the RAW ratio — rounding first would
        # misclassify shares within half an ulp-of-round(6) of the
        # threshold; the stored evidence column is rounded for the
        # usual cross-engine display stability
        scored = pin(  # feeds BOTH appends: score once, not twice
            batch.join(scores.withColumnRenamed("_nid", id_col), id_col, "left")
            .select(
                "*",
                (raw_share < float(max_share)).alias("_keep"),
                F.round(raw_share, 6).alias("novelty_share"),
            )
            .withColumn("n_shingles", F.coalesce("n_shingles", F.lit(0).cast("long")))
            .withColumn("n_seen", F.coalesce("n_seen", F.lit(0).cast("long")))
        )
        # docs and rejected first; the seen-shingle append below is the
        # commit point the replay guard keys on
        append_batch_increment(
            scored.filter(F.col("_keep")).drop("_keep"), docs_store, batch_id
        )
        append_batch_increment(
            scored.filter(~F.col("_keep")).drop("_keep"), odir / "rejected", batch_id
        )
        new_sh = (
            sh.select("bucket", "s").distinct()
            if hist is None
            else sh.select("bucket", "s")
            .distinct()
            .join(hist, ["bucket", "s"], "left_anti")
        )
        append_batch_increment(new_sh, sh_store, batch_id, partition_by="bucket")
    return read_store(spark, docs_store, batch_id)


def current_admitted_docs(
    spark: SparkSession, out_dir: str | Path
) -> DataFrame | None:
    """Rows the gate admitted so far (with their scores), or None before
    the first non-empty batch."""
    docs = read_store(spark, Path(out_dir) / "docs")
    return None if docs is None else docs.drop("ingest_batch")


def rejected_log(spark: SparkSession, out_dir: str | Path) -> DataFrame | None:
    """Diverted rows with the score evidence, or None if nothing was
    ever diverted."""
    rejected = read_store(spark, Path(out_dir) / "rejected")
    return None if rejected is None else rejected.drop("ingest_batch")


# Offline, the doc stores are bounded at the seen-shingle commit frontier,
# so a crash-window orphan increment cannot be folded past the replay
# guard's reach (the retrieval index's discipline).
VIEW = View(
    fold=fold_batch,
    stores={"docs": None, "rejected": None, "shingles": ["bucket"]},
    frontier="shingles",
)
