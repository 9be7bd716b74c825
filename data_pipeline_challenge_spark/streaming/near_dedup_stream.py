"""Incremental NEAR-dedup (MinHash + LSH) against history — the
probabilistic sibling of ``dedup_stream``.

Maintains a near-duplicate-free corpus under continuous ingestion: a new
document is KEPT iff (a) it survives intra-batch near-dedup (the batch
LSH pipeline: ``minhash_lsh_pairs`` → connected components → min-id
survivor per cluster) and (b) it has no verified near-duplicate
(exact Jaccard ≥ ``min_jaccard``) among previously-KEPT documents. This
is the production corpus-maintenance semantic — dedup against the
retained set, greedy first-arrival-wins — deliberately NOT a global
transitive re-clustering of all history per batch (which would be
O(corpus); offline re-clustering stays the batch operators' job).

Stores under ``out_dir``:

- ``docs/`` — kept documents (id, text, ``doc_prefix`` partition column:
  ``pmod(xxhash64(id), n_prefix)``), so the verification step's
  candidate fetch is a partition-pruned keyed read;
- ``band_index/`` — one (band, bh, doc) row per kept doc per LSH band,
  partitioned by ``bh_prefix = pmod(xxhash64(band, bh), n_prefix)`` —
  the against-history candidate probe;
- ``pairs/`` (r17) — every VERIFIED near-dup pair the batch produced
  (intra-batch and against-history), with its exact jaccard: the
  gate's evidence trail, and the edge feed for the composed maintained
  dup-cluster view (below).

Composition (VERDICT r16 #1): pass ``components_out_dir`` and each
micro-batch CHAINS the verified pairs into
``components_stream.fold_batch`` — the corpus pipeline's chained-fold
discipline, one ``foreachBatch``, per-store idempotence — so
``components_stream.current_components`` over that store IS the
maintained duplicate-cluster view of the live dedup pipeline, with
zero user plumbing: labels equal batch ``connected_components`` over
the gate's full verified-pair history (pinned, incl. restart and
fresh-checkpoint replay). Requires integer-castable doc ids (the
component store's vertex domain). The chain runs even for batches with
no verified pairs (the component store's replay guard and sequential-
numbering check both need every batch id accounted for).

Per-batch cost is O(batch + collision candidates), never O(corpus):

- signatures/bands for the batch: one shingle pass (the shared
  ``banded_minhash_tables``, bit-identical to the batch operator);
- the probe scans the band index pruned to the batch's touched bucket
  prefixes (driver-literal ``isin`` → ``PartitionFilters``) and
  semi-joins it against the BROADCAST batch bucket set — the index is
  never shuffled;
- per-bucket candidate fan-out is capped (``bucket_cap``, smallest doc
  ids win — deterministic): history holds only KEPT docs, so buckets
  cannot crowd with exact duplicates, but a family of just-distinct
  near-misses could still accrete; the cap bounds the verify join at
  the standard LSH recall trade-off and is recorded honestly here
  rather than hidden;
- verification fetches ONLY candidate old docs (prefix-pruned +
  broadcast-semi keyed read of ``docs/``), re-shingles that bounded
  slice, and runs the shared candidate-restricted exact-Jaccard join
  (``verify_candidate_pairs``).

Exactly-once follows ``dedup_stream``'s recipe: the stores key
increment dirs by micro-batch id (tmp + atomic rename, idempotent
overwrite), the write order is ``docs`` → ``pairs`` → ``band_index``,
and the replay guard skips only batches folded into both docs AND
band_index — a crash anywhere earlier replays against an index without
the batch, recomputing the identical kept set and the identical pairs
(all winner rules are deterministic, and every in-fold probe reads a
band index that cannot yet contain the batch). ``pairs`` sits BEFORE
``band_index`` deliberately: once the batch's bands are in the index,
a recomputation would collide the batch against itself and derive
different pairs — so pairs must be final by then. A crash after all
three writes but before the chained components fold is covered by the
component store's own replay guard (the chain re-reads the committed
pairs increment). Offline consolidation (``batchstore.compact_view``)
reuses the batchstore marker protocol.

Short documents (fewer than ``n`` tokens) have no shingles, hence no
signature or bands: they are always kept and never candidates — the
same blind spot as the batch operator, inherent to shingle sketches.
"""

from __future__ import annotations

from dataclasses import replace
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..batchstore import (
    View,
    admit_batch,
    append_batch_increment,
    has_data,
    last_batch_id,
    read_batch_store,
    read_store,
    start_view,
)
from ..operators.dedup import banded_minhash_tables, verify_candidate_pairs
from ..operators.graph import connected_components
from ..session import local_frame, pinned


def _prefix(col, n_prefix: int):
    from ..batchstore import prefix_bucket

    return prefix_bucket(col, n_prefix)


def _band_prefix(band_col, bh_col, n_prefix: int):
    from ..batchstore import prefix_bucket

    return prefix_bucket(band_col, n_prefix, bh_col)


def current_kept_docs(spark: SparkSession, out_dir: str | Path) -> DataFrame | None:
    """The maintained near-duplicate-free document table MINUS any
    retroactive revocations (funnel eval-generation upgrades write a
    ``revoked`` store here — see
    ``corpus_pipeline_stream.revoke_corpus_eval_generation``), or None
    before the first batch. Revocations are benchmark-contamination-
    sized, so the anti-join broadcasts. The docs/band stores themselves
    are never rewritten: a revoked doc's signature intentionally stays
    in the band index, so near-duplicates of revoked content are still
    recognized instead of being re-admitted."""
    docs = read_store(spark, Path(out_dir) / "docs")
    if docs is None:
        return None
    docs = docs.drop("ingest_batch")
    rev_store = Path(out_dir) / "revoked"
    rev = read_store(spark, rev_store)
    if rev is not None:
        from .decontam_stream import _revocation_key

        rev = rev.drop("ingest_batch")
        key = _revocation_key(rev, rev_store, docs.columns)
        docs = docs.join(
            F.broadcast(rev.select(*key).distinct()), on=key, how="left_anti"
        )
    return docs


def history_buckets(
    spark: SparkSession, out_dir: str | Path, touched_prefixes: list[int]
) -> DataFrame:
    """(band, bh, doc) rows of kept docs in the touched bucket-prefix
    partitions — planning-time pruned (the literal ``isin`` lands in
    ``PartitionFilters``)."""
    store = Path(out_dir) / "band_index"
    return (
        read_batch_store(spark, store)
        .filter(F.col("bh_prefix").isin([int(p) for p in touched_prefixes]))
        .select("band", "bh", "doc")
    )


def fold_batch(
    spark: SparkSession,
    out_dir: str | Path,
    batch_df: DataFrame,
    batch_id: int,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    min_jaccard: float = 0.8,
    n_prefix: int = 256,
    bucket_cap: int = 64,
    components_out_dir: str | Path | None = None,
    components_n_prefix: int = 256,
) -> DataFrame | None:
    """Fold ONE micro-batch through against-history near-dedup — the
    per-batch core, exposed so ``corpus_pipeline_stream`` can chain the
    gates inside a single ``foreachBatch``. Returns this batch's KEPT
    rows read back from the just-written increment dir (the downstream
    stage's input), or None when everything was a duplicate. Idempotent:
    an already-folded batch returns its stored increment without
    re-folding.

    ``components_out_dir`` (VERDICT r16 #1) chains this batch's verified
    near-dup pairs into the maintained component store
    (``components_stream.fold_batch``, same batch id) so cluster labels
    stay current with zero user plumbing; requires integer-castable doc
    ids. The chain reads the COMMITTED pairs increment (never the
    in-flight plan), so a replay after any crash point feeds the
    component fold the identical edges."""
    odir = Path(out_dir)
    docs_store = odir / "docs"
    band_store = odir / "band_index"
    pairs_store = odir / "pairs"

    def _chain_components() -> None:
        # Chained fold (corpus_pipeline_stream discipline): feed the
        # COMMITTED pairs increment into the maintained component store
        # under the same batch id. Reading the store (not the in-flight
        # plan) makes the chain replay-exact at every crash point, and
        # running it even for pair-less batches keeps the component
        # store's id sequence gap-free (its numbering guard and replay
        # guard both account every batch).
        if components_out_dir is None:
            return
        from .components_stream import fold_batch as _components_fold

        edges = read_store(spark, pairs_store, batch_id)
        edges = (
            local_frame(spark, [], "doc1 long, doc2 long")
            if edges is None
            else edges.select("doc1", "doc2")
        )
        _components_fold(
            spark,
            components_out_dir,
            edges,
            batch_id,
            src="doc1",
            dst="doc2",
            n_prefix=components_n_prefix,
        )

    # The shingle width, signature shape, and prefix modulus are baked
    # into every band-index row and partition ever written; a restart
    # with different values computes incomparable band hashes / probes
    # the wrong partitions — refuse loudly. min_jaccard and bucket_cap
    # are POLICY (tunable per restart): they change verdicts, not the
    # stored layout.
    params = {
        "n": int(n),
        "num_hashes": int(num_hashes),
        "bands": int(bands),
        "n_prefix": int(n_prefix),
    }
    if not admit_batch(odir, batch_id, docs_store, band_store, params=params):
        _chain_components()
        return read_store(spark, docs_store, batch_id)
    # Full rows ride through to the docs store (the kept corpus must not
    # lose metadata columns); the signature tables work on the (id, text)
    # projection only.
    with pinned() as pin:
        batch_full = pin(batch_df)
        batch = batch_full.select(id_col, text_col)
        sh_new, per_new, banded_new = banded_minhash_tables(
            batch, id_col, text_col, n=n, num_hashes=num_hashes, bands=bands
        )
        per_new = pin(per_new)
        # The exploded shingle table is re-read by BOTH sides of the
        # intra verify and again by the cross verify's new side — five
        # shingle explodes of the same micro-batch without this pin.
        # Unlike the batch operators (where sh is corpus-sized and
        # deliberately uncached), here it is bounded by the MICRO-BATCH,
        # so caching it is O(batch) memory for a ~2x cut in the fold's
        # explode work (guide §5: cache only what is reused and bounded).
        sh_new = pin(sh_new)

        # (a) intra-batch near-dedup: self-join candidates → verified
        # pairs → connected components → min-id survivor per cluster.
        a, b = banded_new.alias("a"), banded_new.alias("b")
        intra_cand = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bh") == F.col("b.bh"))
                & (F.col("a.doc") < F.col("b.doc")),
            )
            .select(F.col("a.doc").alias("doc1"), F.col("b.doc").alias("doc2"))
            .distinct()
        )
        # reused: intra components AND the pairs evidence trail
        intra = pin(verify_candidate_pairs(
            intra_cand, sh_new, per_new, sh_new, per_new,
            num_hashes=num_hashes, min_jaccard=min_jaccard,
        ))
        comp = connected_components(
            intra.select(F.col("doc1").alias("src"), F.col("doc2").alias("dst"))
        )
        drop_intra = (
            comp.filter(F.col("vertex") != F.col("component"))
            .select(F.col("vertex").alias("doc"))
        )
        kept = batch_full.join(
            F.broadcast(drop_intra),
            batch_full[id_col] == drop_intra["doc"],
            "left_anti",
        )
        # reused: touched collect, bucket set, cross-cand, append
        kept_banded = pin(
            banded_new.join(F.broadcast(drop_intra), "doc", "left_anti")
        )

        # (b) against-history probe, only if an index exists.
        cross_verified = None
        if has_data(band_store):
            touched = sorted(
                r["p"]
                for r in kept_banded.select(
                    _band_prefix(F.col("band"), F.col("bh"), n_prefix).alias("p")
                )
                .distinct()
                .collect()
            )
            if touched:
                batch_buckets = kept_banded.select("band", "bh").distinct()
                hits = history_buckets(spark, odir, touched).join(
                    F.broadcast(batch_buckets), ["band", "bh"], "left_semi"
                )
                # Deterministic per-bucket candidate cap (smallest old
                # ids win) — bounds the verify join under bucket
                # crowding, with per-batch cap-pressure audit (a bucket
                # at the cap can hide a true near-dup's twin: the audit
                # is the operator's recall-loss signal).
                from ..batchstore import CapAudit, cap_per_bucket

                hits = cap_per_bucket(
                    hits, ["band", "bh"], "doc", bucket_cap,
                    audit=CapAudit(odir, "band_index", batch_id),
                )
                cross_cand = pin(
                    kept_banded.join(
                        F.broadcast(
                            hits.select(
                                "band", "bh", F.col("doc").alias("doc1")
                            )
                        ),
                        ["band", "bh"],
                    )
                    .select("doc1", F.col("doc").alias("doc2"))
                    .distinct()
                )
                old_ids = cross_cand.select(
                    F.col("doc1").alias(id_col)
                ).distinct()
                old_prefixes = sorted(
                    r["p"]
                    for r in old_ids.select(
                        _prefix(F.col(id_col), n_prefix).alias("p")
                    )
                    .distinct()
                    .collect()
                )
                old_docs = (
                    read_batch_store(spark, docs_store)
                    .filter(F.col("doc_prefix").isin(old_prefixes))
                    .join(F.broadcast(old_ids), id_col, "left_semi")
                    .select(id_col, text_col)
                )
                sh_old, per_old, _ = banded_minhash_tables(
                    old_docs, id_col, text_col,
                    n=n, num_hashes=num_hashes, bands=bands,
                )
                per_old = pin(per_old)
                # bounded by the candidate slice — same rationale as
                # the sh_new pin above
                sh_old = pin(sh_old)
                # reused: drop set AND the pairs evidence trail
                cross_verified = pin(verify_candidate_pairs(
                    cross_cand, sh_old, per_old, sh_new, per_new,
                    num_hashes=num_hashes, min_jaccard=min_jaccard,
                ))
                matched = cross_verified.select(
                    F.col("doc2").alias("doc")
                ).distinct()
                kept = kept.join(
                    F.broadcast(matched),
                    kept[id_col] == matched["doc"],
                    "left_anti",
                )
                kept_banded = kept_banded.join(
                    F.broadcast(matched), "doc", "left_anti"
                )

        kept = kept.withColumn(
            "doc_prefix", _prefix(F.col(id_col), n_prefix)
        )
        # Re-delivery guard: an at-least-once upstream can re-land a doc
        # under its ORIGINAL id in a later batch. Shingled docs are
        # (mostly) caught by the jaccard probe, but a sub-shingle-width
        # doc has no bands and would re-admit, duplicating its id in the
        # kept store — so drop any kept id already present in history,
        # via the same prefix-pruned + broadcast-keyed read the probes
        # use (bounded by the batch's touched doc prefixes).
        if has_data(docs_store):
            kept_prefixes = sorted(
                r["p"]
                for r in kept.select(F.col("doc_prefix").alias("p"))
                .distinct()
                .collect()
            )
            if kept_prefixes:
                resent = (
                    read_batch_store(spark, docs_store)
                    # exclude THIS batch's own increment: a crash between
                    # the docs and band writes replays the batch with
                    # docs/ingest_batch=B already present, and matching
                    # against it would empty the kept set — the replay
                    # must recompute the identical admission instead
                    .filter(F.col("ingest_batch") != batch_id)
                    .filter(F.col("doc_prefix").isin(kept_prefixes))
                    .select(id_col)
                    .join(F.broadcast(kept.select(id_col)), id_col, "left_semi")
                )
                kept = kept.join(F.broadcast(resent), id_col, "left_anti")
                kept_banded = kept_banded.join(
                    F.broadcast(resent.select(F.col(id_col).alias("doc"))),
                    "doc",
                    "left_anti",
                )
        kept = pin(kept)
        # Materialize the non-docs outputs BEFORE any store write: the
        # banded rows' and the verified pairs' lineage reads docs_store
        # (the old-docs fetch), and an uncheckpointed plan would
        # re-execute that read during its own append — AFTER the docs
        # append just added this batch's own increment to the very store
        # it scans (read-after-write), on top of paying the whole probe
        # twice. The checkpoint cuts the lineage and pins the pre-write
        # view.
        kept_banded = pin.checkpoint(kept_banded)
        pairs_df = intra.select("doc1", "doc2", "jaccard")
        if cross_verified is not None:
            pairs_df = pairs_df.unionByName(
                cross_verified.select("doc1", "doc2", "jaccard")
            )
        pairs_df = pin.checkpoint(pairs_df)
        # docs BEFORE band_index (crash-replay argument above). BOTH
        # stores are recorded every batch — an empty side (all-duplicate
        # batch; kept-but-bandless batch of sub-shingle-width docs)
        # leaves an empty-fold sentinel instead of a data dir, so the
        # min-across-stores guard advances and a fresh-checkpoint
        # renumbered replay skips the batch instead of overwriting
        # committed increments with different content.
        admitted = append_batch_increment(
            kept, docs_store, batch_id, partition_by="doc_prefix"
        )
        # pairs AFTER docs, BEFORE band_index (module docstring): a
        # replay from any earlier crash recomputes identical pairs only
        # while the band index cannot yet contain the batch. Skip when a
        # crashed replay already wrote them (the pairs are final).
        if batch_id > last_batch_id(pairs_store):
            # the band index is written last, so it still holds the
            # gate's committed frontier before this batch
            committed = last_batch_id(band_store)
            if last_batch_id(pairs_store) < 0 and committed >= 0:
                # FIRST pair record on a gate that already committed
                # batches (a pre-pairs-store gate upgraded mid-life):
                # the trail can never cover those batches, so mark it
                # PARTIAL — the frontier check alone misses this once
                # the trail's latest id catches up (code-review r17)
                _mark_pairs_partial(pairs_store, committed)
            append_batch_increment(pairs_df, pairs_store, batch_id)
        append_batch_increment(
            kept_banded.select(
                "band",
                "bh",
                "doc",
                _band_prefix(F.col("band"), F.col("bh"), n_prefix).alias(
                    "bh_prefix"
                ),
            ),
            band_store,
            batch_id,
            partition_by="bh_prefix",
        )
        _chain_components()
    if not admitted:
        return None
    return read_store(spark, docs_store, batch_id)


_PAIRS_PARTIAL = "_pairs_partial.json"


def _mark_pairs_partial(pairs_store: Path, committed_before: int) -> None:
    """Record (atomically, once) that this gate's pair trail STARTS
    AFTER batches it already committed — written at the pairs store's
    first record when the gate has prior history, so downstream
    consumers (the cluster backfill) can refuse an unreconstructable
    history instead of trusting the trail's frontier."""
    import json
    import os

    pairs_store.mkdir(parents=True, exist_ok=True)
    marker = pairs_store / _PAIRS_PARTIAL
    if marker.exists():
        return
    tmp = pairs_store / (_PAIRS_PARTIAL + ".tmp")
    tmp.write_text(json.dumps({"missing_through": int(committed_before)}))
    os.replace(tmp, marker)


def last_committed_batch(checkpoint_dir: str | Path) -> int:
    """Newest batch id a streaming checkpoint COMMITTED (its
    ``commits/`` metadata log), -1 when none: distinguishes a derived
    store that is one batch behind because of a mid-batch crash (the
    replay heals it) from one the gate ran without (only a backfill
    heals that)."""
    d = Path(checkpoint_dir) / "commits"
    if not d.exists():
        return -1
    best = -1
    for p in d.iterdir():
        if p.name.isdigit():
            best = max(best, int(p.name))
    return best


def ensure_components_coverage(
    out_dir: str | Path,
    components_out_dir: str | Path,
    checkpoint_dir: str | Path,
    default_n_prefix: int = 256,
) -> int:
    """The composed dup-cluster view's LATENESS guard, shared by the
    funnel (``components=True``) and :func:`start_near_dedup_stream`
    (``components_out_dir=``) — before r18 only the funnel refused a
    late enable (ADVICE r17): a cluster store attached to a gate that
    already committed batches would accept its first fold at a high id
    (the brand-new-store allowance) and silently miss every earlier
    verified pair, violating the labels == connected_components-over-
    full-pair-history claim.

    Refuses unless the cluster store covers the gate's committed
    history (or sits exactly at the checkpoint's committed frontier —
    the mid-batch-crash window the replay heals). Returns the layout
    modulus the chained fold must use: a backfill-seeded store may
    carry a non-default pinned ``n_prefix``, and the fold must use the
    STORE's value, never a fresh literal (code-review r17)."""
    import json

    odir = Path(out_dir)
    cdir = Path(components_out_dir)
    near_last = min(
        last_batch_id(odir / "docs"), last_batch_id(odir / "band_index")
    )
    c_last = min(last_batch_id(cdir / "labels"), last_batch_id(cdir / "members"))
    if near_last >= 0 and (
        c_last < 0
        or (c_last < near_last and c_last != last_committed_batch(checkpoint_dir))
    ):
        raise RuntimeError(
            "components view enabled on a near-dedup gate that already "
            f"folded batches (kept store through {near_last}, cluster "
            f"store through {c_last}): the view would silently miss "
            "earlier verified pairs — seed it first with "
            "near_dedup_stream.backfill_dup_clusters (stream stopped; "
            "if the cluster store already has partial folded history, "
            "delete it first — it is purely derived and the pair "
            "history re-derives it in full)"
        )
    params = cdir / "_gate_params.json"
    if params.exists():
        return int(json.loads(params.read_text())["n_prefix"])
    return int(default_n_prefix)


def backfill_dup_clusters(
    spark: SparkSession,
    out_dir: str | Path,
    components_out_dir: str | Path,
    components_n_prefix: int = 256,
) -> None:
    """Seed the composed dup-cluster component store from THIS gate's
    committed verified-pair history — the enable-the-view-late step: a
    components store attached after the gate already folded batches
    would silently miss every earlier pair, so the funnel's enable
    guard refuses it until this backfill runs (stream stopped). Seeds
    with ``through = the gate's committed batch``, so the continuing
    checkpoint's next batch folds forward and renumbered replays of
    covered batches skip. Pairs from a crashed UNcommitted batch are
    excluded — its replay re-chains them through the fold."""
    odir = Path(out_dir)
    from .components_stream import backfill_components_store

    committed = min(
        last_batch_id(odir / "docs"), last_batch_id(odir / "band_index")
    )
    pairs_store = odir / "pairs"
    if committed >= 0 and (
        last_batch_id(pairs_store) < committed
        or (pairs_store / _PAIRS_PARTIAL).exists()
    ):
        # a gate that predates the pairs store cannot reconstruct its
        # verified-pair history (replays of committed batches are
        # guard-skips that never recompute pairs) — a silently partial
        # cluster view would be worse than the refusal. Two signals:
        # the trail's frontier lags the gate's committed batch, or the
        # partial marker written at the trail's late first record
        # (which the frontier check alone stops seeing once the trail
        # catches up — code-review r17)
        raise RuntimeError(
            f"near-dedup store at {odir} has committed batches through "
            f"{committed} but its pairs history stops at "
            f"{last_batch_id(pairs_store)}: the verified-pair trail "
            "doesn't cover the gate's history (store predates pair "
            "recording), so a backfilled cluster view would silently "
            "miss those pairs — re-ingest the corpus through a fresh "
            "gate to get the composed view"
        )
    edges = read_store(spark, pairs_store)
    edges = (
        local_frame(spark, [], "doc1 long, doc2 long")
        if edges is None
        else edges.filter(F.col("ingest_batch") <= committed).select("doc1", "doc2")
    )
    backfill_components_store(
        spark,
        components_out_dir,
        edges,
        through_batch=committed,
        src="doc1",
        dst="doc2",
        n_prefix=components_n_prefix,
    )


VIEW = View(
    fold=fold_batch,
    stores={
        "docs": ["doc_prefix"],
        "band_index": ["bh_prefix"],
        # Verified near-dup pairs per batch (append-only evidence trail
        # and the composed component view's edge feed).
        "pairs": None,
        # Retroactive eval-generation revocations (written only while the
        # stream is stopped; read as an anti-join by current_kept_docs).
        "revoked": None,
    },
)


def start_near_dedup_stream(
    spark: SparkSession,
    corpus_dir: str | Path,
    out_dir: str | Path,
    checkpoint_dir: str | Path,
    schema: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    min_jaccard: float = 0.8,
    n_prefix: int = 256,
    bucket_cap: int = 64,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    consolidate_every: int | None = 64,
    components_out_dir: str | Path | None = None,
    components_n_prefix: int = 256,
) -> StreamingQuery:
    """Stream corpus parquet files through against-history near-dedup.
    ``available_now=True`` drains what's landed and stops.
    ``consolidate_every=N`` folds the stores' batch dirs in-stream every
    N batches (no stop-the-stream window); ``None`` = offline-only.
    ``components_out_dir`` additionally maintains the duplicate-cluster
    component store off this stream's verified pairs (module docstring;
    consolidated on the same cadence) — enabling it on a gate that
    already committed batches is refused until
    :func:`backfill_dup_clusters` seeds the view (the funnel's
    lateness rule, shared via :func:`ensure_components_coverage`)."""
    odir = Path(out_dir)
    odir.mkdir(parents=True, exist_ok=True)
    view = VIEW
    if components_out_dir is not None:
        from . import components_stream

        components_n_prefix = ensure_components_coverage(
            odir, components_out_dir, checkpoint_dir,
            default_n_prefix=components_n_prefix,
        )
        # the in-stream hook maintains the chained component stores too
        view = replace(
            VIEW, chained=((Path(components_out_dir), components_stream.VIEW),)
        )

    return start_view(
        spark, view, corpus_dir, odir, checkpoint_dir, schema,
        max_files_per_trigger=max_files_per_trigger, available_now=available_now,
        consolidate_every=consolidate_every,
        id_col=id_col, text_col=text_col, n=n, num_hashes=num_hashes,
        bands=bands, min_jaccard=min_jaccard, n_prefix=n_prefix,
        bucket_cap=bucket_cap, components_out_dir=components_out_dir,
        components_n_prefix=components_n_prefix,
    )
