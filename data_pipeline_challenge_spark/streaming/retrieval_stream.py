"""Maintained lexical-retrieval index — the streaming twin of the batch
BM25 queries (``plans/corpus.bm25_top20``): corpus batches fold into an
incrementally-maintained inverted-stats index, and searches probe the
index without ever rescanning document text.

Per micro-batch, three folds:

- ``postings/`` — (term, doc_id, tf, dl), partitioned by a term hash
  bucket so a query lists and scans only the query terms' bucket
  leaves (``batchstore.read_store(..., partition=...)``; the ANN
  indexes prune the same column-per-dir way at planning time). ``dl``
  is DENORMALIZED into every posting at fold time
  (one extra long per row) so the serving plan needs NO corpus-keyed
  join at all — at 100 TB a probe touches only the query's buckets;
- ``doclen/`` — (doc_id, dl), the per-doc token count (kept normalized
  too: revocation looks lengths up here, and it is the one-row-per-doc
  membership view — zero-token docs get a dl=0 row so they stay
  revocable, ADVICE r12);
- ``totals/b{B}.json`` — running (n_docs, n_len_docs, sum_dl), derived
  from the PREDECESSOR's file plus this batch (pure function ⇒
  crash-replay re-derives the identical file, the heavy_stream/summary
  discipline). ``n_docs`` counts every row (the idf N, matching the
  batch query); ``avgdl = sum_dl / n_len_docs`` averages over docs with
  ≥1 token only — exactly the batch query's ``dl``-table average.

``bm25_search`` then computes Okapi BM25 (k1/b/idf exactly as the batch
queries) from the index alone: df from the pruned postings, avgdl/N
from the totals file, candidate docs = postings rows for the query's
terms, dl riding on each posting. Everything is bucket-pruned or
broadcast — the only shuffle is the candidate-sized per-doc sum.
``test_retrieval_stream_matches_batch_bm25`` pins stream==batch score
equality on the concatenated input.

Document ids are assumed unique across the stream (the gates upstream
guarantee it in the composed funnel; a re-delivered id would double its
tf — run behind exact dedup, as the funnel does).

Revocation: the funnel's eval-generation upgrades retro-revoke kept
docs; ``revoke_docs`` records (doc_id, dl) in a ``revoked`` store, then
the store's cumulative counts in ``revoked_counts/b{G}.json``, and
``bm25_search`` both anti-joins candidates against it (before df) and
subtracts those counts from N/avgdl — so search over a decontaminated
warehouse equals batch BM25 over ``current_corpus`` post-revocation,
without rewriting the totals files' pure-replay discipline.
"""

from __future__ import annotations

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
    read_store,
    sequential_fold_guard,
    write_commit_file,
)
from ..session import local_frame, pinned

_N_BUCKETS = 64
_K1 = 1.2
_B = 0.75


def _totals_path(odir: Path, batch_id: int) -> Path:
    return odir / "totals" / f"b{batch_id}.json"


def _latest_totals(odir: Path, before: int | None = None) -> tuple[dict, int]:
    return latest_commit_file(odir / "totals", {"n_docs": 0, "sum_dl": 0}, before)


def fold_batch(
    spark: SparkSession,
    out_dir: str | Path,
    batch_df: DataFrame,
    batch_id: int,
    id_col: str,
    text_col: str,
) -> None:
    """Fold ONE micro-batch of documents into the index. Idempotent:
    increments overwrite their own batch dir; totals derive from the
    predecessor's file."""
    odir = Path(out_dir)
    odir.mkdir(parents=True, exist_ok=True)
    # postings_schema is part of the pin: dl was denormalized into the
    # postings rows after the first release of this store layout, and
    # bm25_search requires the column — folding new-format increments
    # into an old-format store would mix schemas and silently null out
    # old rows' dl in search. A pre-dl store refuses loudly here and is
    # rebuilt into a fresh dir.
    ensure_store_params(
        odir,
        {"id_col": id_col, "text_col": text_col, "postings_schema": "tf+dl"},
    )
    postings_store = odir / "postings"
    doclen_store = odir / "doclen"

    if (
        batch_id <= min(last_batch_id(postings_store), last_batch_id(doclen_store))
        and _totals_path(odir, batch_id).exists()
    ):
        return
    # Totals ids are monotone (each derives from its predecessor), so a
    # batch at-or-below the newest totals can only be a replay of work
    # the commit point already covers — e.g. a replay against a
    # backfilled index whose single fold absorbed this batch's docs.
    # Folding it again would double-count.
    _, newest = _latest_totals(odir)
    if batch_id <= newest:
        return
    # Strict numbering check only (the two replay skips above already
    # handled <=): a gapped id past BOTH commit frontiers means a
    # stale/foreign checkpoint — the crash-heal case (data stores one
    # ahead of the totals file) sits at the frontier and passes.
    sequential_fold_guard(
        batch_id,
        max(newest, min(last_batch_id(postings_store), last_batch_id(doclen_store))),
        odir,
        rebuilt=has_rebuilt_marker(odir),
    )

    toks = batch_df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    ).filter(F.col("term") != "")
    # One doclen row per doc INCLUDING zero-token docs (dl=0) — computed
    # without the explode so empty docs survive. dl=0 rows join into no
    # postings and are excluded from avgdl (n_len_docs counts dl>0), but
    # they make every indexed doc REVOCABLE: before this (ADVICE r12) a
    # revoked empty doc had no doclen row, so its n_docs share lingered
    # forever and post-revocation idf could diverge from batch BM25 over
    # current_corpus.
    dl_of_row = F.when(F.col(text_col).isNull(), F.lit(0)).otherwise(
        F.size(F.filter(F.split(F.col(text_col), " "), lambda x: x != ""))
    )
    with pinned() as pin:
        doclen = pin(
            batch_df.select(
                F.col(id_col).alias("doc_id"), dl_of_row.cast("long").alias("dl")
            )
            .groupBy("doc_id")
            .agg(F.sum("dl").alias("dl"))
        )
        # dl denormalized into every posting (batch-sized join, paid once
        # at fold time) so bm25_search never joins the corpus-sized doclen.
        postings = (
            toks.groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
            .join(doclen, "doc_id")
            .withColumn("term_bucket", prefix_bucket(F.col("term"), _N_BUCKETS))
        )
        n_rows = batch_df.count()
        batch_stats = doclen.agg(
            # avgdl's denominator counts only length-bearing docs — dl=0
            # rows exist for revocability, not for length statistics
            F.coalesce(
                F.sum((F.col("dl") > 0).cast("long")), F.lit(0)
            ).alias("nd"),
            F.coalesce(F.sum("dl"), F.lit(0)).alias("sdl"),
        ).first()

        # data stores BEFORE the totals file (the replay guard's commit
        # point), mirroring counts-before-summary in heavy_stream.
        append_batch_increment(
            postings, postings_store, batch_id, partition_by="term_bucket"
        )
        append_batch_increment(doclen, doclen_store, batch_id)

    prev, _ = _latest_totals(odir, before=batch_id)
    rec = {
        "batch_id": batch_id,
        "n_docs": int(prev.get("n_docs", 0)) + int(n_rows),
        "n_len_docs": int(prev.get("n_len_docs", 0)) + int(batch_stats["nd"]),
        "sum_dl": int(prev.get("sum_dl", 0)) + int(batch_stats["sdl"]),
    }
    write_commit_file(odir / "totals", batch_id, rec)


def revoke_docs(spark: SparkSession, out_dir: str | Path, doc_ids: DataFrame) -> int:
    """Revoke indexed documents (run while the stream is STOPPED): the
    funnel's eval-generation upgrades retro-revoke kept docs, and a doc
    revoked from ``current_corpus`` must stop being searchable AND stop
    counting into idf/avgdl (VERDICT r11 #1). Appends (doc_id, dl) rows
    — dl looked up from the doclen store so ``bm25_search`` can correct
    N/avgdl without rewriting the totals files' replay discipline — to
    the ``revoked`` store. Idempotent and convergent: ids already
    revoked are skipped, ids never indexed (absent from doclen) are
    ignored, so re-running after any crash re-derives the same store
    content. Returns the number of newly revoked docs.

    ``doc_ids``: any DataFrame whose FIRST column is the document id.
    Scale shape: one broadcast-semi-join scan of the doclen store
    (revocations are benchmark-contamination-sized). Zero-token docs
    are revocable too (ADVICE r12): the fold records dl=0 doclen rows
    for them, so revoking one corrects n_docs (and therefore idf)
    without touching avgdl. Docs indexed by a PRE-dl=0-era fold have no
    such row and stay unrevocable-if-empty — rebuild the index to pick
    up the contract retroactively.

    The doclen lookup is deliberately UNBOUNDED by the totals commit
    frontier: a doc whose batch is in the crash window (data stores
    ahead of totals) is still excluded from search immediately — the
    revocation contract (revoked ⇒ unservable) outranks scoring
    precision — at the cost of its nr/sdl being subtracted from totals
    that do not yet include it, transiently skewing idf/avgdl until
    the restarted stream's replay commits the batch and the totals
    catch up. Bounding the lookup instead would leave such a doc
    searchable forever (the sync only runs at revocation time), which
    is the strictly worse failure. Run revocations after a clean drain
    (as ``revoke_corpus_eval_generation`` documents) and the window
    never exists."""
    odir = Path(out_dir)
    doclen_store = odir / "doclen"
    if not doclen_store.exists():
        return 0
    ids = doc_ids.select(F.col(doc_ids.columns[0]).alias("doc_id")).distinct()
    rev_store = odir / "revoked"
    already = read_store(spark, rev_store)
    gen = last_batch_id(rev_store)
    prev = _revoked_counts(odir, already)
    if already is not None:
        ids = ids.join(F.broadcast(already.select("doc_id")), "doc_id", "left_anti")
        # heal a crash between a generation's append and its counts
        write_commit_file(odir / "revoked_counts", gen, prev)
    new = read_batch_store(spark, doclen_store).join(
        F.broadcast(ids), "doc_id", "left_semi"
    ).select("doc_id", "dl")
    counts = _count_revoked(new)
    if counts["nr"]:
        # data first, then its commit file (the totals-file discipline)
        append_batch_increment(new, rev_store, gen + 1)
        write_commit_file(
            odir / "revoked_counts", gen + 1, {k: prev[k] + counts[k] for k in counts}
        )
    return counts["nr"]


def _count_revoked(revoked: DataFrame) -> dict:
    """``{nr, nl, sdl}`` of (doc_id, dl) rows: rows, length-bearing rows
    and the sum of their lengths, in one job."""
    row = revoked.agg(
        F.count(F.lit(1)).alias("nr"),
        F.coalesce(F.sum((F.col("dl") > 0).cast("long")), F.lit(0)).alias("nl"),
        F.coalesce(F.sum("dl"), F.lit(0)).alias("sdl"),
    ).first()
    return {k: int(row[k]) for k in ("nr", "nl", "sdl")}


def _revoked_counts(odir: Path, revoked: DataFrame | None) -> dict:
    """The ``revoked`` store's cumulative ``{nr, nl, sdl}``: the
    ``revoked_counts/b{G}.json`` that ``revoke_docs`` commits after
    appending generation ``G``, when ``G`` is the store's newest
    generation, so a probe runs no job for them. After a crash between
    the two writes, or on a store that predates the files, they are
    aggregated from ``revoked`` (one job) instead."""
    zero = {"nr": 0, "nl": 0, "sdl": 0}
    if revoked is None:
        return zero
    rec, gen = latest_commit_file(odir / "revoked_counts", zero)
    if gen != last_batch_id(odir / "revoked"):
        return _count_revoked(revoked)
    return rec


def _revoked_view(spark: SparkSession, odir: Path) -> DataFrame | None:
    revoked = read_store(spark, odir / "revoked")
    return None if revoked is None else revoked.select("doc_id", "dl")


def _effective_totals(spark: SparkSession, odir: Path):
    """The serving-time index state every search entry point shares:
    ``(n_docs, avgdl, tid, revoked)`` AFTER revocation corrections —
    revoked docs' counts subtracted from N, and from avgdl's numerator/
    denominator only when length-bearing (a dl=0 revoked row is a
    zero-token doc: it was never part of the length statistics, so it
    corrects n_docs alone). The revoked counts are the ones
    ``revoke_docs`` committed (:func:`_revoked_counts`) and the revoked
    view is read with its recorded schema, so this runs no Spark job.
    None before the first batch; ``n_docs <= 0`` signals an empty
    effective corpus (callers return their empty frame)."""
    totals, tid = _latest_totals(odir)
    if tid < 0 or not (odir / "postings").exists():
        return None
    revoked = _revoked_view(spark, odir)
    rc = _revoked_counts(odir, revoked)
    n_docs = int(totals["n_docs"]) - rc["nr"]
    n_len_docs = int(totals.get("n_len_docs", totals["n_docs"])) - rc["nl"]
    sum_dl = int(totals["sum_dl"]) - rc["sdl"]
    if n_docs <= 0 or n_len_docs <= 0:
        return 0, 1.0, tid, revoked
    return n_docs, sum_dl / n_len_docs, tid, revoked


def _pruned_postings(
    spark: SparkSession, odir: Path, terms: list[str], state: tuple
) -> DataFrame | None:
    """The shared candidate scan: postings pruned at LISTING time to
    the query terms' partition buckets (``batchstore.read_store``
    hands Spark only the live batches' ``term_bucket=b`` leaves for
    those buckets, so no other postings dir is listed and the probe runs
    no listing job however many batches and buckets the store holds;
    the bucket and batch bounds stay as planning-time partition
    filters), filtered to the terms, bounded at the totals commit point,
    revoked docs anti-joined out BEFORE any df is counted. None when no
    candidate exists: the ``_effective_totals`` ``state`` has an empty
    corpus, or no live leaf holds one of the query's buckets.

    Snapshot consistency (ADVICE r11): the data stores are appended
    BEFORE the totals file (the commit point), so after a crash in that
    window they are one batch AHEAD of the totals the caller took
    N/avgdl from. Scan only increments the totals cover; consolidated
    dirs (negative ids) fold batches at-or-below a committed totals
    file (offline compaction bounds at the frontier), so they are
    always covered."""
    n_docs, _, tid, revoked = state
    if n_docs <= 0:
        return None
    # driver-local: same expression as the store's partition layout,
    # over a LocalRelation — no Spark job per probe
    buckets = prefix_bucket_local(spark, list(terms), _N_BUCKETS)
    postings = read_store(
        spark, odir / "postings", up_to=tid, partition=("term_bucket", buckets)
    )
    if postings is None:
        return None
    postings = postings.filter(F.col("term").isin(list(terms)))
    if revoked is not None:
        # before df: a revoked doc must not count into document frequency
        postings = postings.join(
            F.broadcast(revoked.select("doc_id")), "doc_id", "left_anti"
        )
    return postings


def _bm25_contrib(n_docs: int, avgdl: float):
    """Okapi BM25 per-posting contribution (k1=1.2, b=0.75, Robertson
    +1 idf — the batch queries' exact arithmetic) over (tf, df, dl)
    columns."""
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    return idf * (F.col("tf") * F.lit(_K1 + 1.0)) / (
        F.col("tf")
        + F.lit(_K1) * (F.lit(1.0 - _B) + F.lit(_B) * F.col("dl") / F.lit(avgdl))
    )


def bm25_search(
    spark: SparkSession,
    out_dir: str | Path,
    terms: list[str],
    k: int = 20,
) -> DataFrame | None:
    """Okapi BM25 top-k over the maintained index. None before the
    first batch. The postings read is pruned when it is LISTED: Spark
    is handed only the query terms' bucket leaves of the live batches,
    so a probe lists and scans the query's buckets, never the whole
    store (the bounds also stay as planning-time partition filters). df
    is a ≤|query|-row broadcast; N/avgdl come from the totals file and
    the revoked docs' committed counts (zero Spark jobs); dl rides on
    each posting, so NO corpus-keyed join exists in the serving plan —
    the one shuffle is the candidate-sized per-doc sum. Revoked docs
    (``revoke_docs``) are
    anti-joined out BEFORE df is counted and subtracted from N/avgdl, so
    results equal batch BM25 over the post-revocation corpus. (State,
    scan, and arithmetic are the shared ``_effective_totals`` /
    ``_pruned_postings`` / ``_bm25_contrib`` — one implementation for
    this, :func:`bm25_search_batch` and :func:`hybrid_search_indexed`.)"""
    odir = Path(out_dir)
    state = _effective_totals(spark, odir)
    return None if state is None else _bm25_topk(spark, odir, terms, k, state)


def _bm25_topk(
    spark: SparkSession, odir: Path, terms: list[str], k: int, state: tuple
) -> DataFrame:
    """:func:`bm25_search` over an already-read ``_effective_totals``
    state (the hybrid probe reuses the state's revoked view)."""
    n_docs, avgdl = state[:2]
    postings = _pruned_postings(spark, odir, list(terms), state)
    if postings is None:
        return local_frame(spark, [], "doc_id long, bm25 double")
    dfc = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return (
        postings.join(F.broadcast(dfc), "term")
        .groupBy("doc_id")
        .agg(F.round(F.sum(_bm25_contrib(n_docs, avgdl)), 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(k)
    )


def bm25_search_batch(
    spark: SparkSession,
    out_dir: str | Path,
    queries: dict,
    k: int = 5,
) -> DataFrame | None:
    """Whole-query-set BM25 over the maintained index — the serving twin
    of the batch ``bm25_multiquery_top5``: ONE pruned postings pass for
    the union of all queries' terms, a broadcast (qid, term) join fans
    candidates out to their queries, per-(query, doc) sums, and
    per-query top-k via a rank-filter window (WindowGroupLimit, no
    global sort). Scores are identical to calling :func:`bm25_search`
    per query BY CONSTRUCTION: both compose the same
    ``_effective_totals`` / ``_pruned_postings`` / ``_bm25_contrib``
    (df is per TERM, query-independent, so computing it once over the
    union changes nothing). Returns ``(qid, doc_id, bm25)``; None
    before the first batch. ``queries``: {qid: [terms...]} — the query
    set must stay broadcast-sized (it is the SEARCH input, not the
    corpus)."""
    from pyspark.sql import Window

    odir = Path(out_dir)
    state = _effective_totals(spark, odir)
    if state is None:
        return None
    n_docs, avgdl = state[:2]
    all_terms = sorted({t for terms in queries.values() for t in terms})
    postings = _pruned_postings(spark, odir, all_terms, state)
    if postings is None:
        return local_frame(spark, [], "qid string, doc_id long, bm25 double")
    qt = local_frame(
        spark,
        [(str(q), t) for q, terms in queries.items() for t in set(terms)],
        "qid string, term string",
    )
    # df is per TERM (query-independent), computed once over the union.
    dfc = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("qid").orderBy(F.col("bm25").desc(), "doc_id")
    return (
        postings.join(F.broadcast(dfc), "term")
        .join(F.broadcast(qt), "term")
        .groupBy("qid", "doc_id")
        .agg(F.round(F.sum(_bm25_contrib(n_docs, avgdl)), 6).alias("bm25"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .drop("rnk")
    )


def backfill_retrieval_index(
    spark: SparkSession,
    funnel_dir: str | Path,
    index_dir: str | Path,
    id_col: str,
    text_col: str,
) -> None:
    """Build the index for a funnel that predates index enablement: fold
    the CURRENT kept corpus as ONE batch keyed to the funnel's newest
    near-stage batch id, so the restarted stream's later batches append
    incrementally on top. Run while the stream is STOPPED after a clean
    drain (an unclean stop could replay the last batch, whose docs this
    backfill already absorbed — the monotone-totals guard in fold_batch
    then skips it rather than double-counting). Refuses an index that
    already holds folds: backfilling the WHOLE corpus on top of partial
    postings would double-count every already-indexed doc — an index
    that fell behind its funnel is rebuilt into a FRESH dir instead."""
    from ..batchstore import last_batch_id as _last
    from .corpus_pipeline_stream import _record_retrieval_pointer, current_corpus

    if _latest_totals(Path(index_dir))[1] >= 0:
        raise RuntimeError(
            f"retrieval index at {index_dir} already holds folded batches: "
            "a whole-corpus backfill on top would double-count them — "
            "backfill into a FRESH index dir and switch the stream to it"
        )
    corpus = current_corpus(spark, funnel_dir)
    if corpus is None:
        return
    bid = _last(Path(funnel_dir) / "near" / "docs")
    fold_batch(spark, index_dir, corpus, bid, id_col, text_col)
    _record_retrieval_pointer(Path(funnel_dir), Path(index_dir))


def hybrid_search_indexed(
    spark: SparkSession,
    out_dir: str | Path,
    terms: list[str],
    ann_index_dir: str | Path,
    query: DataFrame,
    k: int = 10,
    depth: int = 50,
    ann_probe: str = "ivf",
    rrf_k: int = 60,
    **probe_kwargs,
) -> DataFrame | None:
    """Hybrid lexical+semantic SERVING path: probe the maintained BM25
    index (:func:`bm25_search`, partition-pruned postings, revocation-
    aware) and a persisted ANN index (``operators/similarity`` LSH/IVF/PQ
    probe — partition-pruned bucket/cluster scans; the PQ probe
    additionally needs ``embeddings=<original vectors>`` in
    ``probe_kwargs`` for its exact rerank) to ``depth``
    candidates each, then fuse with Reciprocal Rank Fusion
    (``operators/similarity.rrf_fuse``). None before the first folded
    batch. Columns: (doc_id, rrf_score, rank_1=bm25, rank_2=ann).

    This is the maintained-index twin of the oracle-checked batch query
    ``retrieval_hybrid_rrf_top10``: swap candidate generators, keep the
    fusion. With an exhaustive probe (IVF n_probe = n_clusters) the ANN
    list equals brute force, so the fused ranking equals the batch
    fusion over the same corpus (pinned by
    ``test_hybrid_indexed_matches_python_fusion``). Rank windows run on
    depth-sized single partitions by construction — bounded by the
    fusion depth, never the corpus.

    Revocation: ``bm25_search`` already anti-joins revoked docs, but the
    ANN index knows nothing about the retrieval store's revocations — so
    the ANN candidate list is anti-joined against the store's revoked
    set BEFORE ranking (revoked ⇒ unservable outranks every other
    property, exactly as bm25_search documents; the revoked frame is a
    broadcast of revocation-sized data). The anti-join runs after the
    probe's top-``depth`` cut, so revoked hits shrink the ANN list
    rather than backfill — over-fetch via ``depth`` when the revocation
    rate matters. Pinned by
    ``test_hybrid_indexed_excludes_revoked_docs``."""
    from pyspark.sql import Window

    from ..operators.similarity import (
        ivf_topk_indexed,
        lsh_topk_indexed,
        pq_topk_indexed,
        rrf_fuse,
    )

    odir = Path(out_dir)
    state = _effective_totals(spark, odir)
    if state is None:
        return None
    bm = _bm25_topk(spark, odir, terms, depth, state)
    bmr = bm.select(
        F.col("doc_id").alias("id"),
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id")))
        .alias("r"),
    )
    probes = {
        "lsh": lsh_topk_indexed,
        "ivf": ivf_topk_indexed,
        "pq": pq_topk_indexed,
    }
    if ann_probe == "pq" and "embeddings" not in probe_kwargs:
        # pq_topk_indexed reranks its ADC shortlist against the original
        # vectors — fail at the call site with the contract, not deep in
        # the probe with a bare TypeError.
        raise TypeError(
            "ann_probe='pq' requires embeddings=<original-vectors DataFrame> "
            "in probe_kwargs (PQ reranks its ADC shortlist exactly)"
        )
    ann = probes[ann_probe](spark, ann_index_dir, query, k=depth, **probe_kwargs)
    revoked = state[3]  # read once, shared with the BM25 side
    if revoked is not None:
        ann = ann.join(
            F.broadcast(revoked.select(F.col("doc_id").alias("vec_id"))),
            "vec_id",
            "left_anti",
        )
    annr = ann.select(
        F.col("vec_id").alias("id"),
        F.row_number()
        .over(Window.orderBy(F.col("sim").desc(), F.col("vec_id")))
        .alias("r"),
    )
    return rrf_fuse([bmr, annr], k=rrf_k, topk=k).withColumnRenamed("id", "doc_id")


def _totals_frontier(odir: Path) -> int:
    """The offline compaction bound: the newest totals file's id. After
    an UNCLEAN stop the data stores can be one uncommitted batch ahead
    of the newest totals file, and folding that increment into a
    negative-id consolidated dir would smuggle it past
    ``bm25_search``'s committed-snapshot filter (negative ids are
    unconditionally admitted as covered) — it stays in its own positive
    dir, excluded by the filter, until the restarted stream's replay
    commits it."""
    return _latest_totals(odir)[1]


VIEW = View(
    fold=fold_batch,
    # ``revoked``: (doc_id, dl) rows of docs revoked AFTER indexing
    # (funnel eval-generation upgrades — see ``revoke_docs``), read by
    # ``bm25_search`` as an anti-join + totals correction. It is written
    # on its own generation counter while the stream is stopped and read
    # unbounded, so both folds (offline and in-stream) leave it unbounded
    # — one discipline, not two (ADVICE r12).
    stores={"postings": ["term_bucket"], "doclen": None, "revoked": None},
    unbounded=frozenset({"revoked"}),
    frontier=_totals_frontier,
)
