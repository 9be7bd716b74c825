"""Structured Streaming surface.

Ingestion: ``ingest_stream`` (file-source ingest, foreachBatch = the
batch pipeline). Event-time analytics: ``windows`` (tumbling / sliding /
session builders, batch/stream-agnostic), ``stateful``
(applyInPandasWithState / transformWithStateInPandas running aggregates).
Maintained structures, all on the per-batch increment / versioned-publish
exactly-once recipes: ``rollup_stream`` (continuous aggregate),
``packing_stream`` (incremental packed table), ``index_stream``
(persisted-ANN-index increments). Screening gates for a training-data
corpus — each exposing an idempotent per-batch ``fold_batch`` core:
``filter_gate_stream`` (stateless predicate / Gopher quality),
``decontam_stream`` (benchmark overlap), ``dedup_stream`` (exact,
against history), ``near_dedup_stream`` (MinHash+LSH), and
``embedding_dedup_stream`` (cosine over a servable LSH index) — composed
end-to-end by ``corpus_pipeline_stream``. Maintained analytics over the
same recipes: ``heavy_stream`` (mergeable Misra-Gries heavy hitters with
exact candidate recount), ``retrieval_stream`` (BM25 inverted-stats
index; searches never rescan text), ``quantile_stream`` /
``cms_stream`` / ``kmv_stream`` (exact distributions, Count-Min
frequencies, bottom-k cardinalities — every sketch store folds by its
own mergeability law), ``transition_stream`` (cross-batch sequence
stitching via a per-user frontier; pair it with ``resequence`` — the
watermarked event-time resequencer — when arrivals can run out of
order), ``retention_stream`` (day-granular activity set serving
any cohort granularity), and ``paths_stream`` (per-user-day first-3
path prefixes — bottom-k merge with payload).

One spec, one runner, one fold protocol: every maintained parquet view
declares itself once, as a module-level ``VIEW = batchstore.View(...)``
— its fold (``fold_batch``), its batch stores (name → partition
columns), fold-time rewrites, stores on their own id space
(``unbounded``) and its offline commit ``frontier``.
``batchstore.start_view(spark, X.VIEW, ...)`` streams parquet files
through the one runner, ``batchstore.run_view`` (file source →
``foreachBatch`` → checkpoint → trigger), and runs the in-stream hook
(``batchstore.maybe_consolidate_in_stream``, bounded at the previous
batch) after each fold; ``batchstore.compact_view(spark, X.VIEW, dir)``
folds the same stores offline, bounded at the frontier, through the one
store loop, ``batchstore.consolidate_stores``. ``decontam_stream`` and
``near_dedup_stream`` keep a thin ``start_*`` for their pre-stream setup;
views that consolidate inside their own fold (the composed funnel,
packing, group-texts, the ANN index and the resequenced wrappers) call
``run_view`` and the hook directly, and ``ingest_stream`` alone keeps
its own binaryFile source. Each fold opens with one admission call,
``batchstore.admit_batch`` (layout pin, commit id over the view's commit
stores, sequential-numbering guard), and reads stores through one
reader, ``batchstore.read_store`` (the live view, one batch's increment
for a replay's read-back, or None before any data).
"""
