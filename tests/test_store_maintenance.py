"""Store maintenance contracts shared by every maintained view.

- Offline compaction: each view's ``compact_view`` leaves its reports
  unchanged and collapses every store to at most one live directory
  (driven through ``fold_batch`` directly — no stream is started).
- One runner and one store loop: a Spark-free AST guard that keeps the
  stream plumbing in ``batchstore.run_view`` (reached through
  ``start_view``), the per-store fold in ``batchstore.consolidate_stores``
  and each view's stores in its ``View`` spec.
- One fold protocol: the same guard pins the admission check, the
  in-stream consolidation hook and the store-data probe to their few
  remaining call sites outside ``batchstore``.
"""

from __future__ import annotations

import ast
import json
from pathlib import Path

import pyspark.sql.functions as F
import pytest

_PKG = Path(__file__).resolve().parent.parent / "data_pipeline_challenge_spark"


def _rows(df) -> list[str] | None:
    return None if df is None else sorted(str(tuple(r)) for r in df.collect())


def _live_dirs(store: Path) -> list[int]:
    """Batch dirs the reader view includes (``batchstore.read_batch_store``)."""
    ids = [int(p.name.split("=", 1)[1]) for p in store.glob("ingest_batch=*")]
    marker = store / "_consolidated.json"
    if not marker.exists():
        return [n for n in ids if n >= 0]
    m = json.loads(marker.read_text())
    return [n for n in ids if n == m["consolidated"] or n > m["through"]]


def _docs(spark, b):
    return spark.createDataFrame(
        [(100 * (b + 1) + i,
          f"unique alpha beta gamma doc number {b} row {i} with "
          "enough words to shingle cleanly")
         for i in range(2)],
        "doc_id long, text string",
    )


def _view(spark, tmp_path, view):
    """(fold(b), compact(), report(), stores) for one view: ``fold`` folds
    a tiny non-empty batch under id b, ``report`` is every read the view
    serves, ``stores`` every batch store the compactor maintains."""
    from data_pipeline_challenge_spark.batchstore import compact_view
    from data_pipeline_challenge_spark.streaming import (
        cms_stream,
        corpus_pipeline_stream,
        decontam_stream,
        dedup_stream,
        embedding_dedup_stream,
        filter_gate_stream,
        image_dedup_stream,
        near_dedup_stream,
        novelty_stream,
        overlap_stream,
        quantile_stream,
    )
    from tests.test_streaming import _guard_fold_for

    if view in ("cms", "filter_gate", "novelty_gate", "overlap"):
        fold = _guard_fold_for(spark, tmp_path, view)
        out = tmp_path / f"guard_{view}"
        mod = {
            "cms": cms_stream, "filter_gate": filter_gate_stream,
            "novelty_gate": novelty_stream, "overlap": overlap_stream,
        }[view]
        probes = spark.createDataFrame(
            [("item_0_0",), ("item_1_2",), ("absent",)], "item string"
        )
        report = {
            "cms": lambda: [_rows(cms_stream.cms_report(spark, out, probes, "item"))],
            "filter_gate": lambda: [
                _rows(filter_gate_stream.current_admitted_docs(spark, out)),
                _rows(filter_gate_stream.rejected_log(spark, out)),
            ],
            "novelty_gate": lambda: [
                _rows(novelty_stream.current_admitted_docs(spark, out)),
                _rows(novelty_stream.rejected_log(spark, out)),
            ],
            "overlap": lambda: [_rows(overlap_stream.overlap_report(spark, out))],
        }[view]
        return (
            fold,
            lambda: compact_view(spark, mod.VIEW, out),
            report,
            [out / name for name in mod.VIEW.stores],
        )

    if view == "quantile":
        out = tmp_path / "quantile"
        return (
            lambda b: quantile_stream.fold_batch(
                spark,
                out,
                spark.createDataFrame([(float(10 * b + i),) for i in range(3)], "v double"),
                b,
                "v",
            ),
            lambda: compact_view(spark, quantile_stream.VIEW, out),
            lambda: [
                _rows(quantile_stream.quantile_report(spark, out, [(1, 4), (1, 2), (9, 10)]))
            ],
            [out / name for name in quantile_stream.VIEW.stores],
        )

    if view == "decontam":
        out = tmp_path / "decontam"
        ev = decontam_stream.eval_shingles(
            spark.createDataFrame(
                [(-1, "doc number 1 row 0 with enough words")],
                "doc_id long, text string",
            ),
            "doc_id", "text", 3,
        )
        return (
            lambda b: decontam_stream.fold_batch(
                spark, out, _docs(spark, b), b, ev, id_col="doc_id", text_col="text"
            ),
            lambda: compact_view(spark, decontam_stream.VIEW, out),
            lambda: [
                _rows(decontam_stream.current_clean_docs(spark, out)),
                _rows(decontam_stream.contamination_log(spark, out)),
            ],
            [out / name for name in decontam_stream.VIEW.stores],
        )

    if view == "embedding_dedup":
        import numpy as np

        out = tmp_path / "emb"
        rng = np.random.RandomState(3)

        def vecs(b):
            v = rng.standard_normal((3, 8)).astype(np.float32)
            v /= np.linalg.norm(v, axis=1, keepdims=True)
            return spark.createDataFrame(
                [(10 * b + i, [float(x) for x in row]) for i, row in enumerate(v)],
                "vec_id long, embedding array<float>",
            )

        return (
            lambda b: embedding_dedup_stream.fold_batch(spark, out, vecs(b), b),
            lambda: compact_view(spark, embedding_dedup_stream.VIEW, out),
            lambda: [_rows(embedding_dedup_stream.current_kept_vectors(spark, out))],
            [out / name for name in embedding_dedup_stream.VIEW.stores],
        )

    if view == "image_dedup":
        from data_pipeline_challenge_spark.operators.multimodal import (
            synth_bmp_media,
            synth_media,
        )

        out = tmp_path / "img"

        def media(b):
            imgs = synth_bmp_media(spark, n=2, seed=b, start_id=100 * b)
            other = synth_media(spark, n=3, seed=b).filter(F.col("kind") != "image")
            return imgs.unionByName(
                other.withColumn("media_id", F.col("media_id") + 100 * b + 50)
            )

        return (
            lambda b: image_dedup_stream.fold_batch(spark, out, media(b), b),
            lambda: compact_view(spark, image_dedup_stream.VIEW, out),
            lambda: [
                _rows(image_dedup_stream.current_kept_media(spark, out).select("media_id")),
                _rows(image_dedup_stream.diverted_log(spark, out)),
            ],
            [out / name for name in image_dedup_stream.VIEW.stores],
        )

    if view == "pipeline":
        out = tmp_path / "funnel"
        ev = decontam_stream.eval_shingles(
            spark.createDataFrame([(-1, "no overlap here at all")], "doc_id long, text string"),
            "doc_id", "text", 3,
        )

        def fold(b):
            cur = decontam_stream.fold_batch(
                spark, out / "decontam", _docs(spark, b), b, ev,
                id_col="doc_id", text_col="text",
            )
            cur = dedup_stream.fold_batch(
                spark, out / "exact", cur, b, id_col="doc_id", text_col="text",
                n_prefix=8,
            )
            near_dedup_stream.fold_batch(
                spark, out / "near", cur, b, id_col="doc_id", text_col="text",
                n_prefix=8,
            )

        stores = [
            out / stage / name
            for stage, mod in (
                ("decontam", decontam_stream), ("exact", dedup_stream),
                ("near", near_dedup_stream),
            )
            for name in mod.VIEW.stores
        ]
        return (
            fold,
            lambda: corpus_pipeline_stream.compact_pipeline_stores(spark, out),
            lambda: [_rows(corpus_pipeline_stream.current_corpus(spark, out))],
            stores,
        )

    raise AssertionError(view)


def _total(folded) -> int:
    if isinstance(folded, dict):
        return sum(_total(v) for v in folded.values())
    return folded


@pytest.mark.parametrize(
    "view",
    [
        "cms", "decontam", "embedding_dedup", "filter_gate", "image_dedup",
        "novelty_gate", "overlap", "quantile", "pipeline",
    ],
)
def test_offline_compaction_keeps_reports(spark, tmp_path, view):
    """Every offline compactor without another test caller: two folds,
    then compaction leaves the view's reports unchanged and each store
    with at most one live directory (the consolidated one)."""
    fold, compact, report, stores = _view(spark, tmp_path, view)
    # the embedding gate's first batch bootstraps its base table, not
    # an increment, so it takes one more batch to give the compactor
    # two increments to fold
    for b in range(3 if view == "embedding_dedup" else 2):
        fold(b)
    before = report()
    assert any(r for r in before)
    assert _total(compact()) > 0
    assert report() == before
    for store in stores:
        assert len(_live_dirs(store)) <= 1, (store, _live_dirs(store))


def _calls(name):
    """AST predicate: a call of ``name`` (bare or as an attribute)."""

    def pred(n):
        if not isinstance(n, ast.Call):
            return False
        f = n.func
        return (f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)) == name

    return pred


def _enclosing_sites(pred) -> list[str]:
    """``module:function`` of every AST node matching ``pred`` across the
    package (``module:<module>`` at top level)."""
    sites = []
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()

        def walk(node, fn):
            for child in ast.iter_child_nodes(node):
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    walk(child, fn or child.name)
                    continue
                if pred(child):
                    sites.append(f"{rel}:{fn or '<module>'}")
                walk(child, fn)

        walk(ast.parse(path.read_text()), None)
    return sites


def test_one_stream_runner_and_one_store_loop():
    """Stream plumbing lives in ``batchstore.run_view`` (plus the
    binaryFile ingest source), only ``batchstore.consolidate_stores``
    calls ``consolidate_batch_store``, declared views run through
    ``start_view`` / ``compact_view``, and the fold protocol's admission
    check, in-stream hook and store-data probe keep to their few pinned
    sites — no view grows its own copy."""
    write_stream = _enclosing_sites(
        lambda n: isinstance(n, ast.Attribute) and n.attr == "writeStream"
    )
    assert write_stream == [
        "batchstore.py:run_view",
        "streaming/ingest_stream.py:start_ingest_stream",
    ]

    assert _enclosing_sites(_calls("consolidate_batch_store")) == [
        "batchstore.py:consolidate_stores"
    ]

    # Declared views run through ``start_view`` and fold offline through
    # ``compact_view``; only the views with their own runner (the funnel,
    # packing, group-texts, the ANN index, rollup and the resequenced
    # wrappers) call ``run_view``, and only the ANN index and the two
    # rows stores fold outside a view spec.
    assert _enclosing_sites(_calls("run_view")) == [
        "batchstore.py:start_view",
        "streaming/attribution_stream.py:start_resequenced_attribution_stream",
        "streaming/corpus_pipeline_stream.py:start_corpus_pipeline_stream",
        "streaming/group_texts_stream.py:start_group_texts_stream",
        "streaming/index_stream.py:start_index_stream",
        "streaming/packing_stream.py:start_packing_stream",
        "streaming/rollup_stream.py:start_rollup_stream",
        "streaming/transition_stream.py:start_resequenced_transition_stream",
    ]
    assert _enclosing_sites(_calls("consolidate_stores")) == [
        "batchstore.py:maybe_consolidate_in_stream",
        "batchstore.py:compact_view",
        "operators/similarity.py:compact_index_increments",
        "streaming/group_texts_stream.py:compact_rows_store",
        "streaming/packing_stream.py:compact_rows_store",
    ]

    # A view's stores are declared once, in its ``View``: no module but
    # the two rows stores defines or uses a hand-written store map.
    store_helpers = {"_store_map", "_STORES", "_transforms", "_unbounded_stores"}
    assert sorted(
        f"{path.relative_to(_PKG).as_posix()}:{n.name}"
        for path in _PKG.rglob("*.py")
        for n in ast.walk(ast.parse(path.read_text()))
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        and n.name in store_helpers
    ) == [
        "streaming/group_texts_stream.py:_store_map",
        "streaming/packing_stream.py:_store_map",
    ]
    assert sorted(set(_enclosing_sites(
        lambda n: (isinstance(n, ast.Name) and n.id in store_helpers)
        or (isinstance(n, ast.Attribute) and n.attr in store_helpers)
    ))) == [
        "streaming/group_texts_stream.py:compact_rows_store",
        "streaming/group_texts_stream.py:start_group_texts_stream",
        "streaming/packing_stream.py:compact_rows_store",
        "streaming/packing_stream.py:start_packing_stream",
    ]

    # The per-batch fold protocol: folds admit a batch through
    # ``admit_batch`` (only views whose commit id is not a store's last
    # batch id call the guard themselves), ``start_view`` runs the
    # in-stream hook (only views that consolidate inside their own fold
    # call it), and stores are read through ``read_store`` (only loops
    # over the batch dirs themselves glob them).
    assert _enclosing_sites(_calls("sequential_fold_guard")) == [
        "batchstore.py:admit_batch",
        "streaming/heavy_stream.py:fold_batch",
        "streaming/resequence.py:reseq_fold",
        "streaming/retrieval_stream.py:fold_batch",
        "streaming/rollup_stream.py:start_rollup_stream",
    ]
    assert _enclosing_sites(_calls("maybe_consolidate_in_stream")) == [
        "batchstore.py:start_view",
        "streaming/corpus_pipeline_stream.py:start_corpus_pipeline_stream",
        "streaming/group_texts_stream.py:start_group_texts_stream",
        "streaming/index_stream.py:start_index_stream",
        "streaming/packing_stream.py:start_packing_stream",
        "streaming/resequence.py:consolidate_resequenced",
        "streaming/resequence.py:consolidate_resequenced",
    ]

    def globs_batch_dirs(n):
        return (
            _calls("glob")(n)
            and bool(n.args)
            and isinstance(n.args[0], ast.Constant)
            and n.args[0].value == "ingest_batch=*"
        )

    assert _enclosing_sites(globs_batch_dirs) == [
        "batchstore.py:has_data",
        "streaming/corpus_pipeline_stream.py:pipeline_report",
        "streaming/packing_stream.py:migrate_legacy_layout",
    ]

    # The versioned-table protocol lives in ``versioning.VersionedTable``:
    # one resolver reads the link, one publish swaps it and retires
    # versions (plus the replay-path relink), and every versioned table
    # publishes through it — no sink reaches into another's privates.
    assert _enclosing_sites(_calls("readlink")) == ["versioning.py:read_target"]
    assert _enclosing_sites(_calls("swap_symlink")) == [
        "versioning.py:publish",
        "versioning.py:relink_newest",
    ]
    assert _enclosing_sites(_calls("retire_versions")) == ["versioning.py:publish"]
    assert _enclosing_sites(_calls("publish")) == [
        "operators/maintenance.py:compact_published_table",
        "pipeline.py:_overwrite_products",
        "sources/ledger.py:_checkpoint_events",
        "sources/ledger.py:_compact",
        "streaming/packing_stream.py:migrate_legacy_layout",
        "streaming/packing_stream.py:_publish_shards",
        "streaming/rollup_stream.py:start_rollup_stream",
    ]

    def imports_rollup_privates(n):
        return (
            isinstance(n, ast.ImportFrom)
            and (n.module or "").endswith("rollup_stream")
            and any(a.name.startswith("_") for a in n.names)
        )

    assert _enclosing_sites(imports_rollup_privates) == []

    # A fold's pins have one owner, ``session.pinned``: no module under
    # ``streaming/`` caches, checkpoints or releases a frame itself, nor
    # builds a driver-row frame except through ``session.local_frame``.
    # The one pin that lives as long as the stream is the decontam eval
    # shingle table.
    pin_calls = ("cache", "persist", "localCheckpoint", "unpersist", "createDataFrame")
    assert [
        site
        for site in _enclosing_sites(lambda n: any(_calls(c)(n) for c in pin_calls))
        if site.startswith("streaming/")
    ] == ["streaming/decontam_stream.py:eval_shingles"]
