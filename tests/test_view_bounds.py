"""Each declared view's fold bounds, pinned without Spark.

Every module-level ``batchstore.View`` under ``streaming/`` is driven
through both maintenance paths with ``batchstore.consolidate_stores``
replaced by a recorder:

- offline, ``compact_view`` folds at the view's commit frontier;
- in-stream, ``start_view``'s hook at batch 5 (``consolidate_every=1``)
  folds up to batch 4.

The recorded store dirs, bound, unbounded set and transform keys must
equal the table below, written out by hand per view.
"""

from __future__ import annotations

import dataclasses
import importlib
import json
import pkgutil
from pathlib import Path

import pytest

from data_pipeline_challenge_spark import batchstore, streaming

# The frontier fixtures every view dir gets: each store holds batch 2,
# and the heavy-hitter summary and the retrieval totals commit batch 3.
_STORE_BATCH = 2
_COMMIT_BATCH = 3

# view -> (stores, offline up_to, offline unbounded, transform keys,
# in-stream unbounded)
EXPECTED = {
    "attribution_stream": (
        {"attrib": None, "frontier": None}, None, set(), {"attrib", "frontier"}, set(),
    ),
    "cms_stream": ({"cells": None}, None, set(), set(), set()),
    "components_stream": (
        {"labels": ["v_prefix"], "members": ["c_prefix"]},
        None, set(), {"labels", "members"}, set(),
    ),
    "decontam_stream": (
        {"docs": None, "contaminated": None, "revoked": None}, None, set(), set(), set(),
    ),
    "dedup_stream": (
        {"docs": None, "fp_index": ["fp_prefix"]}, None, set(), set(), set(),
    ),
    "embedding_dedup_stream": ({"bucketed_inc": ["bucket"]}, None, set(), set(), set()),
    "filter_gate_stream": ({"docs": None, "rejected": None}, None, set(), set(), set()),
    "heavy_stream": ({"counts": ["item_bucket"]}, _COMMIT_BATCH, set(), set(), set()),
    "image_dedup_stream": (
        {"kept": None, "diverted": None, "hashes": ["band", "bucket"]},
        _STORE_BATCH, {"hashes"}, set(), set(),
    ),
    "kmv_stream": ({"hashes": None}, None, set(), {"hashes"}, set()),
    "near_dedup_stream": (
        {
            "docs": ["doc_prefix"], "band_index": ["bh_prefix"],
            "pairs": None, "revoked": None,
        },
        None, set(), set(), set(),
    ),
    "novelty_stream": (
        {"docs": None, "rejected": None, "shingles": ["bucket"]},
        _STORE_BATCH, {"shingles"}, set(), set(),
    ),
    "overlap_stream": (
        {"shingles": ["bucket"], "pair_inc": None, "count_inc": None},
        _STORE_BATCH, {"shingles"}, set(), set(),
    ),
    "paths_stream": ({"prefix": None}, None, set(), {"prefix"}, set()),
    "quantile_stream": ({"counts": None}, None, set(), set(), set()),
    "retention_stream": ({"act": None}, None, set(), {"act"}, set()),
    "retrieval_stream": (
        {"postings": ["term_bucket"], "doclen": None, "revoked": None},
        _COMMIT_BATCH, {"revoked"}, set(), {"revoked"},
    ),
    "sessions_stream": ({"sessions": None}, None, set(), {"sessions"}, set()),
    "transition_stream": (
        {"pairs": None, "frontier": None}, None, set(), {"frontier"}, set(),
    ),
}


def _declared_views() -> dict[str, batchstore.View]:
    views = {}
    for info in pkgutil.iter_modules(streaming.__path__):
        mod = importlib.import_module(f"{streaming.__name__}.{info.name}")
        for name, value in vars(mod).items():
            if isinstance(value, batchstore.View):
                views[f"{info.name}" + ("" if name == "VIEW" else f".{name}")] = value
    return views


def _view_dir(root: Path, view: batchstore.View) -> Path:
    odir = root / "view"
    for name in view.stores:
        (odir / name / f"ingest_batch={_STORE_BATCH}").mkdir(parents=True)
    for commit in ("mg", "totals"):
        (odir / commit).mkdir()
        (odir / commit / f"b{_COMMIT_BATCH}.json").write_text(
            json.dumps({"mg": {}, "n_total": 0, "n_docs": 0, "sum_dl": 0})
        )
    return odir


def _recorded(calls: list, odir: Path) -> tuple:
    (stores, up_to, transforms, unbounded), = calls
    rel = lambda p: Path(p).relative_to(odir).as_posix()  # noqa: E731
    return (
        {rel(p): part for p, part in stores.items()},
        up_to,
        {rel(p) for p in unbounded or ()},
        {rel(p) for p in transforms or {}},
    )


def test_every_declared_view_is_in_the_table():
    assert sorted(_declared_views()) == sorted(EXPECTED)


@pytest.mark.parametrize("name", sorted(EXPECTED))
def test_view_fold_bounds(name, tmp_path, monkeypatch):
    view = _declared_views()[name]
    stores, offline_up_to, offline_unbounded, transform_keys, stream_unbounded = (
        EXPECTED[name]
    )
    calls: list = []
    monkeypatch.setattr(
        batchstore, "consolidate_stores",
        lambda spark, stores, up_to=None, transforms=None, unbounded=None: (
            calls.append((stores, up_to, transforms, unbounded)) or {}
        ),
    )
    odir = _view_dir(tmp_path, view)

    batchstore.compact_view(None, view, odir)
    assert _recorded(calls, odir) == (
        stores, offline_up_to, offline_unbounded, transform_keys
    )

    runners: list = []
    monkeypatch.setattr(
        batchstore, "run_view",
        lambda spark, source_dir, schema, checkpoint_dir, process_batch, *a: (
            runners.append(process_batch)
        ),
    )
    calls.clear()
    batchstore.start_view(
        None, dataclasses.replace(view, fold=lambda *a, **k: None),
        tmp_path / "src", odir, tmp_path / "ckpt", "x long", consolidate_every=1,
    )
    runners[0](None, 5)
    assert _recorded(calls, odir) == (stores, 4, stream_unbounded, transform_keys)
