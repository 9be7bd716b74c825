"""The one versioned-table publish (``versioning.VersionedTable.publish``)
under crashes: a fault at any step leaves readers on exactly the old or
exactly the new table, and the next publish converges."""

from __future__ import annotations

import datetime as dt
import json
import re
from pathlib import Path

import pytest
from pyspark.sql import DataFrameWriter

from data_pipeline_challenge_spark import versioning
from data_pipeline_challenge_spark.pipeline import ProductWarehouse
from data_pipeline_challenge_spark.sources.landing import upload
from data_pipeline_challenge_spark.sources.ledger import LedgerStore


class Crash(RuntimeError):
    pass


def _crash_once(monkeypatch, step: str, prefix: str) -> list[str]:
    """Make ``step`` of the next publish of the ``prefix`` table raise once.
    Returns a list that holds ``step`` once the fault has fired."""
    tmp_name = re.compile(re.escape(prefix) + r"\.v\d+\.tmp$")
    fired: list[str] = []

    def once(owner, attr, hits):
        real = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            if fired or not hits(*args):
                return real(*args, **kwargs)
            fired.append(step)
            if step == "write":
                real(*args, **kwargs)  # the tmp dir is fully written
            raise Crash(step)

        monkeypatch.setattr(owner, attr, wrapper)

    if step == "write":
        once(
            DataFrameWriter,
            "parquet",
            lambda w, path, *a: bool(tmp_name.match(Path(path).name)),
        )
    elif step == "rename":
        once(Path, "rename", lambda src, *a: bool(tmp_name.match(src.name)))
    elif step == "swap":
        once(versioning, "swap_symlink", lambda link, *a: link.name == prefix)
    else:
        once(versioning, "retire_versions", lambda table, *a: table.prefix == prefix)
    return fired


STEPS = ["write", "rename", "swap", "retire"]


def _rows(wh: ProductWarehouse) -> set:
    return {(r["code"], r["product_name"]) for r in wh.products().collect()}


def _deliver(landing: Path, name: str, recs: list[dict]) -> None:
    upload(json.dumps(recs).encode(), landing, orig_name=name)


@pytest.mark.parametrize("step", STEPS)
def test_products_publish_crash_matrix(spark, tmp_path, landing, monkeypatch, step):
    whdir = tmp_path / "wh"
    wh = ProductWarehouse(spark, whdir)
    wh.delta_fold_threshold = None  # every ingest publishes a version
    _deliver(landing, "a.json", [{"code": "0001", "product_name": "A"}])
    wh.ingest(landing)
    pre = _rows(wh)
    post = pre | {("0002", "B")}

    _deliver(landing, "b.json", [{"code": "0002", "product_name": "B"}])
    with monkeypatch.context() as m:
        fired = _crash_once(m, step, "products")
        with pytest.raises(Crash):
            wh.ingest(landing)
    assert fired == [step]
    # only a crash after the swap (in retention) exposes the new version
    assert _rows(wh) == (post if step == "retire" else pre)

    # The next publish (b.json is still landed, so it is re-ingested)
    # converges with no fault.
    _deliver(landing, "c.json", [{"code": "0003", "product_name": "C"}])
    wh.ingest(landing)
    assert _rows(wh) == post | {("0003", "C")}
    assert len(wh._product_versions()) <= 2
    assert not list(whdir.glob("*.tmp"))


def _event(fid: str, status: str) -> dict:
    return {
        "file_id": fid,
        "filename": f"{fid}.json",
        "location": f"/landing/{fid}",
        "uploaded_at": dt.datetime(2024, 1, 1),
        "content_type": "application/json",
        "status": status,
        "total_records": 0,
        "records_processed": 0,
        "records_failed": 0,
    }


@pytest.mark.parametrize("step", STEPS)
def test_ledger_state_publish_crash_matrix(spark, tmp_path, monkeypatch, step):
    whdir = tmp_path / "wh"
    store = LedgerStore(spark, whdir)
    fids = ("f1", "f2", "f3")

    def statuses() -> dict:
        return {f: s["status"] for f in fids if (s := store.status_of(f))}

    store.append([_event("f1", "uploaded")])
    pre = statuses()
    post = {**pre, "f2": "processed"}

    with monkeypatch.context() as m:
        fired = _crash_once(m, step, "ledger_state")
        with pytest.raises(Crash):
            store.append([_event("f2", "processed")])
    assert fired == [step]
    assert statuses() in (pre, post)

    store.append([_event("f3", "uploaded")])
    assert statuses() == {**post, "f3": "uploaded"}
    assert len(store._versions()) <= 2
    assert not list(whdir.glob("*.tmp"))


def test_publish_sweeps_stale_tmp_dirs(spark, tmp_path, landing):
    """A crash before the rename (e.g. online compaction's) leaves a
    ``products.v{N}.tmp`` no lister matches; the next publish removes it
    and every other stale ``products.v{N}.tmp``."""
    whdir = tmp_path / "wh"
    wh = ProductWarehouse(spark, whdir)
    wh.delta_fold_threshold = None
    _deliver(landing, "a.json", [{"code": "0001", "product_name": "A"}])
    wh.ingest(landing)
    n = int(wh._resolve_products_dir().name.rsplit(".v", 1)[1])
    stale = [whdir / f"products.v{n + 1}.tmp", whdir / f"products.v{n + 5}.tmp"]
    for d in stale:
        d.mkdir()
        (d / "part-0.parquet").write_bytes(b"\x00torn")

    _deliver(landing, "b.json", [{"code": "0002", "product_name": "B"}])
    wh.ingest(landing)
    assert not any(d.exists() for d in stale)
    assert _rows(wh) == {("0001", "A"), ("0002", "B")}
