"""End-to-end + per-operator tests for the ingestion core (SURVEY §5.1-2).

Each test cites the reference behavior it locks in (file:line refs are to
/root/reference)."""

from __future__ import annotations

import datetime as dt
import json
import os
from pathlib import Path

import pyspark.sql.functions as F
import pytest

from data_pipeline_challenge_spark.pipeline import ProductWarehouse
from data_pipeline_challenge_spark.schema import (
    STATUS_FAILED,
    STATUS_PROCESSED,
    STATUS_PROCESSED_WITH_ERRORS,
)
from data_pipeline_challenge_spark.sources.landing import upload, list_landed
from data_pipeline_challenge_spark.operators.find import (
    find_by_code,
    find_name_exact,
    find_name_partial,
    find_name_partial_safe,
)

from .fixtures import (
    products_basic,
    products_dup_within_file,
    products_external_ids,
    products_missing_code,
    products_unicode_names,
    products_update,
    write_json,
)


def _land(landing, tmp_path, name, records_or_text):
    src = tmp_path / name
    if isinstance(records_or_text, str):
        src.write_text(records_or_text)
    else:
        write_json(src, records_or_text)
    return upload(src, landing)


def test_basic_ingest_and_counters(spark, warehouse, landing, tmp_path):
    """250 valid records: normalize+validate+insert, counters
    (file_splitter.py:114-130, data_processor.py:115-124)."""
    lf = _land(landing, tmp_path, "products_basic.json", products_basic())
    wh = ProductWarehouse(spark, warehouse)
    report = wh.ingest(landing)
    assert report.files[lf.file_id] == {
        "status": STATUS_PROCESSED,
        "total_records": 250,
        "records_processed": 250,
        "records_failed": 0,
    }
    assert wh.products().count() == 250
    # processed file was GC'd (file_splitter.py:95-96)
    assert list_landed(landing) == []
    # ledger reflects final state (api/main.py:106-127)
    st = wh.ledger.status_of(lf.file_id)
    assert st["status"] == STATUS_PROCESSED
    assert (st["total_records"], st["records_processed"], st["records_failed"]) == (250, 250, 0)


def test_validation_split(spark, warehouse, landing, tmp_path):
    """7 valid, 3 invalid (2 no code, 1 numeric code) → failed counted, not
    stored, status processed_with_errors (data_processor.py:57-73,136-141)."""
    lf = _land(landing, tmp_path, "products_missing_code.json", products_missing_code())
    wh = ProductWarehouse(spark, warehouse)
    report = wh.ingest(landing)
    assert report.files[lf.file_id] == {
        "status": STATUS_PROCESSED_WITH_ERRORS,
        "total_records": 10,
        "records_processed": 7,
        "records_failed": 3,
    }
    prods = wh.products()
    assert prods.count() == 7
    # the numeric code was NOT silently stringified into a product
    assert prods.filter(F.col("code") == "1234567").count() == 0


def test_upsert_field_survival(spark, warehouse, landing, tmp_path):
    """$set-of-full-dump semantics (data_processor.py:95-113): spine fields
    (incl. explicit nulls) overwrite; omitted extra fields survive."""
    wh = ProductWarehouse(spark, warehouse)
    _land(landing, tmp_path, "products_basic.json", products_basic(10))
    wh.ingest(landing)
    _land(landing, tmp_path, "products_update.json", products_update())
    wh.ingest(landing)

    prods = wh.products().cache()
    assert prods.count() == 10  # upserts, no new keys
    rows = {r["code"]: r for r in prods.collect()}

    r0 = rows["0000000000000"]
    assert r0["product_name"] == "Renamed 0"
    assert json.loads(r0["attrs"]["brands"]) == "NewBrand"  # overwritten
    assert "nutriments" in r0["attrs"]  # omitted → survived

    r1 = rows["0000000000001"]
    assert r1["product_name"] == "Renamed 1"
    assert json.loads(r1["attrs"]["brands"]) == "Brand1"  # survived
    assert json.loads(r1["attrs"]["extra_new"]) == "added"

    # explicit null and absent product_name both overwrite the spine field
    assert rows["0000000000002"]["product_name"] is None
    assert rows["0000000000003"]["product_name"] is None
    assert json.loads(rows["0000000000003"]["attrs"]["brands"]) == "B3"
    prods.unpersist()


def test_intra_file_duplicate_last_wins(spark, warehouse, landing, tmp_path):
    """Ordered bulk_write: the LAST occurrence of a duplicated code wins
    (data_processor.py:101-113)."""
    _land(landing, tmp_path, "products_dup.json", products_dup_within_file())
    wh = ProductWarehouse(spark, warehouse)
    wh.ingest(landing)
    rows = wh.products().filter(F.col("code") == "DUPCODE").collect()
    assert len(rows) == 1
    assert rows[0]["product_name"] == "third"
    assert json.loads(rows[0]["attrs"]["brands"]) == "C"


def test_external_ids_dropped(spark, warehouse, landing, tmp_path):
    """Incoming id/_id are stripped before storage (data_processor.py:82-88)."""
    _land(landing, tmp_path, "products_ext.json", products_external_ids())
    wh = ProductWarehouse(spark, warehouse)
    wh.ingest(landing)
    row = wh.products().filter(F.col("code") == "EXT1").collect()[0]
    assert "id" not in row["attrs"] and "_id" not in row["attrs"]
    assert json.loads(row["attrs"]["brands"]) == "K"


def test_malformed_file_failed_and_retained(spark, warehouse, landing, tmp_path):
    """Truncated JSON → status failed, nothing ingested, landing file kept
    (file_splitter.py:74-81,95-96)."""
    lf = _land(landing, tmp_path, "products_malformed.json", '[{"code": "A1", "product_na')
    wh = ProductWarehouse(spark, warehouse)
    report = wh.ingest(landing)
    assert report.files[lf.file_id]["status"] == STATUS_FAILED
    assert wh.products().count() == 0
    assert list_landed(landing) == [lf.location]  # retained for inspection
    st = wh.ledger.status_of(lf.file_id)
    assert st["status"] == STATUS_FAILED
    assert st["total_records"] == 0  # reference never updates it on failure


def test_empty_file(spark, warehouse, landing, tmp_path):
    """[] → total=0, status processed, nothing stored (file_splitter.py:127-134)."""
    lf = _land(landing, tmp_path, "products_empty.json", [])
    wh = ProductWarehouse(spark, warehouse)
    report = wh.ingest(landing)
    assert report.files[lf.file_id] == {
        "status": STATUS_PROCESSED,
        "total_records": 0,
        "records_processed": 0,
        "records_failed": 0,
    }
    assert wh.products().count() == 0


def test_reingest_idempotent(spark, warehouse, landing, tmp_path):
    """Replaying an already-processed batch is a no-op on the product table
    (checkpoint/replay upgrade of at-least-once redelivery, mq.py:169-175)."""
    src = tmp_path / "p.json"
    write_json(src, products_basic(20))
    wh = ProductWarehouse(spark, warehouse)
    upload(src, landing)
    wh.ingest(landing)
    t1 = sorted((r["code"], r["product_name"]) for r in wh.products().collect())
    # same content re-uploaded (new file_id): table state converges
    upload(src, landing)
    wh.ingest(landing)
    t2 = sorted((r["code"], r["product_name"]) for r in wh.products().collect())
    assert t1 == t2
    # and a second ingest() call with nothing new is a pure no-op
    report = wh.ingest(landing)
    assert report.files == {}


def test_jsonl_ingest(spark, warehouse, landing, tmp_path):
    """JSONL landing format (the splittable at-scale path) parses to the
    same table as the array format."""
    recs = products_basic(30)
    src = tmp_path / "p.jsonl"
    src.write_text("\n".join(json.dumps(r) for r in recs))
    wh = ProductWarehouse(spark, warehouse)
    upload(src, landing)
    report = wh.ingest(landing)
    (stats,) = report.files.values()
    assert stats["records_processed"] == 30
    assert wh.products().count() == 30


def test_find_endpoints(spark, warehouse, landing, tmp_path):
    """Ops 15-17 semantics: point lookup; case-insensitive partial with
    limit 20 and live regex metacharacters; exact is case-sensitive and
    UNlimited (api/main.py:130-184)."""
    _land(landing, tmp_path, "products_unicode.json", products_unicode_names())
    wh = ProductWarehouse(spark, warehouse)
    wh.ingest(landing)
    prods = wh.products().cache()

    assert find_by_code(prods, "U3").collect()[0]["product_name"] == "100% (Bio)"
    assert find_by_code(prods, "NOPE").count() == 0

    # case-insensitive contains: Café / CAFÉ / café all match 'café'
    hits = {r["code"] for r in find_name_partial(prods, "café").collect()}
    assert hits == {"U1", "U2", "U5"}
    # regex metacharacters are live in the reference endpoint shape
    # (api/main.py:157 interpolates unescaped): '(Bio)' becomes a GROUP
    # matching 'Bio' WITHOUT parens, so the literal text does NOT match —
    # the same injection quirk Mongo exhibits…
    assert find_name_partial(prods, "100% (Bio)").count() == 0
    assert {r["code"] for r in find_name_partial(prods, "100% \\(Bio\\)").collect()} == {"U3"}
    # …while the safe variant treats the term literally (and still folds case).
    assert {r["code"] for r in find_name_partial_safe(prods, "100% (bio)").collect()} == {"U3"}

    # exact: case-sensitive, no limit
    assert find_name_exact(prods, "Café au lait").count() == 1
    assert find_name_exact(prods, "café au lait").count() == 0
    prods.unpersist()


def test_partial_search_limit_20(spark, warehouse, landing, tmp_path):
    recs = [{"code": f"L{i}", "product_name": f"limited item {i}"} for i in range(30)]
    _land(landing, tmp_path, "lots.json", recs)
    wh = ProductWarehouse(spark, warehouse)
    wh.ingest(landing)
    assert find_name_partial(wh.products(), "limited").count() == 20
    assert find_name_exact(wh.products(), "limited item 7").count() == 1


def test_cross_file_ordering(spark, warehouse, landing, tmp_path):
    """Two files in one ingest batch: the later-landed file's version of a
    shared code wins (queue arrival order)."""
    import time

    a = tmp_path / "a.json"
    write_json(a, [{"code": "X", "product_name": "from-a"}])
    upload(a, landing)
    time.sleep(1.1)  # landing names are second-resolution timestamps
    b = tmp_path / "b.json"
    write_json(b, [{"code": "X", "product_name": "from-b"}])
    upload(b, landing)
    wh = ProductWarehouse(spark, warehouse)
    wh.ingest(landing)
    assert wh.products().filter(F.col("code") == "X").collect()[0]["product_name"] == "from-b"


def test_large_array_file_splits_into_parallel_tasks(spark, warehouse, landing, tmp_path):
    """A big top-level-array delivery must NOT parse as one executor task:
    above the threshold it is stream-converted to JSONL chunks (one task
    each), while file identity, global record order (last-wins upsert),
    and counters all report against the ORIGINAL landing file."""
    from data_pipeline_challenge_spark.sources.json_ingest import (
        read_bronze_splittable,
    )

    n = 500
    recs = [{"code": f"C{i:05d}", "product_name": f"p{i}", "n": i} for i in range(n)]
    # same code early and late, landing in different chunks: later seq wins
    recs[10] = {"code": "DUP", "product_name": "early"}
    recs[490] = {"code": "DUP", "product_name": "late"}
    lf = _land(landing, tmp_path, "big_array.json", recs)

    # chunking layer in isolation: one landed file → many parse tasks.
    # Parallelism comes from maxPartitionBytes over the envelope-JSONL
    # scratch, so even ONE converted file fans out; shrink the knob to
    # prove the split at test size.
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", 4096)
    try:
        df, failed = read_bronze_splittable(
            spark,
            [lf.location],
            tmp_path / "scratch",
            threshold_bytes=1024,
            chunk_records=50,
        )
        assert failed == []
        assert df.rdd.getNumPartitions() >= 4  # single delivery, many tasks
        rows = df.collect()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    assert len(rows) == n
    assert {r["file_id"] for r in rows} == {lf.file_id}  # identity restored
    assert sorted(r["seq"] for r in rows) == list(range(n))  # global order

    # full pipeline over the chunked parse
    wh = ProductWarehouse(spark, warehouse)
    wh.split_threshold_bytes = 1024
    wh.chunk_records = 50
    report = wh.ingest(landing)
    assert report.files[lf.file_id] == {
        "status": STATUS_PROCESSED,
        "total_records": n,
        "records_processed": n,
        "records_failed": 0,
    }
    # the driver-side conversion pass is measured, not invisible (r11);
    # the landing file is GC'd by now, so check against the source size
    conv = report.conversions[lf.file_id]
    assert conv["seconds"] >= 0 and conv["bytes"] == (tmp_path / "big_array.json").stat().st_size
    products = wh.products()
    assert products.count() == n - 1  # DUP collapsed to one row
    assert (
        products.filter(F.col("code") == "DUP").collect()[0]["product_name"] == "late"
    )
    # scratch chunks were wiped with the batch
    assert not any(p.name.startswith("jsonl_scratch_") for p in wh.dir.iterdir())


def test_malformed_large_array_fails_whole_file(spark, warehouse, landing, tmp_path):
    """Conversion failure (truncated array) takes the whole-file-failure
    path: status=failed, nothing ingested, landing file retained
    (file_splitter.py:74-81)."""
    good = [{"code": f"G{i}", "product_name": "g"} for i in range(40)]
    text = json.dumps(good)[:-10]  # truncate: unterminated array
    lf = _land(landing, tmp_path, "broken_big.json", text)
    wh = ProductWarehouse(spark, warehouse)
    wh.split_threshold_bytes = 64
    wh.chunk_records = 10
    report = wh.ingest(landing)
    assert report.files[lf.file_id]["status"] == STATUS_FAILED
    assert report.files[lf.file_id]["records_processed"] == 0
    assert wh.products().count() == 0
    assert lf.location in list_landed(landing)  # retained for inspection


def test_large_jsonl_file_splits_into_parallel_tasks(spark, warehouse, landing, tmp_path):
    """A big JSONL delivery (the declared at-scale landing format) must
    NOT parse as one whole-file Python task: above the threshold it goes
    to the native splittable text scan, with dense per-file ``seq``
    reconstructed by zipWithIndex — bronze output row-equal (incl. seq)
    to the whole-file parser."""
    from data_pipeline_challenge_spark.sources.json_ingest import (
        read_bronze,
        read_bronze_splittable,
    )

    n = 400
    recs = [{"code": f"J{i:05d}", "product_name": f"p{i}", "n": i} for i in range(n)]
    recs[5] = {"code": "DUP", "product_name": "early"}
    recs[390] = {"code": "DUP", "product_name": "late"}
    # blank lines interleaved: they must not consume a seq (parser parity)
    text = "\n\n".join(json.dumps(r) for r in recs) + "\n"
    lf = _land(landing, tmp_path, "big.jsonl", text)

    df, failed = read_bronze_splittable(
        spark,
        [lf.location],
        tmp_path / "scratch",
        threshold_bytes=1024,
        jsonl_partition_bytes=2048,
    )
    assert failed == []
    assert df.rdd.getNumPartitions() >= 4  # single delivery, many parse tasks
    rows = sorted(df.collect(), key=lambda r: r["seq"])
    reference = sorted(read_bronze(spark, [lf.location]).collect(), key=lambda r: r["seq"])
    assert rows == reference  # row-equal incl. seq
    assert [r["seq"] for r in rows] == list(range(n))

    # full pipeline over the distributed JSONL parse
    wh = ProductWarehouse(spark, warehouse)
    wh.split_threshold_bytes = 1024
    wh.jsonl_partition_bytes = 2048
    report = wh.ingest(landing)
    assert report.files[lf.file_id] == {
        "status": STATUS_PROCESSED,
        "total_records": n,
        "records_processed": n,
        "records_failed": 0,
    }
    products = wh.products()
    assert products.count() == n - 1  # DUP collapsed, later seq wins
    assert (
        products.filter(F.col("code") == "DUP").collect()[0]["product_name"] == "late"
    )


def test_malformed_large_jsonl_fails_whole_file(spark, warehouse, landing, tmp_path):
    """A bad line in a big JSONL file is detected executor-side (sentinel
    rows in bronze) and drives the same whole-file-failure contract as the
    whole-file parser: status=failed, nothing ingested, file retained."""
    recs = [{"code": f"B{i}", "product_name": "b"} for i in range(120)]
    lines = [json.dumps(r) for r in recs]
    lines[60] = '{"code": "oops", truncated'
    lf = _land(landing, tmp_path, "broken_big.jsonl", "\n".join(lines) + "\n")
    wh = ProductWarehouse(spark, warehouse)
    wh.split_threshold_bytes = 64
    wh.jsonl_partition_bytes = 512
    report = wh.ingest(landing)
    assert report.files[lf.file_id]["status"] == STATUS_FAILED
    assert wh.products().count() == 0
    assert lf.location in list_landed(landing)  # retained for inspection


def test_ledger_point_status_fast_path(spark, warehouse, landing, tmp_path):
    """GET /upload/status must be a keyed point lookup, not an event-log
    replay — the reference's O(1) ``UploadedFile.get``
    (api/main.py:106-127). Pins: (a) every append compacts a
    current-state table, (b) ``status_of`` reads it with a pushed-down
    file_id filter and NO window/shuffle in the plan, (c) the compacted
    state equals the full-log replay after multi-event histories."""
    lf1 = _land(landing, tmp_path, "a.json", products_basic(10))
    lf2 = _land(landing, tmp_path, "b.json", "not json at all")
    wh = ProductWarehouse(spark, warehouse)
    # pre-ingest 'uploaded' events (the API route writes these), then the
    # ingest outcome events — two events per file in the log.
    import datetime as dt

    for lf in (lf1, lf2):
        wh.ledger.append(
            [
                {
                    "file_id": lf.file_id,
                    "filename": lf.filename,
                    "location": lf.location,
                    "uploaded_at": dt.datetime.fromtimestamp(
                        lf.uploaded_at, dt.timezone.utc
                    ).replace(tzinfo=None),
                    "content_type": "application/json",
                    "status": "uploaded",
                    "total_records": 0,
                    "records_processed": 0,
                    "records_failed": 0,
                }
            ]
        )
    wh.ingest(landing)

    # (a) compacted state exists and holds exactly one row per file
    assert wh.ledger._state_exists()
    state = spark.read.parquet(wh.ledger.state_path)
    assert state.count() == 2
    assert state.select("file_id").distinct().count() == 2

    # (b) point-lookup plan: scans the compacted state (not the event
    # log) with a parquet filter pushdown and no window replay. The exact
    # PushedFilters rendering is Spark-version-dependent (DSv1 vs DSv2),
    # so assert the stable facts only: state scan, some pushdown, no
    # Window operator.
    q = wh.ledger.current().filter(F.col("file_id") == lf1.file_id)
    plan = spark._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted"
    )
    assert "ledger_state" in plan
    assert "PushedFilters" in plan and "file_id" in plan
    assert "Window" not in plan

    # (c) semantics: compacted winners == full-log replay winners
    replay = {
        r["file_id"]: (r["status"], r["records_processed"])
        for r in wh.ledger._latest_per_file(wh.ledger.read_events()).collect()
    }
    compacted = {
        r["file_id"]: (r["status"], r["records_processed"])
        for r in wh.ledger.current().collect()
    }
    assert compacted == replay
    assert wh.ledger.status_of(lf1.file_id)["status"] == STATUS_PROCESSED
    assert wh.ledger.status_of(lf2.file_id)["status"] == STATUS_FAILED
    assert wh.ledger.status_of("nope") is None


def test_ledger_compact_seeds_from_log_when_state_missing(
    spark, warehouse, landing, tmp_path
):
    """A warehouse whose event log predates the state table (legacy
    layout, or a crash that destroyed the cache) must not lose statuses:
    the next append's compaction seeds from the full log, and current()
    falls back to log replay meanwhile. Regression for the empty-seed
    data-loss bug (ADVICE r4, high)."""
    import shutil

    from data_pipeline_challenge_spark.sources.ledger import LedgerStore

    lf = _land(landing, tmp_path, "a.json", products_basic(5))
    wh = ProductWarehouse(spark, warehouse)
    wh.ingest(landing)
    ledger = wh.ledger
    assert ledger._state_exists()

    # Simulate the legacy/crash layout: events exist, state cache gone.
    state = Path(ledger.state_path)
    if state.is_symlink():
        target = state.parent / os.readlink(state)
        state.unlink()
        shutil.rmtree(target, ignore_errors=True)
    else:
        shutil.rmtree(state)
    assert not ledger._state_exists()

    # current() must still answer from the log.
    assert ledger.status_of(lf.file_id)["status"] == STATUS_PROCESSED

    # The next append must fold the FULL log, not just the new event:
    # the pre-existing file's status survives into the rebuilt cache.
    other = LedgerStore(spark, warehouse)
    other.append(
        [
            {
                "file_id": "brand-new-file",
                "filename": "b.json",
                "location": "x",
                "uploaded_at": dt.datetime(2026, 1, 1),
                "content_type": "application/json",
                "status": "uploaded",
                "total_records": 0,
                "records_processed": 0,
                "records_failed": 0,
            }
        ]
    )
    assert other._state_exists()
    cached = {
        r["file_id"]: r["status"]
        for r in spark.read.parquet(other.state_path).collect()
    }
    assert cached[lf.file_id] == STATUS_PROCESSED  # would be absent pre-fix
    assert cached["brand-new-file"] == "uploaded"


def test_ledger_state_swap_is_symlink_publish(spark, warehouse, landing, tmp_path):
    """The state table is published by atomically replacing a symlink —
    at no point does the ``ledger_state`` path name a partially-written
    table, and a legacy real-directory state is migrated on the next
    append. Regression for the two-rename swap gap (ADVICE r4, medium)."""
    import shutil

    _land(landing, tmp_path, "a.json", products_basic(3))
    wh = ProductWarehouse(spark, warehouse)
    wh.ingest(landing)
    state = Path(wh.ledger.state_path)
    assert state.is_symlink()
    # exactly one live version dir, pointed to by the symlink
    versions = wh.ledger._versions()
    assert len(versions) == 1
    assert (state.parent / os.readlink(state)) == versions[0]

    # Legacy migration: replace the symlink with a real directory (the
    # pre-symlink layout), then append — the store must end up back on
    # the symlink layout with the old rows intact.
    target = state.parent / os.readlink(state)
    state.unlink()
    shutil.copytree(target, state.parent / "real_state_tmp")
    shutil.rmtree(target)
    (state.parent / "real_state_tmp").rename(state)
    assert state.is_dir() and not state.is_symlink()

    before = {
        r["file_id"]: r["status"]
        for r in spark.read.parquet(wh.ledger.state_path).collect()
    }
    wh.ledger.append(
        [
            {
                "file_id": "post-migration",
                "filename": "c.json",
                "location": "y",
                "uploaded_at": dt.datetime(2026, 1, 1),
                "content_type": "application/json",
                "status": "uploaded",
                "total_records": 0,
                "records_processed": 0,
                "records_failed": 0,
            }
        ]
    )
    assert state.is_symlink()
    after = {
        r["file_id"]: r["status"]
        for r in spark.read.parquet(wh.ledger.state_path).collect()
    }
    assert after["post-migration"] == "uploaded"
    for fid, st in before.items():
        assert after[fid] == st


def _ledger_row(file_id: str, status: str, n: int = 0) -> dict:
    import datetime as dt

    return {
        "file_id": file_id,
        "filename": f"{file_id}.json",
        "location": f"/landing/{file_id}",
        "uploaded_at": dt.datetime(2024, 1, 1),
        "content_type": "application/json",
        "status": status,
        "total_records": n,
        "records_processed": n,
        "records_failed": 0,
    }


def test_ledger_cross_process_lock_blocks_second_writer(spark, tmp_path):
    """Two writer processes on one warehouse serialize on the flock: while
    a peer holds <warehouse>/ledger.lock, append() blocks (not corrupts,
    not raises) and completes after release — the compaction's
    read-merge-publish can never interleave across processes."""
    import fcntl
    import os
    import threading
    import time

    from data_pipeline_challenge_spark.sources.ledger import LedgerStore

    store = LedgerStore(spark, tmp_path)
    store.append([_ledger_row("f1", "uploaded")])

    # Hold the flock the way a second ApiServer process would (flock on a
    # separate open file description conflicts even within one process).
    fd = os.open(tmp_path / "ledger.lock", os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX)
    done = threading.Event()
    t = threading.Thread(
        target=lambda: (store.append([_ledger_row("f2", "uploaded")]), done.set()),
        daemon=True,
    )
    t.start()
    time.sleep(1.5)
    assert not done.is_set()  # blocked while the peer holds the lock
    fcntl.flock(fd, fcntl.LOCK_UN)
    os.close(fd)
    assert done.wait(120)  # proceeds once the peer releases
    assert store.read_events().count() == 2
    assert {r["file_id"] for r in store.current().collect()} == {"f1", "f2"}


def test_products_reader_survives_concurrent_republish(spark, tmp_path, landing):
    """A reader that planned against the current products version must
    still be able to scan after a concurrent merge publishes a new
    version: versions are symlink-published with two-version retention
    (the ledger/rollup discipline), not renamed over."""
    import json

    from data_pipeline_challenge_spark.pipeline import ProductWarehouse
    from data_pipeline_challenge_spark.sources.landing import upload

    wh = ProductWarehouse(spark, tmp_path / "wh")
    upload(json.dumps([{"code": "0001", "product_name": "A"}]).encode(),
           landing, orig_name="a.json")
    wh.ingest(landing)

    pinned = wh.products()  # resolves + pins the current version dir
    upload(json.dumps([{"code": "0002", "product_name": "B"}]).encode(),
           landing, orig_name="b.json")
    wh.ingest(landing)  # publishes a new version

    # the pinned plan still scans its (retained) version
    assert {r["code"] for r in pinned.collect()} == {"0001"}
    # a fresh resolution sees the merged table
    assert {r["code"] for r in wh.products().collect()} == {"0001", "0002"}
    # the published path is a symlink now; retention keeps <= 2 versions
    assert (tmp_path / "wh" / "products").is_symlink()
    assert len(wh._product_versions()) <= 2


def test_products_legacy_dir_migrates_to_versioned(spark, tmp_path, landing):
    """A pre-versioning warehouse (products as a REAL directory) must keep
    serving reads, and the next merge must migrate it to the versioned
    symlink layout without losing rows."""
    import json
    import os
    import shutil

    from data_pipeline_challenge_spark.pipeline import ProductWarehouse
    from data_pipeline_challenge_spark.sources.landing import upload

    wh = ProductWarehouse(spark, tmp_path / "wh")
    upload(json.dumps([{"code": "0001", "product_name": "A"}]).encode(),
           landing, orig_name="a.json")
    wh.ingest(landing)

    # Rewind to the legacy layout: real directory, no versions, no symlink.
    p = tmp_path / "wh" / "products"
    target = p.parent / os.readlink(p)
    p.unlink()
    shutil.copytree(target, p)
    for v in wh._product_versions():
        shutil.rmtree(v)
    assert p.is_dir() and not p.is_symlink()
    assert {r["code"] for r in wh.products().collect()} == {"0001"}

    upload(json.dumps([{"code": "0002", "product_name": "B"}]).encode(),
           landing, orig_name="b.json")
    wh.ingest(landing)
    assert (tmp_path / "wh" / "products").is_symlink()  # migrated
    assert {r["code"] for r in wh.products().collect()} == {"0001", "0002"}
    assert not (tmp_path / "wh" / "products.legacy").exists()


def test_ledger_tiebreak_ranks_terminal_over_uploaded(spark):
    """On an exact event_ts tie, the latest-per-file winner must be the
    lifecycle-later status (terminal > processing > uploaded) — the
    alphabetic fallback alone would rank 'uploaded' above 'processed' and
    re-pend a finished file."""
    import datetime as dt

    from data_pipeline_challenge_spark.schema import LEDGER_SCHEMA
    from data_pipeline_challenge_spark.sources.ledger import LedgerStore

    ts = dt.datetime(2024, 6, 1, 12, 0, 0)

    def row(status):
        return ("f1", "f1.json", "/landing/f1", ts, "application/json",
                status, 5, 5, 0, ts)

    for pair, want in (
        (("uploaded", "processed"), "processed"),
        (("processed", "uploaded"), "processed"),
        (("uploaded", "failed"), "failed"),
        (("processing", "uploaded"), "processing"),
        (("processed_with_errors", "processing"), "processed_with_errors"),
    ):
        df = spark.createDataFrame([row(s) for s in pair], LEDGER_SCHEMA)
        got = LedgerStore._latest_per_file(df).collect()
        assert len(got) == 1 and got[0]["status"] == want, (pair, want)


def test_compact_products_online_reader_survives(spark, tmp_path, landing):
    """Online compaction publishes the compacted copy as the next version
    through the symlink-swap protocol: a reader planned against the
    pre-compaction version keeps scanning it (two-version retention), new
    readers see the same rows in fewer files, and a later merge continues
    the version chain from the compacted table."""
    import json

    from data_pipeline_challenge_spark.pipeline import ProductWarehouse
    from data_pipeline_challenge_spark.sources.landing import upload

    wh = ProductWarehouse(spark, tmp_path / "wh")
    # two merges -> multi-file version dirs in the chain
    for i, name in enumerate("ab"):
        upload(
            json.dumps(
                [{"code": f"{i}{j:03d}", "product_name": name} for j in range(20)]
            ).encode(),
            landing,
            orig_name=f"{name}.json",
        )
        wh.ingest(landing)

    pinned = wh.products()  # resolves + pins the pre-compaction version
    before = {r["code"] for r in pinned.collect()}

    rep = wh.compact_products(target_file_bytes=1 << 30)  # -> 1 file
    assert rep is not None
    assert rep.files_after <= rep.files_before
    assert rep.files_after == 1

    # pinned plan still scans its retained version after the publish
    assert {r["code"] for r in pinned.collect()} == before
    # fresh resolution reads the compacted version, same rows
    assert {r["code"] for r in wh.products().collect()} == before
    assert (tmp_path / "wh" / "products").is_symlink()
    assert len(wh._product_versions()) <= 2

    # a merge after compaction continues the chain without losing rows
    upload(json.dumps([{"code": "zzzz", "product_name": "C"}]).encode(),
           landing, orig_name="c.json")
    wh.ingest(landing)
    assert {r["code"] for r in wh.products().collect()} == before | {"zzzz"}


def test_products_cross_process_lock_blocks_second_merger(spark, tmp_path, landing):
    """While a peer process holds <warehouse>/products.lock, a merge's
    read-merge-publish blocks (not corrupts, not races to the same next
    version) and completes after release — the products twin of the
    ledger flock test."""
    import fcntl
    import json
    import os
    import threading
    import time

    from data_pipeline_challenge_spark.pipeline import ProductWarehouse
    from data_pipeline_challenge_spark.sources.landing import upload

    wh = ProductWarehouse(spark, tmp_path / "wh")
    upload(json.dumps([{"code": "0001", "product_name": "A"}]).encode(),
           landing, orig_name="a.json")
    wh.ingest(landing)

    fd = os.open(tmp_path / "wh" / "products.lock", os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX)
    upload(json.dumps([{"code": "0002", "product_name": "B"}]).encode(),
           landing, orig_name="b.json")
    done = threading.Event()
    t = threading.Thread(
        target=lambda: (wh.ingest(landing), done.set()), daemon=True
    )
    t.start()
    time.sleep(1.5)
    assert not done.is_set()  # merge blocked at the critical section
    fcntl.flock(fd, fcntl.LOCK_UN)
    os.close(fd)
    assert done.wait(120)
    assert {r["code"] for r in wh.products().collect()} == {"0001", "0002"}


def test_products_fallback_ignores_torn_version(spark, tmp_path, landing):
    """The newest-version fallback (no symlink) must not trust a version
    dir without _SUCCESS: a crash mid-write leaves a torn table that a
    merge would otherwise propagate. An older complete version wins; with
    no complete version at all the table reads as absent."""
    import json
    import os

    from data_pipeline_challenge_spark.pipeline import ProductWarehouse
    from data_pipeline_challenge_spark.sources.landing import upload

    wh = ProductWarehouse(spark, tmp_path / "wh")
    upload(json.dumps([{"code": "0001", "product_name": "A"}]).encode(),
           landing, orig_name="a.json")
    wh.ingest(landing)

    whdir = tmp_path / "wh"
    (whdir / "products").unlink()  # crash window: version written, unpublished
    # a half-written next version: files but no _SUCCESS
    torn = whdir / "products.v99"
    torn.mkdir()
    published = [v for v in wh._product_versions() if v.name != "products.v99"]
    src = next(p for p in published[-1].iterdir() if p.suffix == ".parquet")
    (torn / src.name).write_bytes(src.read_bytes()[: len(src.read_bytes()) // 2])

    # fallback skips the torn v99 and serves the newest COMPLETE version
    assert {r["code"] for r in wh.products().collect()} == {"0001"}

    # with no complete version, the table is absent (empty), not torn
    for v in wh._product_versions():
        s = v / "_SUCCESS"
        if s.exists():
            os.remove(s)
    assert wh.products().count() == 0
    assert not wh._has_products()


def test_ledger_hist_retention_in_no_symlink_window(spark, tmp_path):
    """A checkpoint running while the hist symlink is missing (crash
    between a previous checkpoint's version write and its symlink swap)
    must retain the version fallback readers are pinned to: prev_hist is
    captured BEFORE the new version dir exists, because afterwards the
    newest-complete fallback resolves to the new dir itself and
    retention would delete the readers' version."""
    import datetime as dt

    from data_pipeline_challenge_spark.sources.ledger import LedgerStore

    ledger = LedgerStore(spark, tmp_path / "wh")
    ledger.TAIL_MAX_FILES = 1
    ts = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)

    def ev(i, status="uploaded"):
        return {
            "file_id": f"f{i}", "filename": f"f{i}", "location": "x",
            "uploaded_at": ts, "event_ts": ts, "content_type": "application/json",
            "status": status, "total_records": 0, "records_processed": 0,
            "records_failed": 0,
        }

    for i in range(3):
        ledger.append([ev(i)])  # exceeds TAIL_MAX_FILES -> checkpoints
    hist_versions = ledger._versions(ledger.hist_path)
    assert hist_versions, "expected a checkpointed history version"
    v_prev = hist_versions[-1]

    # crash window: symlink gone, fallback readers pin v_prev
    import os

    os.unlink(ledger.hist_path)
    # exactly ONE more checkpoint (tail refills past the threshold):
    # retention must keep {new, v_prev}, not resolve prev to the
    # just-written version and delete v_prev
    while ledger._versions(ledger.hist_path)[-1] == v_prev:
        ledger.append([ev(10 + len(ledger._tail_files()))])

    assert v_prev.exists(), "fallback readers' hist version was deleted"
    # and the full view still serves the original files
    served = {r["file_id"] for r in ledger.current().collect()}
    assert {f"f{i}" for i in range(3)} <= served


def test_retention_keeps_pinned_version_over_crash_remnant(spark, tmp_path, landing):
    """A COMPLETE but never-published version — the remnant of a crash
    between the version rename and the symlink replace — must not displace
    the just-retired live version from retention: ranking 'newest complete'
    would delete the directory a pinned reader is still scanning, while
    keeping a stale dir no reader can reach. Retention keeps {new,
    previously-published} by identity instead."""
    import json
    import shutil

    from data_pipeline_challenge_spark.pipeline import ProductWarehouse
    from data_pipeline_challenge_spark.sources.landing import upload

    whdir = tmp_path / "wh"
    wh = ProductWarehouse(spark, whdir)
    wh.delta_fold_threshold = None  # exercise the publish path per merge
    upload(json.dumps([{"code": "0001", "product_name": "A"}]).encode(),
           landing, orig_name="a.json")
    wh.ingest(landing)
    upload(json.dumps([{"code": "0002", "product_name": "B"}]).encode(),
           landing, orig_name="b.json")
    wh.ingest(landing)

    live = (whdir / "products").resolve()  # the published version
    # Crash remnant: a complete (has _SUCCESS) higher version that was
    # never published.
    shutil.copytree(live, whdir / "products.v99")

    pinned = wh.products()  # a reader pinned to the live version
    upload(json.dumps([{"code": "0003", "product_name": "C"}]).encode(),
           landing, orig_name="c.json")
    wh.ingest(landing)  # publishes v100

    assert live.exists(), "just-retired published version was deleted"
    assert not (whdir / "products.v99").exists(), "stale remnant retained"
    assert (whdir / "products").resolve().name == "products.v100"
    assert pinned.count() == 2  # the pinned scan still serves
    assert {r["code"] for r in wh.products().collect()} == {"0001", "0002", "0003"}


def test_products_delta_view_equals_always_fold(spark, tmp_path, landing):
    """Merge-on-read equivalence: a warehouse accumulating delta dirs must
    serve EXACTLY the table a warehouse folding every merge serves — same
    landed files, same order, overlapping codes, $set field-survival
    semantics (absent attr keys survive, explicit nulls overwrite),
    last-wins within and across files."""
    import json

    from data_pipeline_challenge_spark.pipeline import ProductWarehouse
    from data_pipeline_challenge_spark.sources.landing import upload

    wh_delta = ProductWarehouse(spark, tmp_path / "wh_delta")  # deltas on
    wh_fold = ProductWarehouse(spark, tmp_path / "wh_fold")
    wh_fold.delta_fold_threshold = None  # fold every merge (pre-delta path)

    rounds = [
        [{"code": "A", "product_name": "a1", "k1": "v1", "k2": "v2"},
         {"code": "B", "product_name": "b1", "k1": "w1"}],
        [{"code": "A", "product_name": None, "k2": "v2x", "k3": "v3"},
         {"code": "C", "product_name": "c1"}],
        [{"code": "B", "product_name": "b2", "k9": None},
         {"code": "A", "product_name": "a3"},
         {"code": "A", "product_name": "a4", "k1": "v1z"}],  # intra-file dup
    ]
    for i, recs in enumerate(rounds):
        upload(json.dumps(recs).encode(), landing, orig_name=f"r{i}.json")
        wh_delta.ingest(landing, delete_processed=False)
        wh_fold.ingest(landing)  # deletes processed; next round starts clean

    def norm(wh):
        return {
            r["code"]: (
                r["product_name"],
                r["file_id"],
                tuple(sorted(r["attrs"].items())),
            )
            for r in wh.products().collect()
        }

    # the delta warehouse really is on the delta path
    base = wh_delta._resolve_products_dir()
    assert len(wh_delta._delta_dirs(base)) == 2  # rounds 2 and 3
    assert norm(wh_delta) == norm(wh_fold)


def test_products_delta_fold_and_retention(spark, tmp_path, landing):
    """Delta lifecycle: merges append delta dirs without publishing a new
    base until delta_fold_threshold, the fold publishes the composed view
    as the next base, and a reader pinned to old base + deltas survives
    exactly one publish (the old base and ITS deltas die together at the
    following one)."""
    import json

    from data_pipeline_challenge_spark.pipeline import ProductWarehouse
    from data_pipeline_challenge_spark.sources.landing import upload

    whdir = tmp_path / "wh"
    wh = ProductWarehouse(spark, whdir)
    wh.delta_fold_threshold = 2

    def land_and_ingest(i):
        upload(json.dumps([{"code": f"{i:04d}", "product_name": f"p{i}"}]).encode(),
               landing, orig_name=f"f{i}.json")
        wh.ingest(landing)

    land_and_ingest(1)  # empty warehouse -> full write v1
    assert (whdir / "products").resolve().name == "products.v1"
    land_and_ingest(2)  # -> v1.d1, no new base
    assert (whdir / "products.v1.d1").exists()
    assert (whdir / "products").resolve().name == "products.v1"
    assert {r["code"] for r in wh.products().collect()} == {"0001", "0002"}

    pinned = wh.products()  # composed plan over v1 + v1.d1
    land_and_ingest(3)  # -> v1.d2, threshold reached -> fold -> v2
    assert (whdir / "products").resolve().name == "products.v2"
    # pinned reader survives the fold: old base AND its deltas retained
    assert (whdir / "products.v1").exists()
    assert (whdir / "products.v1.d1").exists()
    assert {r["code"] for r in pinned.collect()} == {"0001", "0002"}
    assert {r["code"] for r in wh.products().collect()} == {"0001", "0002", "0003"}

    land_and_ingest(4)  # -> v2.d1
    land_and_ingest(5)  # -> v2.d2 -> fold -> v3; v1 + its deltas retired
    assert (whdir / "products").resolve().name == "products.v3"
    assert not (whdir / "products.v1").exists()
    assert not (whdir / "products.v1.d1").exists()
    assert (whdir / "products.v2").exists()  # previously-read, retained
    assert {r["code"] for r in wh.products().collect()} == {
        "0001", "0002", "0003", "0004", "0005"
    }


def test_products_delta_view_never_shuffles_base(spark, tmp_path, landing):
    """The composed merge-on-read plan must never shuffle the base table:
    the delta code set broadcasts (semi/anti), so at 100 TB a small-batch
    upsert's READ path costs O(deltas), not a base repartition. No
    SortMergeJoin anywhere in the plan."""
    import json

    from data_pipeline_challenge_spark.pipeline import ProductWarehouse
    from data_pipeline_challenge_spark.sources.landing import upload

    wh = ProductWarehouse(spark, tmp_path / "wh")
    for i in range(2):
        upload(
            json.dumps(
                [{"code": f"{i}{j:03d}", "product_name": "x"} for j in range(50)]
            ).encode(),
            landing,
            orig_name=f"f{i}.json",
        )
        wh.ingest(landing)
    base = wh._resolve_products_dir()
    assert wh._delta_dirs(base)  # composed path active

    plan = spark._jvm.PythonSQLUtils.explainString(
        wh.products()._jdf.queryExecution(), "formatted"
    )
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_products_delta_commit_marker_and_orphan_sweep(spark, tmp_path, landing):
    """Delta commitment must not depend on parquet's _SUCCESS (a
    committer artifact sessions can disable — losing it must not make
    ingested data invisible); an all-invalid batch must not append an
    empty delta or advance the fold counter; and retired bases' delta
    dirs (and crashed tmps) are swept even when the base is retired by
    the delta-blind compact_published_table branch."""
    import json
    import os

    from data_pipeline_challenge_spark.pipeline import ProductWarehouse
    from data_pipeline_challenge_spark.sources.landing import upload

    whdir = tmp_path / "wh"
    wh = ProductWarehouse(spark, whdir)
    upload(json.dumps([{"code": "0001", "product_name": "A"}]).encode(),
           landing, orig_name="a.json")
    wh.ingest(landing)  # base v1
    upload(json.dumps([{"code": "0002", "product_name": "B"}]).encode(),
           landing, orig_name="b.json")
    wh.ingest(landing)  # delta v1.d1

    # _SUCCESS is not load-bearing: remove it, rows must still serve
    succ = whdir / "products.v1.d1" / "_SUCCESS"
    if succ.exists():
        os.remove(succ)
    assert (whdir / "products.v1.d1" / "_delta_commit").exists()
    assert {r["code"] for r in wh.products().collect()} == {"0001", "0002"}

    # an all-invalid batch appends nothing and folds nothing
    upload(b"this is not json", landing, orig_name="bad.json")
    wh.ingest(landing)
    base = wh._resolve_products_dir()
    assert len(wh._delta_dirs(base)) == 1
    assert base.name == "products.v1"

    # fold+compact (deltas live) -> v2; old base + delta retained
    wh.compact_products(target_file_bytes=1 << 30)
    assert (whdir / "products.v1.d1").exists()
    # plant a crashed tmp of the retired-soon base
    (whdir / "products.v1.d9.tmp").mkdir()
    # compact again (no deltas) -> v3 via compact_published_table;
    # v1 retires and its delta dirs/tmps must not leak
    wh.compact_products(target_file_bytes=1 << 30)
    assert not (whdir / "products.v1").exists()
    assert not (whdir / "products.v1.d1").exists()
    assert not (whdir / "products.v1.d9.tmp").exists()
    assert {r["code"] for r in wh.products().collect()} == {"0001", "0002"}


def test_ledger_event_log_stays_bounded(spark, tmp_path):
    """A long-lived warehouse's event log must not accrete one small file
    per append forever: past TAIL_MAX_FILES the tail checkpoints into a
    compacted ledger_hist version (winners only, symlink-published,
    two-version retention) and truncates, so file count stays bounded
    while every file's CURRENT status — including transitions that
    happened before a checkpoint — survives replay."""
    from data_pipeline_challenge_spark.sources.ledger import LedgerStore

    store = LedgerStore(spark, tmp_path)
    store.TAIL_MAX_FILES = 3

    for i in range(8):
        store.append([_ledger_row(f"f{i}", "uploaded")])
    # transition an early file AFTER its upload event was checkpointed
    store.append([_ledger_row("f0", "processed")])
    for i in range(8, 12):
        store.append([_ledger_row(f"f{i}", "uploaded")])

    # bounded: the tail can hold at most TAIL_MAX_FILES+1 files before the
    # next append checkpoints it; history is a handful of compacted files
    assert len(store._tail_files()) <= store.TAIL_MAX_FILES + 1
    assert (tmp_path / "ledger_hist").is_symlink()
    assert len(store._versions(store.hist_path)) <= 2

    # nothing lost: every file readable, the pre-checkpoint transition won
    replay = {
        r["file_id"]: r["status"]
        for r in store._latest_per_file(store.read_events()).collect()
    }
    assert set(replay) == {f"f{i}" for i in range(12)}
    assert replay["f0"] == "processed"
    current = {r["file_id"]: r["status"] for r in store.current().collect()}
    assert current == replay
    assert store.status_of("f0")["status"] == "processed"

    # recovery still works with the state cache gone (hist ∪ tail suffices)
    import shutil

    state = tmp_path / "ledger_state"
    if state.is_symlink():
        state.unlink()
    for v in store._versions():
        shutil.rmtree(v, ignore_errors=True)
    recovered = {r["file_id"]: r["status"] for r in store.current().collect()}
    assert recovered == replay


def test_ledger_hist_fallback_ignores_torn_version(spark, tmp_path):
    """A crash mid-checkpoint leaves a torn ledger_hist version with no
    symlink published and the tail intact; the hist fallback must ignore
    the torn dir (no _SUCCESS) so reads keep working from the tail."""
    from data_pipeline_challenge_spark.sources.ledger import LedgerStore

    store = LedgerStore(spark, tmp_path)
    store.append([_ledger_row("f1", "uploaded")])
    store.append([_ledger_row("f2", "processed")])

    torn = tmp_path / "ledger_hist.v1"
    torn.mkdir()
    (torn / "part-00000.parquet").write_bytes(b"\x00not parquet")

    replay = {
        r["file_id"]: r["status"]
        for r in store._latest_per_file(store.read_events()).collect()
    }
    assert replay == {"f1": "uploaded", "f2": "processed"}
    assert store.status_of("f2")["status"] == "processed"


def test_products_retention_skips_torn_versions(spark, tmp_path, landing):
    """Version retention must rank only COMPLETE versions: a torn
    higher-numbered crash remnant (no _SUCCESS) is deleted outright and
    must not displace the just-retired live version from the keep-2
    window — a pinned reader may still be scanning it."""
    import json

    from data_pipeline_challenge_spark.pipeline import ProductWarehouse
    from data_pipeline_challenge_spark.sources.landing import upload

    wh = ProductWarehouse(spark, tmp_path / "wh")
    wh.delta_fold_threshold = None  # exercise the publish path per merge
    upload(json.dumps([{"code": "0001", "product_name": "A"}]).encode(),
           landing, orig_name="a.json")
    wh.ingest(landing)

    # torn crash remnant with a HIGHER version number than the live one
    torn = tmp_path / "wh" / "products.v99"
    torn.mkdir()
    (torn / "part-0.parquet").write_bytes(b"\x00torn")

    pinned = wh.products()  # pins the current (pre-merge) version
    upload(json.dumps([{"code": "0002", "product_name": "B"}]).encode(),
           landing, orig_name="b.json")
    wh.ingest(landing)  # publishes the next version + runs retention

    assert not torn.exists()  # crash remnant cleaned, not retained
    # the pinned pre-merge version survived retention (keep-2 of complete)
    assert {r["code"] for r in pinned.collect()} == {"0001"}
    assert {r["code"] for r in wh.products().collect()} == {"0001", "0002"}
    assert len(wh._product_versions()) <= 2


def _jobs_launched(spark, fn) -> int:
    """Spark jobs ``fn()`` launches, counted through a job group once the
    listener bus has delivered every job-start event."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


_LOCAL_FRAME_ROWS = [
    # nulls in every nullable column, naive timestamps on both sides of
    # daylight saving time, microsecond precision
    ("f1", "a.json", "/l/a", dt.datetime(2024, 3, 10, 6, 30, 1, 123456), None,
     "uploaded", None, None, None, dt.datetime(2024, 7, 4, 23, 15, 0, 7)),
    ("f2", "b.json", "/l/b", dt.datetime(1999, 12, 31, 23, 59, 59), "text/x",
     "processed", 5, 4, 1, dt.datetime(2026, 1, 1)),
]


@pytest.mark.parametrize(
    "process_tz,session_tz",
    [("America/New_York", "UTC"), ("UTC", "Asia/Kolkata")],
)
def test_local_frame_matches_create_dataframe(spark, process_tz, session_tz):
    """local_frame returns exactly the rows createDataFrame(list) returns
    and stores the same instants, whatever the process and session time
    zones: a naive datetime means process-local time on both paths (a
    plain Arrow table of naive datetimes would shift by the zone offset)."""
    import time

    from data_pipeline_challenge_spark.schema import LEDGER_SCHEMA
    from data_pipeline_challenge_spark.session import local_frame

    old_tz = os.environ.get("TZ")
    old_session_tz = spark.conf.get("spark.sql.session.timeZone")
    os.environ["TZ"] = process_tz
    time.tzset()
    spark.conf.set("spark.sql.session.timeZone", session_tz)
    try:
        got = local_frame(spark, _LOCAL_FRAME_ROWS, LEDGER_SCHEMA)
        want = spark.createDataFrame(_LOCAL_FRAME_ROWS, LEDGER_SCHEMA)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
        assert got.collect()[0]["event_ts"] == dt.datetime(2024, 7, 4, 23, 15, 0, 7)

        def micros(df):
            return df.select(
                F.unix_micros("uploaded_at"), F.unix_micros("event_ts")
            ).collect()

        assert micros(got) == micros(want)
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
        spark.conf.set("spark.sql.session.timeZone", old_session_tz)


def test_local_frame_empty_and_null_checks(spark):
    """An empty list gives an empty frame of the schema (the empty-table
    fallbacks use it, map columns included), a DDL string schema works,
    and a None in a non-nullable field raises like the list path does."""
    from data_pipeline_challenge_spark.schema import LEDGER_SCHEMA, PRODUCT_SCHEMA
    from data_pipeline_challenge_spark.session import local_frame

    for schema in (LEDGER_SCHEMA, PRODUCT_SCHEMA):
        empty = local_frame(spark, [], schema)
        assert empty.schema == schema
        assert empty.collect() == []
    assert local_frame(spark, [("a", 1)], "file_id string, n long").collect() == [
        ("a", 1)
    ]
    with pytest.raises(ValueError, match="file_id"):
        local_frame(spark, [(None, *_LOCAL_FRAME_ROWS[0][1:])], LEDGER_SCHEMA)


def test_local_frame_is_a_local_relation_with_no_job(spark):
    """The optimized plan is a LocalRelation, so building and collecting
    the frame launches no Spark job (createDataFrame(list) launches one
    per action)."""
    from data_pipeline_challenge_spark.schema import LEDGER_SCHEMA
    from data_pipeline_challenge_spark.session import local_frame

    df = local_frame(spark, _LOCAL_FRAME_ROWS, LEDGER_SCHEMA)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan
    assert _jobs_launched(
        spark, lambda: local_frame(spark, _LOCAL_FRAME_ROWS, LEDGER_SCHEMA).collect()
    ) == 0
    assert _jobs_launched(
        spark,
        lambda: spark.createDataFrame(_LOCAL_FRAME_ROWS, LEDGER_SCHEMA).collect(),
    ) == 1


def test_ledger_append_single_file_state_costs_two_jobs(spark, tmp_path):
    """While the state is one file, an append is the tail write plus the
    state write, and the state fold runs on one partition: its plan holds
    no Exchange (no shuffle, no separate map-stage job)."""
    from data_pipeline_challenge_spark.schema import LEDGER_SCHEMA
    from data_pipeline_challenge_spark.session import local_frame
    from data_pipeline_challenge_spark.sources.ledger import LedgerStore

    store = LedgerStore(spark, tmp_path)
    store.append([_ledger_row("f1", "uploaded")])  # first append: no state yet
    assert _jobs_launched(
        spark, lambda: store.append([_ledger_row("f2", "uploaded")])
    ) <= 2
    assert _jobs_launched(
        spark, lambda: store.append([_ledger_row("f1", "processed", 3)])
    ) <= 2

    new = local_frame(
        spark,
        [tuple({**_ledger_row("f3", "uploaded"), "event_ts": dt.datetime(2024, 1, 2)}
               .get(f.name) for f in LEDGER_SCHEMA.fields)],
        LEDGER_SCHEMA,
    )
    plan = store._fold(new)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert {r["file_id"]: r["status"] for r in store.current().collect()} == {
        "f1": "processed",
        "f2": "uploaded",
    }


def test_ledger_fold_estimate_counts_hist_when_seeding_from_log(spark, tmp_path):
    """With no published state the fold replays hist ∪ tail, so the size
    estimate that picks the one-partition fold must count the compacted
    history's bytes, not only the (absent) state's."""
    from data_pipeline_challenge_spark.schema import LEDGER_SCHEMA
    from data_pipeline_challenge_spark.session import local_frame
    from data_pipeline_challenge_spark.sources.ledger import LedgerStore

    store = LedgerStore(spark, tmp_path)
    row = {**_ledger_row("h1", "processed", 2), "event_ts": dt.datetime(2024, 1, 1)}
    # A complete, unpublished history version: _hist_dir()'s fallback.
    local_frame(
        spark, [tuple(row.get(f.name) for f in LEDGER_SCHEMA.fields)], LEDGER_SCHEMA
    ).write.parquet(str(tmp_path / "ledger_hist.v1"))
    assert store._state_target() is None and store._hist_dir() is not None

    def parquet_bytes(root):
        return sum(f.stat().st_size for f in Path(root).rglob("*.parquet"))

    hist_bytes = parquet_bytes(tmp_path / "ledger_hist.v1")
    assert hist_bytes > 0
    assert store._fold_input_bytes(from_state=False) == hist_bytes

    store.append([_ledger_row("t1", "uploaded")])  # publishes a state
    state_bytes = parquet_bytes(store._state_target())
    tail_bytes = parquet_bytes(store.path)
    assert store._fold_input_bytes(from_state=True) == state_bytes + tail_bytes
    assert (
        store._fold_input_bytes(from_state=False)
        == state_bytes + hist_bytes + tail_bytes
    )
    assert {r["file_id"] for r in store.current().collect()} == {"h1", "t1"}


def test_table_bytes_counts_complete_unpublished_version(spark, tmp_path, landing):
    """A crash between a products write and its publish leaves a complete
    version dir and no symlink. The read path serves that version, so the
    write-sizing estimate must count it too instead of reading 0."""
    from data_pipeline_challenge_spark.sources.landing import upload

    wh = ProductWarehouse(spark, tmp_path / "wh")
    upload(json.dumps([{"code": "0001", "product_name": "A"}]).encode(),
           landing, orig_name="a.json")
    wh.ingest(landing)
    published = wh._table_bytes()
    assert published > 0

    wh.products_path.unlink()  # the symlink publish never happened
    assert not wh.products_path.exists()
    assert wh._resolve_products_dir() is not None
    assert wh._table_bytes() == published
