"""Structured Streaming tests: exactly-once file ingestion + event-time
windows with watermark/late-data semantics."""

from __future__ import annotations

import json
import time

import pyspark.sql.functions as F
import pytest

from data_pipeline_challenge_spark.batchstore import compact_view, start_view
from data_pipeline_challenge_spark.catalog import load_events
from data_pipeline_challenge_spark.pipeline import ProductWarehouse
from data_pipeline_challenge_spark.sources.landing import upload
from data_pipeline_challenge_spark.streaming import (
    attribution_stream,
    cms_stream,
    components_stream,
    dedup_stream,
    embedding_dedup_stream,
    heavy_stream,
    image_dedup_stream,
    kmv_stream,
    near_dedup_stream,
    novelty_stream,
    overlap_stream,
    paths_stream,
    quantile_stream,
    retention_stream,
    retrieval_stream,
    sessions_stream,
    transition_stream,
)
from data_pipeline_challenge_spark.streaming.ingest_stream import drain_ingest_stream
from data_pipeline_challenge_spark.streaming.windows import (
    dedup_latest_per_key,
    session_counts,
    sliding_counts,
    tumbling_counts,
)

from .fixtures import products_basic, write_json


def test_streaming_ingest_exactly_once(spark, warehouse, landing, tmp_path):
    """File-source stream + foreachBatch merge: drains landed files, is
    idempotent across restarts (checkpoint), and picks up only new files on
    the next drain."""
    ckpt = tmp_path / "ckpt"
    wh = ProductWarehouse(spark, warehouse)

    src = tmp_path / "w1.json"
    write_json(src, products_basic(50))
    upload(src, landing)
    drain_ingest_stream(spark, landing, wh, ckpt)
    assert wh.products().count() == 50

    # restart with same checkpoint, nothing new → no duplicate processing
    drain_ingest_stream(spark, landing, wh, ckpt)
    assert wh.products().count() == 50
    assert wh.ledger.current().count() == 1

    # land a second file (5 overlapping codes + 5 new) → incremental merge
    upd = [{"code": f"{i:013d}", "product_name": f"V2 {i}"} for i in range(45, 55)]
    src2 = tmp_path / "w2.json"
    write_json(src2, upd)
    time.sleep(1.1)
    upload(src2, landing)
    drain_ingest_stream(spark, landing, wh, ckpt)
    prods = wh.products()
    assert prods.count() == 55
    assert (
        prods.filter(F.col("code") == f"{45:013d}").collect()[0]["product_name"] == "V2 45"
    )
    assert wh.ledger.current().count() == 2


def _events_stream(spark, tmp_path, sf_dir="/root/testdata/sf0.001"):
    """Streaming version of the events table: batch-load (handles the ns
    timestamp), then re-serve as a file-source stream."""
    ev = load_events(spark, sf_dir).select("event_id", "ts", "user_id", "event_type", "value")
    src_dir = tmp_path / "events_src"
    ev.write.mode("overwrite").parquet(str(src_dir))
    return (
        spark.readStream.schema(ev.schema).parquet(str(src_dir)),
        ev,
    )


@pytest.mark.parametrize(
    "builder", [tumbling_counts, sliding_counts, session_counts], ids=["tumbling", "sliding", "session"]
)
def test_streaming_windows_match_batch(spark, tmp_path, builder):
    """The same builder over a stream (availableNow, append mode after the
    watermark passes) emits exactly the batch result."""
    stream_ev, batch_ev = _events_stream(spark, tmp_path)
    out_name = f"win_{builder.__name__}"
    q = (
        builder(stream_ev)
        .writeStream.format("memory")
        .queryName(out_name)
        .outputMode("append" if builder is not dedup_latest_per_key else "complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{out_name}"))
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.table(out_name).collect()}
    expected_df = builder(batch_ev)
    expected = {tuple(r) for r in expected_df.collect()}
    # append mode only emits windows closed by the final watermark; with
    # availableNow the watermark advances to max(ts)-threshold, so windows
    # touching the tail may be withheld. Everything emitted must be correct,
    # and coverage must be near-complete.
    assert got <= expected
    assert len(got) >= len(expected) - 25  # only tail windows may be open


def test_streaming_late_data_dropped(spark, tmp_path):
    """An event older than the watermark arriving in a later micro-batch is
    dropped from a finalized window (the late-data policy the reference
    lacks entirely)."""
    import datetime as dt

    src_dir = tmp_path / "late_src"
    src_dir.mkdir()
    ckpt = tmp_path / "late_ckpt"
    out_dir = tmp_path / "late_out"
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"

    def mk(rows, name):
        df = spark.createDataFrame(rows, schema)
        df.coalesce(1).write.mode("append").parquet(str(src_dir))

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def run_once():
        # parquet sink: supports checkpoint recovery across restarts
        # (memory sink does not), which is the point of this test
        q = (
            tumbling_counts(
                spark.readStream.schema(schema).parquet(str(src_dir)),
                width="1 hour",
                late_threshold="30 minutes",
            )
            .writeStream.format("parquet")
            .option("path", str(out_dir))
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(ckpt))
            .start()
        )
        q.awaitTermination(120)

    def read_out():
        return spark.read.parquet(str(out_dir)).collect()

    # batch 1: events up to 03:00 → watermark lands at 02:30; the 00:00 and
    # 01:00 windows finalize and are emitted
    mk(
        [
            (1, t0, 1, "click", 1.0),
            (2, t0 + dt.timedelta(minutes=50), 1, "click", 1.0),
            (3, t0 + dt.timedelta(hours=1, minutes=10), 1, "click", 1.0),
            (4, t0 + dt.timedelta(hours=3), 1, "click", 1.0),
        ],
        "b1",
    )
    run_once()
    out1 = {r["window_start_s"]: r["n_events"] for r in read_out()}
    base = int(t0.replace(tzinfo=dt.timezone.utc).timestamp())
    assert out1.get(base) == 2
    assert out1.get(base + 3600) == 1

    # batch 2: a VERY late event for the already-finalized 00:00 window
    mk([(5, t0 + dt.timedelta(minutes=5), 1, "late", 9.0)], "b2")
    run_once()
    out2 = [r for r in read_out() if r["window_start_s"] == base]
    # the finalized window was NOT re-emitted/extended: late event dropped
    assert all(r["n_events"] == 2 for r in out2)


def test_stream_static_join(spark, tmp_path):
    """Stream-static broadcast join: streaming events enriched with a
    static dimension (the streaming analog of the batch star join)."""
    stream_ev, batch_ev = _events_stream(spark, tmp_path)
    dim = spark.createDataFrame(
        [(t, t.upper()) for t in ["click", "view", "purchase", "signup", "error"]],
        "event_type string, type_label string",
    )
    enriched = stream_ev.join(F.broadcast(dim), "event_type").groupBy("type_label").count()
    q = (
        enriched.writeStream.format("memory")
        .queryName("enriched_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_enrich"))
        .start()
    )
    q.awaitTermination(120)
    got = {r["type_label"]: r["count"] for r in spark.table("enriched_out").collect()}
    expected = {
        r["event_type"].upper(): r["count"]
        for r in batch_ev.groupBy("event_type").count().collect()
    }
    assert got == expected


def test_streaming_drop_duplicates(spark, tmp_path):
    """Built-in streaming dedup: dropDuplicates on a key set with a
    watermark bounding the dedup state (first occurrence wins)."""
    stream_ev, batch_ev = _events_stream(spark, tmp_path)
    q = (
        stream_ev.withWatermark("ts", "1 hour")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
        .writeStream.format("memory")
        .queryName("dd_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_dd"))
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.table("dd_out").collect()}
    expected = {
        tuple(r) for r in batch_ev.select("user_id", "event_type").distinct().collect()
    }
    assert got == expected


def test_stream_stream_interval_join(spark, tmp_path):
    """Watermarked stream-stream join: purchases joined to the same user's
    signups within a bounded event-time interval (the stateful join whose
    state both watermarks bound — unbounded otherwise)."""
    stream_ev, batch_ev = _events_stream(spark, tmp_path)

    def split(ev):
        p = ev.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("p_id"), F.col("user_id"), F.col("ts").alias("p_ts")
        )
        s = ev.filter(F.col("event_type") == "signup").select(
            F.col("event_id").alias("s_id"), F.col("user_id").alias("s_user"),
            F.col("ts").alias("s_ts"),
        )
        return p, s

    def joined(p, s, streaming):
        if streaming:
            p = p.withWatermark("p_ts", "1 hour")
            s = s.withWatermark("s_ts", "1 hour")
        return p.join(
            s,
            (F.col("user_id") == F.col("s_user"))
            & (F.col("s_ts") <= F.col("p_ts"))
            & (F.col("s_ts") >= F.col("p_ts") - F.expr("INTERVAL 2 HOURS")),
            "inner",
        ).select("p_id", "s_id", "user_id")

    q = (
        joined(*split(stream_ev), streaming=True)
        .writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.table("ssj_out").collect()}
    expected = {tuple(r) for r in joined(*split(batch_ev), streaming=False).collect()}
    assert got == expected
    assert len(expected) > 0  # the fixture actually exercises the join


def test_streaming_dedup_latest(spark, tmp_path):
    """Continuously maintained latest-per-key view (complete mode) matches
    the batch window query."""
    stream_ev, batch_ev = _events_stream(spark, tmp_path)
    q = (
        dedup_latest_per_key(stream_ev)
        .writeStream.format("memory")
        .queryName("latest_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_latest"))
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.table("latest_out").collect()}
    expected = {tuple(r) for r in dedup_latest_per_key(batch_ev).collect()}
    assert got == expected


def test_streaming_large_array_splits_in_microbatch(spark, warehouse, landing, tmp_path, monkeypatch):
    """Parity with the batch splittable-parse test: one oversized
    top-level-array delivery landed through the STREAM must fan out into a
    multi-task parse inside the foreachBatch body (the batch twin is
    tests/test_ingest_pipeline.py::test_large_array_file_splits_into_parallel_tasks).
    Captures the bronze partition count by wrapping the splittable reader
    the micro-batch calls."""
    from data_pipeline_challenge_spark import pipeline as pipeline_mod
    from data_pipeline_challenge_spark.sources.json_ingest import (
        read_bronze_splittable,
    )

    n = 500
    recs = [{"code": f"S{i:05d}", "product_name": f"p{i}"} for i in range(n)]
    src = tmp_path / "big_stream.json"
    write_json(src, recs)
    lf = upload(src, landing)

    seen: list[int] = []

    def recording_reader(spark_, paths, scratch, **kw):
        df, failed = read_bronze_splittable(spark_, paths, scratch, **kw)
        seen.append(df.rdd.getNumPartitions())
        return df, failed

    monkeypatch.setattr(pipeline_mod, "read_bronze_splittable", recording_reader)

    wh = ProductWarehouse(spark, warehouse)
    wh.split_threshold_bytes = 1024  # force the JSONL-chunk conversion
    wh.chunk_records = 50
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", 4096)
    try:
        drain_ingest_stream(spark, landing, wh, tmp_path / "ckpt_big")
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)

    # the micro-batch ran the splittable reader and it fanned out
    assert seen, "foreachBatch never invoked the splittable reader"
    assert max(seen) >= 4, f"single-task parse inside micro-batch: {seen}"
    assert wh.products().count() == n
    assert wh.ledger.status_of(lf.file_id)["status"] == "processed"
    assert wh.ledger.status_of(lf.file_id)["total_records"] == n


def test_streaming_rollup_incremental_equals_batch(spark, tmp_path):
    """The streaming continuous aggregate must equal a batch recompute
    over everything landed, across multiple micro-batches and a restart,
    and a replayed batch id must be a no-op (exactly-once sink)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_challenge_spark.operators.rollup import hourly_rollup
    from data_pipeline_challenge_spark.streaming.rollup_stream import (
        current_rollup,
        start_rollup_stream,
    )

    events_dir = tmp_path / "events_in"
    events_dir.mkdir()
    rollup_dir = tmp_path / "rollup"
    ckpt = tmp_path / "ckpt_rollup"

    def land(name, rows):
        ids, us, types, vals = zip(*rows)
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(ids, pa.int64()),
                    "ts": pa.array(us, pa.timestamp("us")),
                    "user_id": pa.array([1] * len(rows), pa.int64()),
                    "event_type": pa.array(types),
                    "value": pa.array(vals),
                    "props": pa.array(["{}"] * len(rows)),
                }
            ),
            str(events_dir / name),
        )

    H = 3_600_000_000  # one hour in micros
    land("a.parquet", [(1, 0 * H, "view", 1.25), (2, 0 * H + 1, "view", 2.5),
                       (3, 1 * H, "buy", 10.0)])
    land("b.parquet", [(4, 1 * H + 5, "view", 0.75), (5, 2 * H, "buy", -3.125)])

    def run():
        q = start_rollup_stream(
            spark, events_dir, rollup_dir, ckpt, max_files_per_trigger=1
        )
        q.awaitTermination(120)

    run()  # two files -> two micro-batches folded incrementally

    def norm(df):
        return {
            tuple(r)
            for r in df.select(
                "bucket_hr", "event_type", "n_events", "sum_cents",
                "min_value", "max_value",
            ).collect()
        }

    from data_pipeline_challenge_spark.catalog import ntz_epoch_us

    batch_all = spark.read.schema(
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    ).parquet(str(events_dir)).withColumn(
        "ts_ns", ntz_epoch_us(F.col("ts")) * F.lit(1000)
    )
    assert norm(current_rollup(spark, rollup_dir)) == norm(hourly_rollup(batch_all))

    # restart with a third file: only the delta is consumed, result still
    # equals the full recompute
    land("c.parquet", [(6, 0 * H + 7, "view", 4.0), (7, 3 * H, "refund", 8.5)])
    run()
    batch_all2 = spark.read.schema(
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    ).parquet(str(events_dir)).withColumn(
        "ts_ns", ntz_epoch_us(F.col("ts")) * F.lit(1000)
    )
    after_restart = norm(current_rollup(spark, rollup_dir))
    assert after_restart == norm(hourly_rollup(batch_all2))

    # crash-replay simulation: re-running an old batch id must not
    # double-count (versioned publish skips it)
    from data_pipeline_challenge_spark.streaming import rollup_stream as rs

    assert rs._versions(rollup_dir)[-1][0] >= 0
    q = start_rollup_stream(spark, events_dir, rollup_dir, tmp_path / "ckpt2",
                            max_files_per_trigger=None)
    q.awaitTermination(120)  # new checkpoint replays ALL files as batch 0
    # batch 0 <= last folded version, so the sink must skip the re-merge
    assert norm(current_rollup(spark, rollup_dir)) == after_restart


def test_packing_stream_equals_batch(spark, tmp_path):
    """The incrementally-maintained packed table must equal the batch
    sharded packer over everything landed — across multiple micro-batches
    and a restart with new data. This proves shard ids are a stable pure
    function of the order key across micro-batches: if a row could change
    shard between batches, the repack-touched-shards fold would diverge
    from the full batch pack."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_challenge_spark.operators.packing import (
        pack_sequences_sharded,
    )
    from data_pipeline_challenge_spark.streaming.packing_stream import (
        current_packed,
        start_packing_stream,
    )

    corpus_dir = tmp_path / "corpus_in"
    corpus_dir.mkdir()
    out_dir = tmp_path / "packed"
    ckpt = tmp_path / "ckpt_pack"
    SCHEMA = "source string, doc_id long, n_tokens long"

    def land(name, rows):
        src, ids, toks = zip(*rows)
        pq.write_table(
            pa.table(
                {
                    "source": pa.array(src),
                    "doc_id": pa.array(ids, pa.int64()),
                    "n_tokens": pa.array(toks, pa.int64()),
                }
            ),
            str(corpus_dir / name),
        )

    land("a.parquet", [("web", 1, 60), ("web", 2, 50), ("books", 3, 90)])
    land("b.parquet", [("web", 4, 40), ("books", 5, 30), ("web", 6, 80)])

    def run():
        q = start_packing_stream(
            spark, corpus_dir, out_dir, ckpt, SCHEMA,
            "source", "doc_id", "n_tokens", capacity=100, n_shards=4,
            max_files_per_trigger=1,
        )
        q.awaitTermination(180)

    run()  # two files -> two micro-batches folded incrementally

    def norm(df):
        return {
            tuple(r)
            for r in df.select("source", "shard", "doc_id", "n_tokens", "bin").collect()
        }

    def batch_pack():
        full = spark.read.schema(SCHEMA).parquet(str(corpus_dir))
        return pack_sequences_sharded(
            full, "source", "doc_id", "n_tokens", capacity=100, n_shards=4
        )

    assert norm(current_packed(spark, out_dir)) == norm(batch_pack())

    # restart with a third file: only touched shards repack, result still
    # equals the full batch pack (stable shards + full-shard recompute)
    land("c.parquet", [("web", 7, 55), ("books", 8, 25), ("news", 9, 10)])
    run()
    assert norm(current_packed(spark, out_dir)) == norm(batch_pack())


def test_packing_stream_incremental_cost(spark, tmp_path):
    """The packing stream's per-batch cost is O(touched shards), and both
    halves are pinned structurally: (a) the rows-store history scan is a
    static partition-pruned read (the touched-shard ``isin`` lands in
    ``PartitionFilters``, so untouched shards' files are never listed);
    (b) a new version rewrites ONLY touched shards — every untouched
    shard's files are hard links to the previous version's files
    (inode-identical, metadata-only), never re-read or re-written."""
    from pathlib import Path

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_challenge_spark.operators.packing import (
        pack_sequences_sharded,
    )
    from data_pipeline_challenge_spark.streaming.packing_stream import (
        current_packed,
        start_packing_stream,
        touched_history,
    )

    N_SHARDS = 8
    # Resolve doc_id -> shard with the engine's own hash so the two
    # batches are guaranteed to touch disjoint shards.
    by_shard: dict[int, list[int]] = {}
    for r in (
        spark.createDataFrame([(i,) for i in range(1, 300)], "doc_id long")
        .withColumn(
            "shard", F.pmod(F.xxhash64("doc_id"), F.lit(N_SHARDS)).cast("int")
        )
        .collect()
    ):
        by_shard.setdefault(r["shard"], []).append(r["doc_id"])
    shards = sorted(s for s in by_shard if len(by_shard[s]) >= 3)
    s1, s2 = shards[0], shards[1]

    corpus_dir = tmp_path / "corpus_in"
    corpus_dir.mkdir()
    out_dir = tmp_path / "packed"
    ckpt = tmp_path / "ckpt_pack"
    SCHEMA = "source string, doc_id long, n_tokens long"

    def land(name, ids):
        pq.write_table(
            pa.table(
                {
                    "source": pa.array(["web"] * len(ids)),
                    "doc_id": pa.array(ids, pa.int64()),
                    "n_tokens": pa.array([40] * len(ids), pa.int64()),
                }
            ),
            str(corpus_dir / name),
        )

    def run():
        q = start_packing_stream(
            spark, corpus_dir, out_dir, ckpt, SCHEMA,
            "source", "doc_id", "n_tokens", capacity=100, n_shards=N_SHARDS,
            max_files_per_trigger=1,
        )
        q.awaitTermination(180)

    land("a.parquet", by_shard[s1][:3])
    run()  # batch 0 -> data.v0, shard s1 only
    land("b.parquet", by_shard[s2][:3])
    run()  # batch 1 -> data.v1, touches s2 only

    v0, v1 = out_dir / "data.v0", out_dir / "data.v1"
    assert v0.exists() and v1.exists()

    def inodes(d: Path) -> list[int]:
        return sorted(p.stat().st_ino for p in d.glob("*.parquet"))

    # Untouched shard s1: v1's files are hard links of v0's (not rewritten).
    assert inodes(v1 / f"shard={s1}"), "untouched shard missing from v1"
    assert inodes(v1 / f"shard={s1}") == inodes(v0 / f"shard={s1}")
    # Touched shard s2: fresh files in v1, absent from v0 (disjoint batches).
    assert inodes(v1 / f"shard={s2}")
    assert not (v0 / f"shard={s2}").exists()

    # The history scan for batch 1's touched shards is partition-pruned:
    # the shard isin literal is a PartitionFilter, and only s2's rows come
    # back even though s1's rows are also in the store.
    hist = touched_history(spark, out_dir / "rows", [s2])
    plan = spark._jvm.PythonSQLUtils.explainString(
        hist._jdf.queryExecution(), "formatted"
    )
    seg = plan.split("PartitionFilters")[1].split("\n")[0]
    assert "shard" in seg
    assert sorted(r["doc_id"] for r in hist.collect()) == sorted(by_shard[s2][:3])

    # And the maintained table still equals the batch pack over everything.
    full = spark.read.schema(SCHEMA).parquet(str(corpus_dir))
    expected = pack_sequences_sharded(
        full, "source", "doc_id", "n_tokens", capacity=100, n_shards=N_SHARDS
    )
    norm = lambda df: {  # noqa: E731
        tuple(r)
        for r in df.select("source", "shard", "doc_id", "n_tokens", "bin").collect()
    }
    assert norm(current_packed(spark, out_dir)) == norm(expected)


def test_packed_revocation_fold(spark, tmp_path):
    """revoke_packed_docs propagates a revocation into the maintained
    packed table: only the shards actually holding revoked rows repack
    (untouched shards stay hard-linked), the result row-equals the batch
    packer over corpus-minus-revoked, a re-applied delta is a no-op, and
    a LATER micro-batch touching a revoked doc's shard does not
    resurrect it (touched_history anti-joins the revoked store)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_challenge_spark.operators.packing import (
        pack_sequences_sharded,
    )
    from data_pipeline_challenge_spark.streaming.packing_stream import (
        current_packed,
        revoke_packed_docs,
        start_packing_stream,
    )

    N_SHARDS = 8
    by_shard: dict[int, list[int]] = {}
    for r in (
        spark.createDataFrame([(i,) for i in range(1, 300)], "doc_id long")
        .withColumn(
            "shard", F.pmod(F.xxhash64("doc_id"), F.lit(N_SHARDS)).cast("int")
        )
        .collect()
    ):
        by_shard.setdefault(r["shard"], []).append(r["doc_id"])
    shards = sorted(s for s in by_shard if len(by_shard[s]) >= 6)
    s1, s2 = shards[0], shards[1]

    corpus_dir = tmp_path / "corpus_in"
    corpus_dir.mkdir()
    out_dir = tmp_path / "packed"
    ckpt = tmp_path / "ckpt_pack"
    SCHEMA = "source string, doc_id long, n_tokens long"

    def land(name, ids):
        pq.write_table(
            pa.table(
                {
                    "source": pa.array(["web"] * len(ids)),
                    "doc_id": pa.array(ids, pa.int64()),
                    "n_tokens": pa.array([40] * len(ids), pa.int64()),
                }
            ),
            str(corpus_dir / name),
        )

    def run():
        q = start_packing_stream(
            spark, corpus_dir, out_dir, ckpt, SCHEMA,
            "source", "doc_id", "n_tokens", capacity=100, n_shards=N_SHARDS,
            max_files_per_trigger=1,
        )
        q.awaitTermination(180)

    def fold(ids):
        return revoke_packed_docs(
            spark,
            out_dir,
            spark.createDataFrame([(i,) for i in ids], "doc_id long"),
            "source", "doc_id", "n_tokens", capacity=100, n_shards=N_SHARDS,
        )

    def norm(df):
        return {
            tuple(r)
            for r in df.select("source", "shard", "doc_id", "n_tokens", "bin").collect()
        }

    def expect(ids):
        df = spark.createDataFrame(
            [("web", i, 40) for i in ids], SCHEMA
        )
        return norm(
            pack_sequences_sharded(
                df, "source", "doc_id", "n_tokens", capacity=100, n_shards=N_SHARDS
            )
        )

    landed = by_shard[s1][:3] + by_shard[s2][:3]
    land("a.parquet", landed)
    run()  # batch 0 -> data.v0

    revoked = by_shard[s2][1]
    assert fold([revoked]) == 1  # exactly one shard held the doc
    kept = [i for i in landed if i != revoked]
    assert norm(current_packed(spark, out_dir)) == expect(kept)

    # Untouched shard s1 is hard-linked, touched shard s2 rewritten.
    v0, v1 = out_dir / "data.v0", out_dir / "data.v1"
    inodes = lambda d: sorted(p.stat().st_ino for p in d.glob("*.parquet"))  # noqa: E731
    assert inodes(v1 / f"shard={s1}") == inodes(v0 / f"shard={s1}")
    assert inodes(v1 / f"shard={s2}") != inodes(v0 / f"shard={s2}")

    # Idempotent: same delta re-applied is a committed no-op.
    assert fold([revoked]) == 0
    assert (out_dir / "data.v1").exists() and not (out_dir / "data.v2").exists()
    # A doc that was never packed: keys recorded, nothing repacked.
    assert fold([298_765]) == 0

    # A later micro-batch touching the revoked doc's shard must not
    # resurrect it: the history repack anti-joins the revoked store.
    land("b.parquet", by_shard[s2][3:6])
    run()
    kept += by_shard[s2][3:6]
    assert norm(current_packed(spark, out_dir)) == expect(kept)


def test_funnel_revocation_propagates_to_packed(spark, tmp_path):
    """The r9 data-governance hole: pack the funnel's corpus →
    revoke_corpus_eval_generation → revoke_packed_docs fold → the packed
    table row-equals the batch pack_sequences_sharded over the
    post-revocation current_corpus, with untouched shards still
    hard-linked — contaminated text no longer survives into the
    training-ready artifact after the corpus view was fixed."""
    from data_pipeline_challenge_spark.operators.packing import (
        pack_sequences_sharded,
    )
    from data_pipeline_challenge_spark.streaming.corpus_pipeline_stream import (
        current_corpus,
        revoke_corpus_eval_generation,
        start_corpus_pipeline_stream,
    )
    from data_pipeline_challenge_spark.streaming.packing_stream import (
        current_packed,
        revoke_packed_docs,
        start_packing_stream,
    )

    corpus_dir = tmp_path / "corpus_in"
    corpus_dir.mkdir()
    out = tmp_path / "pipe"
    ckpt = tmp_path / "ckpt"
    SCHEMA = "doc_id long, text string"
    land = _near_corpus_land(corpus_dir, [1_700_000_000])

    eval_a = spark.createDataFrame(
        [(900, "the held out benchmark asks about the tallest mountain")], SCHEMA
    )
    eval_b = spark.createDataFrame(
        [(901, "a newer benchmark question mentions deep river canyons")], SCHEMA
    )
    land("a.parquet", [
        (1, "spark shuffles hash partitioned data between separate stages"),
        (2, "the held out benchmark asks about something else entirely"),
        (3, "several question mentions deep river canyons in passing today"),
        (4, "an unrelated document about compiler design tradeoffs here"),
    ])
    q = start_corpus_pipeline_stream(
        spark, corpus_dir, out, ckpt, SCHEMA, "doc_id", "text",
        eval_df=eval_a, min_jaccard=0.5, n_prefix=8,
    )
    q.awaitTermination(300)
    assert sorted(
        r["doc_id"] for r in current_corpus(spark, out).collect()
    ) == [1, 3, 4]

    # Pack the funnel's corpus into a maintained packed table.
    def pack_input(df):
        return df.select(
            F.lit("web").alias("source"),
            "doc_id",
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        )

    pack_in = tmp_path / "pack_in"
    pack_out = tmp_path / "packed"
    N_SHARDS = 4
    pack_input(current_corpus(spark, out)).write.parquet(str(pack_in))
    q = start_packing_stream(
        spark, pack_in, pack_out, tmp_path / "ckpt_pack",
        "source string, doc_id long, n_tokens long",
        "source", "doc_id", "n_tokens", capacity=20, n_shards=N_SHARDS,
    )
    q.awaitTermination(180)

    # A new benchmark generation lands: the corpus view drops doc 3 ...
    rev = revoke_corpus_eval_generation(spark, out, eval_b, "doc_id", "text")
    assert [r["doc_id"] for r in rev.collect()] == [3]
    # ... and the fold mirrors it onto the packed table.
    assert revoke_packed_docs(
        spark, pack_out, rev, "source", "doc_id", "n_tokens",
        capacity=20, n_shards=N_SHARDS,
    ) == 1

    norm = lambda df: {  # noqa: E731
        tuple(r)
        for r in df.select("source", "shard", "doc_id", "n_tokens", "bin").collect()
    }
    expected = pack_sequences_sharded(
        pack_input(current_corpus(spark, out)),
        "source", "doc_id", "n_tokens", capacity=20, n_shards=N_SHARDS,
    )
    assert norm(current_packed(spark, pack_out)) == norm(expected)
    revoked_shard = (
        spark.createDataFrame([(3,)], "doc_id long")
        .select(F.pmod(F.xxhash64("doc_id"), F.lit(N_SHARDS)).cast("int").alias("s"))
        .collect()[0]["s"]
    )
    versions = sorted(p for p in pack_out.glob("data.v*") if not p.name.endswith(".tmp"))
    assert len(versions) == 2
    prev_v, new_v = versions
    inodes = lambda d: sorted(p.stat().st_ino for p in d.glob("*.parquet"))  # noqa: E731
    for sd in prev_v.glob("shard=*"):
        s = int(sd.name.split("=", 1)[1])
        if s == revoked_shard:
            assert inodes(new_v / sd.name) != inodes(sd)
        else:
            assert inodes(new_v / sd.name) == inodes(sd)


def test_stream_sink_retention_keeps_pinned_over_compaction_remnant(spark, tmp_path):
    """A stream sink's per-batch retention must keep {new, previously-
    published} by IDENTITY: a complete-but-unpublished remnant of a
    crashed compact_published_table outranks the published version, and
    rank-based keep-2 would delete the directory a pinned reader is
    scanning after only one further publish."""
    import os
    import shutil

    from data_pipeline_challenge_spark.streaming.rollup_stream import (
        current_rollup,
        start_rollup_stream,
    )

    events_dir = tmp_path / "ev_in"
    events_dir.mkdir()
    rollup_dir = tmp_path / "rollup"

    def land(name, hour):
        df = spark.createDataFrame(
            [(1, f"2024-01-01 {hour:02d}:00:00", 7, "view", 1.0, "{}")],
            "event_id long, ts_s string, user_id long, event_type string, value double, props string",
        ).selectExpr(
            "event_id", "cast(ts_s as timestamp_ntz) as ts", "user_id",
            "event_type", "value", "props",
        )
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / f"stage_{name}"))
        src = next((tmp_path / f"stage_{name}").glob("*.parquet"))
        shutil.copy(src, events_dir / f"{name}.parquet")

    land("a", 1)
    q = start_rollup_stream(spark, events_dir, rollup_dir, tmp_path / "ck")
    q.awaitTermination(120)
    published = (rollup_dir / "current").resolve()

    # crashed-compaction remnant: complete copy, higher version, unpublished
    shutil.copytree(published, rollup_dir / "data.v50")

    land("b", 2)
    q = start_rollup_stream(spark, events_dir, rollup_dir, tmp_path / "ck")
    q.awaitTermination(120)

    assert published.exists(), "previously-published version was deleted"
    assert not (rollup_dir / "data.v50").exists(), "stale remnant retained"
    cur = (rollup_dir / "current").resolve()
    assert os.readlink(rollup_dir / "current") == cur.name
    assert current_rollup(spark, rollup_dir).count() == 2  # both hours


def test_packing_stream_migrates_legacy_flat_layout(spark, tmp_path):
    """Upgrading a warehouse written by the pre-shard-layout packer (rows
    batches flat with shard as a DATA column; packed versions flat, no
    _folded_batch marker) must neither wedge partition discovery with
    mixed directory depths nor drop untouched shards (a flat previous
    version has no shard= dirs for the hard-link pass to carry forward).
    migrate_legacy_layout rewrites both stores once; the next drain then
    folds new data correctly and the maintained table equals the batch
    pack over everything."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_challenge_spark.operators.packing import (
        pack_sequences_sharded,
    )
    from data_pipeline_challenge_spark.streaming.packing_stream import (
        current_packed,
        start_packing_stream,
    )

    corpus_dir = tmp_path / "corpus_in"
    corpus_dir.mkdir()
    out_dir = tmp_path / "packed"
    out_dir.mkdir()
    SCHEMA = "source string, doc_id long, n_tokens long"
    N_SHARDS = 4

    def land(name, rows, mtime):
        src, ids, toks = zip(*rows)
        p = corpus_dir / name
        pq.write_table(
            pa.table(
                {
                    "source": pa.array(src),
                    "doc_id": pa.array(ids, pa.int64()),
                    "n_tokens": pa.array(toks, pa.int64()),
                }
            ),
            str(p),
        )
        os.utime(p, (mtime, mtime))

    land("a.parquet", [("web", 1, 60), ("web", 2, 50), ("books", 3, 90)], 1_000_000)

    # Build the LEGACY on-disk state the old packer left behind: flat rows
    # batch (shard as data column), flat packed version named by batch id,
    # no marker, symlink published.
    first = spark.read.schema(SCHEMA).parquet(str(corpus_dir)).withColumn(
        "shard", F.pmod(F.xxhash64("doc_id"), F.lit(N_SHARDS)).cast("int")
    )
    first.write.mode("overwrite").parquet(str(out_dir / "rows" / "ingest_batch=0"))
    packed0 = pack_sequences_sharded(
        first.drop("shard"), "source", "doc_id", "n_tokens", capacity=100,
        n_shards=N_SHARDS,
    )
    packed0.write.mode("overwrite").parquet(str(out_dir / "data.v0"))
    (out_dir / "current").symlink_to("data.v0")

    # New data lands; a fresh checkpoint replays a.parquet as batch 0
    # (skipped — version v0 already folded batch 0) and folds b as batch 1.
    land("b.parquet", [("web", 4, 40), ("books", 5, 30), ("news", 6, 80)], 2_000_000)
    q = start_packing_stream(
        spark, corpus_dir, out_dir, tmp_path / "ckpt", SCHEMA,
        "source", "doc_id", "n_tokens", capacity=100, n_shards=N_SHARDS,
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)

    # Both stores are shard-partitioned now (no mixed depths, no flat
    # version for the link pass to miss)…
    for b in (out_dir / "rows").glob("ingest_batch=*"):
        assert any(b.glob("shard=*")), f"{b.name} not shard-partitioned"
    cur = out_dir / "current"
    assert any((out_dir / os.readlink(cur)).glob("shard=*"))

    # …and the maintained table equals the batch pack over everything.
    full = spark.read.schema(SCHEMA).parquet(str(corpus_dir))
    expected = pack_sequences_sharded(
        full, "source", "doc_id", "n_tokens", capacity=100, n_shards=N_SHARDS
    )
    norm = lambda df: {  # noqa: E731
        tuple(r)
        for r in df.select("source", "shard", "doc_id", "n_tokens", "bin").collect()
    }
    assert norm(current_packed(spark, out_dir)) == norm(expected)


def test_packing_stream_arrival_order_invariance(spark, tmp_path):
    """Hypothesis property (VERDICT r6 task 7): for RANDOM corpora split
    into RANDOM arrival files, the drained packing stream's maintained
    table equals the batch ``pack_sequences_sharded`` over the union —
    i.e. the incremental touched-shard fold is invariant to how rows were
    partitioned across micro-batches. Generalizes the two fixed fixtures
    above: greedy bins are prefix-dependent, so any bug that let a shard's
    fold depend on arrival grouping (partial-history scan, missed touch,
    stale hard-linked shard) shows up as a divergence here."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from data_pipeline_challenge_spark.operators.packing import (
        pack_sequences_sharded,
    )
    from data_pipeline_challenge_spark.streaming.packing_stream import (
        current_packed,
        start_packing_stream,
    )

    SCHEMA = "source string, doc_id long, n_tokens long"
    N_SHARDS = 4
    counter = {"n": 0}

    rows_st = st.lists(
        st.tuples(
            st.sampled_from(["web", "books"]),
            st.integers(min_value=0, max_value=10**6),
            st.integers(min_value=0, max_value=120),
        ),
        min_size=1,
        max_size=18,
        unique_by=lambda r: r[1],  # unique order key across the corpus
    )

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(rows=rows_st, data=st.data(), cap=st.integers(min_value=1, max_value=150))
    def check(rows, data, cap):
        n_files = data.draw(st.integers(min_value=1, max_value=3), label="n_files")
        assignment = data.draw(
            st.lists(
                st.integers(min_value=0, max_value=n_files - 1),
                min_size=len(rows),
                max_size=len(rows),
            ),
            label="file_of_row",
        )
        counter["n"] += 1
        base = tmp_path / f"ex{counter['n']}"
        corpus_dir = base / "corpus"
        corpus_dir.mkdir(parents=True)

        for f in range(n_files):
            part = [r for r, a in zip(rows, assignment) if a == f]
            if not part:
                continue
            src, ids, toks = zip(*part)
            pq.write_table(
                pa.table(
                    {
                        "source": pa.array(src),
                        "doc_id": pa.array(ids, pa.int64()),
                        "n_tokens": pa.array(toks, pa.int64()),
                    }
                ),
                str(corpus_dir / f"f{f}.parquet"),
            )

        q = start_packing_stream(
            spark, corpus_dir, base / "packed", base / "ckpt", SCHEMA,
            "source", "doc_id", "n_tokens", capacity=cap, n_shards=N_SHARDS,
            max_files_per_trigger=1,  # one micro-batch per arrival file
        )
        q.awaitTermination(300)

        norm = lambda df: {  # noqa: E731
            tuple(r)
            for r in df.select("source", "shard", "doc_id", "n_tokens", "bin").collect()
        }
        full = spark.read.schema(SCHEMA).parquet(str(corpus_dir))
        expected = pack_sequences_sharded(
            full, "source", "doc_id", "n_tokens", capacity=cap, n_shards=N_SHARDS
        )
        assert norm(current_packed(spark, base / "packed")) == norm(expected)

    check()


def test_stream_sink_compaction_preserves_replay(spark, tmp_path):
    """Online compaction of a stream-maintained sink must not desynchronize
    the replay-skip: compaction creates a NEW version with no new batch
    folded, so the skip authority is the _folded_batch marker, not the
    version number — without it, the first post-compaction micro-batch
    would be silently swallowed (version N+1 already exists >= batch id).
    Exercised on both maintained sinks: the hourly rollup and the sharded
    packed table (whose shard=S layout must survive compaction)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_challenge_spark.catalog import ntz_epoch_us
    from data_pipeline_challenge_spark.operators.maintenance import (
        compact_published_table,
    )
    from data_pipeline_challenge_spark.operators.packing import (
        pack_sequences_sharded,
    )
    from data_pipeline_challenge_spark.operators.rollup import hourly_rollup
    from data_pipeline_challenge_spark.streaming.packing_stream import (
        current_packed,
        start_packing_stream,
    )
    from data_pipeline_challenge_spark.streaming.rollup_stream import (
        current_rollup,
        start_rollup_stream,
    )

    H = 3_600_000_000  # one hour in micros

    # --- rollup sink -------------------------------------------------------
    events_dir = tmp_path / "ev_in"
    events_dir.mkdir()
    rollup_dir = tmp_path / "rollup"

    def land_events(name, rows):
        ids, us, types, vals = zip(*rows)
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(ids, pa.int64()),
                    "ts": pa.array(us, pa.timestamp("us")),
                    "user_id": pa.array([1] * len(rows), pa.int64()),
                    "event_type": pa.array(types),
                    "value": pa.array(vals),
                    "props": pa.array(["{}"] * len(rows)),
                }
            ),
            str(events_dir / name),
        )

    def run_rollup():
        q = start_rollup_stream(
            spark, events_dir, rollup_dir, tmp_path / "ck_r",
            max_files_per_trigger=1,
        )
        q.awaitTermination(120)

    land_events("a.parquet", [(1, 0 * H, "view", 1.25), (2, 1 * H, "buy", 10.0)])
    land_events("b.parquet", [(3, 1 * H + 5, "view", 0.75)])
    run_rollup()  # batches 0,1 -> data.v0, data.v1

    rep = compact_published_table(
        spark, rollup_dir / "current", target_file_bytes=1 << 30
    )
    assert rep.files_after == 1

    # the next real batch must FOLD, not be skipped as a replay
    land_events("c.parquet", [(4, 2 * H, "buy", -3.125), (5, 0 * H + 9, "view", 4.0)])
    run_rollup()

    batch_all = spark.read.schema(
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    ).parquet(str(events_dir)).withColumn(
        "ts_ns", ntz_epoch_us(F.col("ts")) * F.lit(1000)
    )

    def norm_r(df):
        return {
            tuple(r)
            for r in df.select(
                "bucket_hr", "event_type", "n_events", "sum_cents",
                "min_value", "max_value",
            ).collect()
        }

    assert norm_r(current_rollup(spark, rollup_dir)) == norm_r(hourly_rollup(batch_all))

    # --- packed sink (partitioned layout must survive) ---------------------
    corpus_dir = tmp_path / "corpus_in"
    corpus_dir.mkdir()
    packed_dir = tmp_path / "packed"
    SCHEMA = "source string, doc_id long, n_tokens long"

    def land_docs(name, rows):
        src, ids, toks = zip(*rows)
        pq.write_table(
            pa.table(
                {
                    "source": pa.array(src),
                    "doc_id": pa.array(ids, pa.int64()),
                    "n_tokens": pa.array(toks, pa.int64()),
                }
            ),
            str(corpus_dir / name),
        )

    def run_pack():
        q = start_packing_stream(
            spark, corpus_dir, packed_dir, tmp_path / "ck_p", SCHEMA,
            "source", "doc_id", "n_tokens", capacity=100, n_shards=4,
            max_files_per_trigger=1,
        )
        q.awaitTermination(180)

    land_docs("a.parquet", [("web", 1, 60), ("web", 2, 50), ("books", 3, 90)])
    land_docs("b.parquet", [("web", 4, 40), ("books", 5, 30)])
    run_pack()

    # default args: the shard=S layout must be AUTO-detected and preserved
    # (a flattening compaction would silently break the incremental
    # packer's untouched-shard reuse one batch later)
    rep = compact_published_table(
        spark, packed_dir / "current", target_file_bytes=1 << 30
    )
    assert rep.rows == 5
    cur = packed_dir / "current"
    import os as _os

    assert list((packed_dir / _os.readlink(cur)).glob("shard=*"))

    land_docs("c.parquet", [("web", 6, 80), ("news", 7, 10)])
    run_pack()

    def norm_p(df):
        return {
            tuple(r)
            for r in df.select("source", "shard", "doc_id", "n_tokens", "bin").collect()
        }

    full = spark.read.schema(SCHEMA).parquet(str(corpus_dir))
    expected = pack_sequences_sharded(
        full, "source", "doc_id", "n_tokens", capacity=100, n_shards=4
    )
    assert norm_p(current_packed(spark, packed_dir)) == norm_p(expected)


def test_index_stream_equals_batch(spark, tmp_path):
    """Incrementally-maintained ANN indexes must equal a batch encode of
    the full corpus with the same FROZEN parameters, for all three
    families at once (LSH buckets are seeded-deterministic; IVF uses the
    persisted centroids; PQ the persisted codebooks), and the indexed
    serving paths must return the frozen-parameter in-flight results over
    the full corpus. Replays — same checkpoint and fresh checkpoint —
    must not duplicate increments."""
    import json

    from data_pipeline_challenge_spark.catalog import load_table
    from data_pipeline_challenge_spark.operators.similarity import (
        _with_increments,
        ann_topk,
        ivf_assign,
        ivf_build_index,
        lsh_build_index,
        lsh_topk_indexed,
        pq_build_index,
        pq_encode,
        with_lsh_bucket,
    )
    from data_pipeline_challenge_spark.streaming.index_stream import (
        start_index_stream,
    )

    import numpy as np

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    full = emb.filter("vec_id != 0")
    base = full.filter("vec_id < 300")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding")

    idx = tmp_path / "idx"
    lsh_build_index(base, idx, dim=64, n_planes=4)
    ivf_build_index(base, idx, n_clusters=8)
    pq_build_index(base, idx)

    vectors_dir = tmp_path / "vec_in"
    vectors_dir.mkdir()
    for lo, hi in ((300, 400), (400, 500)):
        full.filter(f"vec_id >= {lo} and vec_id < {hi}").coalesce(1).write.mode(
            "append"
        ).parquet(str(vectors_dir))

    def run(ckpt):
        q = start_index_stream(
            spark, vectors_dir, idx, ckpt, emb.schema,
            max_files_per_trigger=1,
        )
        q.awaitTermination(180)

    run(tmp_path / "ck1")  # two part files -> increments folded

    # LSH: maintained buckets == one seeded bucket pass over the full corpus
    got_lsh = {
        (r["vec_id"], r["bucket"])
        for r in _with_increments(spark, idx / "bucketed", idx / "bucketed_inc")
        .select("vec_id", "bucket")
        .collect()
    }
    want_lsh = {
        (r["vec_id"], r["bucket"])
        for r in with_lsh_bucket(full, dim=64, n_planes=4)
        .select("vec_id", "bucket")
        .collect()
    }
    assert got_lsh == want_lsh

    # IVF: maintained assignment == frozen-centroid assignment of the corpus
    centroids = np.array(json.loads((idx / "centroids.json").read_text()))
    got_ivf = {
        (r["vec_id"], r["cluster"])
        for r in _with_increments(spark, idx / "assigned", idx / "assigned_inc")
        .select("vec_id", "cluster")
        .collect()
    }
    want_ivf = {
        (r["vec_id"], r["cluster"])
        for r in ivf_assign(full, centroids).select("vec_id", "cluster").collect()
    }
    assert got_ivf == want_ivf

    # PQ: maintained codes == frozen-codebook encode of the corpus
    books = [np.array(b) for b in json.loads((idx / "codebooks.json").read_text())]
    got_pq = {
        (r["vec_id"], tuple(r["pq_code"]))
        for r in _with_increments(spark, idx / "codes", idx / "codes_inc").collect()
    }
    want_pq = {
        (r["vec_id"], tuple(r["pq_code"]))
        for r in pq_encode(full, books).select("vec_id", "pq_code").collect()
    }
    assert got_pq == want_pq

    # serving stays fresh: indexed probe == in-flight over the FULL corpus
    got_topk = [
        (r["vec_id"], round(r["sim"], 9))
        for r in lsh_topk_indexed(spark, idx, qvec, k=10, probe_hamming=1).collect()
    ]
    want_topk = [
        (r["vec_id"], round(r["sim"], 9))
        for r in ann_topk(full, qvec, dim=64, k=10, n_planes=4, probe_hamming=1).collect()
    ]
    assert got_topk == want_topk

    # replays cannot duplicate: same checkpoint (no new files), then a
    # FRESH checkpoint replaying everything as batch 0
    n_before = len(got_lsh)
    run(tmp_path / "ck1")
    run(tmp_path / "ck2")
    got_after = _with_increments(spark, idx / "bucketed", idx / "bucketed_inc").count()
    assert got_after == n_before

    # pruning survives maintenance: the indexed probe's plan partition-
    # filters on bucket for BOTH the base scan and the increment scan
    probe = lsh_topk_indexed(spark, idx, qvec, k=10, probe_hamming=1)
    plan = spark._jvm.PythonSQLUtils.explainString(
        probe._jdf.queryExecution(), "formatted"
    )
    segs = [seg.split("\n")[0] for seg in plan.split("PartitionFilters")[1:]]
    assert len(segs) >= 2  # base + increments
    assert all("bucket" in seg for seg in segs)


def test_index_increment_guard_uses_min_across_families(tmp_path):
    """The fresh-checkpoint replay guard must report the min folded batch
    across PRESENT index families, not the max: a crash between
    per-family writes leaves later families missing the batch, and a
    max-based skip would lose it for them forever (the re-run is safe —
    per-family increment writes are idempotent overwrites)."""
    from data_pipeline_challenge_spark.operators.similarity import (
        last_index_increment,
    )

    idx = tmp_path / "idx"
    (idx / "bucketed_inc" / "ingest_batch=3").mkdir(parents=True)
    (idx / "assigned_inc" / "ingest_batch=3").mkdir(parents=True)
    (idx / "assigned_inc" / "ingest_batch=2").mkdir(parents=True)
    (idx / "lsh_meta.json").write_text("{}")
    assert last_index_increment(idx) == 3  # only lsh present
    (idx / "centroids.json").write_text("[]")
    assert last_index_increment(idx) == 3  # both complete through 3
    # crash scenario: pq family exists but batch 3 never landed for it
    (idx / "codebooks.json").write_text("[]")
    assert last_index_increment(idx) == -1  # forces the re-fold
    (idx / "codes_inc" / "ingest_batch=2").mkdir(parents=True)
    assert last_index_increment(idx) == 2  # batch 3 still re-folds

    from data_pipeline_challenge_spark.operators.similarity import (
        index_increment_bounds,
    )

    # The (lo, hi) bounds drive the stream's three-way guard: skip at or
    # below lo, fold at or above hi, refuse in between (stores disagree
    # with the stream's numbering — see the renumbering test below).
    assert index_increment_bounds(idx) == (2, 3)


def test_index_stream_refuses_renumbered_checkpoint(spark, tmp_path):
    """A freshly-built family (sidecar present, increments empty) under an
    index_dir whose OTHER families hold increments, combined with a reset
    checkpoint renumbering the replay from 0, must fail loudly instead of
    folding: the fold would append every replayed vector under new batch
    ids alongside the old increments, silently duplicating candidates in
    the already-folded families."""
    import numpy as np

    from data_pipeline_challenge_spark.operators.similarity import (
        lsh_build_index,
    )
    from data_pipeline_challenge_spark.streaming.index_stream import (
        start_index_stream,
    )

    rng = np.random.RandomState(7)
    emb = spark.createDataFrame(
        [(i, rng.standard_normal(8).tolist()) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    idx = tmp_path / "idx"
    lsh_build_index(emb, idx, dim=8, n_planes=3)
    # LSH already folded increments through batch 5 (numbering of the
    # original checkpoint)…
    (idx / "bucketed_inc" / "ingest_batch=5").mkdir(parents=True)
    # …then an IVF index is built into the same dir (sidecar, no
    # increments) and the stream is restarted with a FRESH checkpoint.
    (idx / "centroids.json").write_text("[[0,0,0,0,0,0,0,0]]")

    vdir = tmp_path / "vec_in"
    vdir.mkdir()
    emb.coalesce(1).write.mode("append").parquet(str(vdir))
    q = start_index_stream(
        spark, vdir, idx, tmp_path / "ckpt_fresh", emb.schema
    )
    with pytest.raises(Exception, match="disagree with stream batch numbering"):
        q.awaitTermination(180)


def test_batchstore_rerun_sweeps_crash_leftovers(spark, tmp_path):
    """A fold that crashes after its marker swap but before its cleanup
    leaves stale batch dirs behind. A re-run with no new batches must
    sweep the EXPIRED generation (what the previous marker already
    excluded) instead of early-returning 'nothing to do' — on a quiesced
    store nothing else would ever remove them. Dirs the latest fold just
    excluded are grace-kept either way (a concurrent reader's
    already-built plan may still be scanning them)."""
    from data_pipeline_challenge_spark.batchstore import (
        consolidate_batch_store,
        read_batch_store,
    )

    store = tmp_path / "store"
    for b in (0, 1):
        spark.range(5).withColumn("v", F.lit(b)).write.parquet(
            str(store / f"ingest_batch={b}")
        )
    assert consolidate_batch_store(spark, store) == 2  # fold 1: through=1
    # grace: the just-folded dirs survive fold 1
    assert (store / "ingest_batch=0").exists()

    spark.range(5).withColumn("v", F.lit(2)).write.parquet(
        str(store / "ingest_batch=2")
    )
    assert consolidate_batch_store(spark, store) >= 1  # fold 2: through=2
    # fold 2 swept generation-1 positives; its own exclusions are graced
    assert not (store / "ingest_batch=0").exists()
    assert not (store / "ingest_batch=1").exists()
    assert (store / "ingest_batch=2").exists()
    assert (store / "ingest_batch=-1").exists()

    # crash simulation: a generation-1 dir resurfaces (cleanup died)
    spark.range(5).withColumn("v", F.lit(1)).write.parquet(
        str(store / "ingest_batch=1")
    )
    assert consolidate_batch_store(spark, store) == 1  # swept, not skipped
    assert not (store / "ingest_batch=1").exists()
    assert (store / "ingest_batch=2").exists()  # grace generation kept
    assert read_batch_store(spark, store).count() == 15  # view unchanged


def test_rows_store_consolidation(spark, tmp_path):
    """The packing rows store accretes one ingest_batch dir per
    micro-batch; offline consolidation must fold them into one partition
    (bounding partition-DISCOVERY cost) while touched_history serves the
    identical view, and the stream must keep folding new batches
    correctly afterwards."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_challenge_spark.batchstore import _read_marker
    from data_pipeline_challenge_spark.operators.packing import (
        pack_sequences_sharded,
    )
    from data_pipeline_challenge_spark.streaming.packing_stream import (
        compact_rows_store,
        current_packed,
        start_packing_stream,
        touched_history,
    )

    corpus_dir = tmp_path / "corpus_in"
    corpus_dir.mkdir()
    out_dir = tmp_path / "packed"
    ckpt = tmp_path / "ckpt"
    SCHEMA = "source string, doc_id long, n_tokens long"

    def land(name, rows):
        src, ids, toks = zip(*rows)
        pq.write_table(
            pa.table({
                "source": pa.array(src),
                "doc_id": pa.array(ids, pa.int64()),
                "n_tokens": pa.array(toks, pa.int64()),
            }),
            str(corpus_dir / name),
        )

    def run():
        q = start_packing_stream(
            spark, corpus_dir, out_dir, ckpt, SCHEMA,
            "source", "doc_id", "n_tokens", capacity=100, n_shards=4,
            max_files_per_trigger=1,
        )
        q.awaitTermination(180)

    land("a.parquet", [("web", 1, 60), ("web", 2, 50), ("books", 3, 90)])
    land("b.parquet", [("web", 4, 40), ("books", 5, 30)])
    run()  # batches 0,1

    before = {
        tuple(r)
        for r in touched_history(spark, out_dir / "rows", list(range(4))).collect()
    }
    assert compact_rows_store(spark, out_dir) == 2  # both batches folded
    rows_dir = out_dir / "rows"
    # One-generation grace: the just-folded dirs stay on disk (an
    # already-planned reader may still be scanning them) until the NEXT
    # fold sweeps them; the consolidated dir carries the live view.
    assert sorted(p.name for p in rows_dir.glob("ingest_batch=*")) == [
        "ingest_batch=-1", "ingest_batch=0", "ingest_batch=1"
    ]
    marker = _read_marker(rows_dir)
    assert marker == {
        "consolidated": -1, "through": 1,
        "prev_consolidated": None, "prev_through": -1,
    }
    after = {
        tuple(r)
        for r in touched_history(spark, rows_dir, list(range(4))).collect()
    }
    assert after == before

    # the stream keeps working: new batch folds, equality holds
    land("c.parquet", [("web", 6, 80), ("news", 7, 10)])
    run()
    full = spark.read.schema(SCHEMA).parquet(str(corpus_dir))
    expected = pack_sequences_sharded(
        full, "source", "doc_id", "n_tokens", capacity=100, n_shards=4
    )
    norm = lambda df: {  # noqa: E731
        tuple(r)
        for r in df.select("source", "shard", "doc_id", "n_tokens", "bin").collect()
    }
    assert norm(current_packed(spark, out_dir)) == norm(expected)
    # a second consolidation folds the new batch into generation -2 and
    # sweeps the FIRST generation's grace dirs (expired for a full fold)
    assert compact_rows_store(spark, out_dir) >= 1
    assert sorted(p.name for p in rows_dir.glob("ingest_batch=*")) == [
        "ingest_batch=-1", "ingest_batch=-2", "ingest_batch=2"
    ]
    assert norm(current_packed(spark, out_dir)) == norm(expected)
    assert touched_history(spark, rows_dir, list(range(4))).count() == 7


def test_index_increment_consolidation(spark, tmp_path):
    """Offline consolidation of the ANN increment stores: directory count
    resets, probes serve the identical rows, a fresh-checkpoint replay of
    folded batches cannot duplicate (they land <= through and the reader
    excludes them), and new increments after the fold stay visible."""
    from data_pipeline_challenge_spark.catalog import load_table
    from data_pipeline_challenge_spark.operators.similarity import (
        _with_increments,
        ann_topk,
        compact_index_increments,
        ivf_build_index,
        last_index_increment,
        lsh_build_index,
        lsh_topk_indexed,
        pq_build_index,
    )
    from data_pipeline_challenge_spark.streaming.index_stream import (
        start_index_stream,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    full = emb.filter("vec_id != 0")
    base = full.filter("vec_id < 300")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding")

    idx = tmp_path / "idx"
    lsh_build_index(base, idx, dim=64, n_planes=4)
    ivf_build_index(base, idx, n_clusters=8)
    pq_build_index(base, idx)

    vectors_dir = tmp_path / "vec_in"
    vectors_dir.mkdir()
    for lo, hi in ((300, 400), (400, 450)):
        full.filter(f"vec_id >= {lo} and vec_id < {hi}").coalesce(1).write.mode(
            "append"
        ).parquet(str(vectors_dir))

    def run(ckpt):
        q = start_index_stream(
            spark, vectors_dir, idx, ckpt, emb.schema, max_files_per_trigger=1
        )
        q.awaitTermination(180)

    run(tmp_path / "ck1")  # batches 0,1 per family

    def topk():
        return [
            (r["vec_id"], round(r["sim"], 9))
            for r in lsh_topk_indexed(spark, idx, qvec, k=10, probe_hamming=1).collect()
        ]

    before = topk()
    folded = compact_index_increments(spark, idx)
    assert folded == {"bucketed_inc": 2, "assigned_inc": 2, "codes_inc": 2}
    # consolidated dir + one grace generation (swept by the next fold)
    assert sorted(
        p.name for p in (idx / "bucketed_inc").glob("ingest_batch=*")
    ) == ["ingest_batch=-1", "ingest_batch=0", "ingest_batch=1"]
    assert topk() == before
    assert last_index_increment(idx) == 1  # guard still covers folded ids

    # fresh checkpoint: replay of folded batches must not duplicate
    n_before = _with_increments(spark, idx / "bucketed", idx / "bucketed_inc").count()
    run(tmp_path / "ck2")
    assert (
        _with_increments(spark, idx / "bucketed", idx / "bucketed_inc").count()
        == n_before
    )

    # new vectors after the fold land in a fresh batch and stay visible
    full.filter("vec_id >= 450").coalesce(1).write.mode("append").parquet(
        str(vectors_dir)
    )
    run(tmp_path / "ck1")
    want = [
        (r["vec_id"], round(r["sim"], 9))
        for r in ann_topk(full, qvec, dim=64, k=10, n_planes=4, probe_hamming=1).collect()
    ]
    assert topk() == want


def test_dedup_stream_emits_only_novel(spark, tmp_path):
    """Against-history exact dedup: across micro-batches and a restart,
    the docs store holds exactly one row per distinct fingerprint — the
    first-arrival winner (earliest batch, then smallest id) — and a
    duplicate arriving later is never re-emitted."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_challenge_spark.streaming.dedup_stream import current_novel_docs

    corpus_dir = tmp_path / "corpus_in"
    corpus_dir.mkdir()
    out_dir = tmp_path / "dedup"
    ckpt = tmp_path / "ckpt_dedup"
    SCHEMA = "doc_id long, text string"

    import os as _os

    _mtime = [1_700_000_000]

    def land(name, rows):
        ids, texts = zip(*rows)
        p = corpus_dir / name
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(ids, pa.int64()),
                    "text": pa.array(texts),
                }
            ),
            str(p),
        )
        # FileStreamSource orders batches by mtime; equal stamps make the
        # arrival order (and thus the first-arrival winner) ambiguous.
        _mtime[0] += 10
        _os.utime(p, (_mtime[0], _mtime[0]))

    def run():
        q = start_view(
            spark, dedup_stream.VIEW, corpus_dir, out_dir, ckpt, SCHEMA,
            id_col="doc_id", text_col="text", n_prefix=8, max_files_per_trigger=1,
        )
        q.awaitTermination(180)

    # batch 0: intra-batch dup (ids 2,5 same normalized text; min id wins)
    land("a.parquet", [(2, "Hello  World"), (5, "hello world"), (3, "alpha")])
    # batch 1: cross-batch dup of "hello world" + one novel doc
    land("b.parquet", [(9, " HELLO   world "), (7, "beta")])
    run()

    docs = current_novel_docs(spark, out_dir)
    kept = {r["fp"]: r["doc_id"] for r in docs.collect()}
    assert len(kept) == 3  # hello-world, alpha, beta
    # first-arrival winner: batch 0's id=2, not 5 (intra) and not 9 (cross)
    hw_ids = sorted(r["doc_id"] for r in docs.filter(F.col("doc_id").isin(2, 5, 9)).collect())
    assert hw_ids == [2]

    # restart with new data: dup of alpha + novel gamma
    land("c.parquet", [(11, "ALPHA"), (12, "gamma")])
    run()
    docs = current_novel_docs(spark, out_dir)
    ids = sorted(r["doc_id"] for r in docs.collect())
    assert ids == [2, 3, 7, 12]

    # replay from a fresh checkpoint folds nothing twice
    import shutil as _sh

    _sh.rmtree(ckpt)
    run()
    assert sorted(r["doc_id"] for r in current_novel_docs(spark, out_dir).collect()) == [2, 3, 7, 12]


def test_dedup_stream_probe_pruned_and_never_shuffles_index(spark, tmp_path):
    """The membership probe's cost shape, pinned structurally: the index
    scan is partition-pruned to the batch's touched prefixes (the isin
    lands in PartitionFilters), and the probe joins broadcast-batch vs
    streamed index — no SortMergeJoin, no index-side shuffle Exchange."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_challenge_spark.streaming.dedup_stream import (
        current_novel_docs,
        history_fps,
    )

    corpus_dir = tmp_path / "corpus_in"
    corpus_dir.mkdir()
    out_dir = tmp_path / "dedup"
    ckpt = tmp_path / "ckpt_dedup"
    SCHEMA = "doc_id long, text string"

    def land(name, rows):
        ids, texts = zip(*rows)
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)}),
            str(corpus_dir / name),
        )

    land("a.parquet", [(i, f"doc number {i}") for i in range(40)])
    q = start_view(
        spark, dedup_stream.VIEW, corpus_dir, out_dir, ckpt, SCHEMA, id_col="doc_id",
        text_col="text", n_prefix=8,
    )
    q.awaitTermination(180)

    hist = history_fps(spark, out_dir, [3])
    plan = spark._jvm.PythonSQLUtils.explainString(
        hist._jdf.queryExecution(), "formatted"
    )
    seg = plan.split("PartitionFilters")[1].split("\n")[0]
    assert "fp_prefix" in seg

    # The probe shape the stream builds: pruned index vs broadcast batch.
    batch_fps = spark.createDataFrame(
        [("00",), ("11",)], "fp string"
    )
    hits = history_fps(spark, out_dir, [0, 1]).join(
        F.broadcast(batch_fps), "fp", "left_semi"
    )
    plan = spark._jvm.PythonSQLUtils.explainString(
        hits._jdf.queryExecution(), "formatted"
    )
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan

    # Consolidation preserves the reader view (and the pruned scan shape).
    before = {r["fp"] for r in current_novel_docs(spark, out_dir).select("fp").collect()}
    folded = compact_view(spark, dedup_stream.VIEW, out_dir)
    assert folded["fp_index"] >= 0
    after = {r["fp"] for r in current_novel_docs(spark, out_dir).select("fp").collect()}
    assert before == after
    # history still serves every fp through the consolidated store
    all_fps = {
        r["fp"] for r in history_fps(spark, out_dir, list(range(8))).collect()
    }
    assert all_fps == before


def _near_corpus_land(corpus_dir, mtime_box):
    """Helper bound into the near-dedup tests: parquet writer with forced
    mtime order (FileStreamSource batches by mtime)."""
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    def land(name, rows):
        ids, texts = zip(*rows)
        p = corpus_dir / name
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)}),
            str(p),
        )
        mtime_box[0] += 10
        _os.utime(p, (mtime_box[0], mtime_box[0]))

    return land


def test_near_dedup_stream_first_arrival_survivors(spark, tmp_path):
    """Streaming MinHash near-dedup against history: intra-batch clusters
    keep the min id; a later-batch near-dup of a KEPT doc is dropped; a
    genuinely novel doc is kept — across micro-batches, a restart, and a
    fresh-checkpoint replay."""
    from data_pipeline_challenge_spark.streaming.near_dedup_stream import (
        current_kept_docs,
        start_near_dedup_stream,
    )

    corpus_dir = tmp_path / "corpus_in"
    corpus_dir.mkdir()
    out_dir = tmp_path / "near"
    ckpt = tmp_path / "ckpt_near"
    SCHEMA = "doc_id long, text string"
    land = _near_corpus_land(corpus_dir, [1_700_000_000])

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the late afternoon sun"
    )
    nearA = base + " today"                   # near-dup of base
    nearB = base + " again tomorrow"          # near-dup of base (transitive-safe)
    other = (
        "spark catalyst rewrites declarative plans into whole stage "
        "codegen pipelines that stream columnar batches through the jvm"
    )

    def run():
        q = start_near_dedup_stream(
            spark, corpus_dir, out_dir, ckpt, SCHEMA,
            "doc_id", "text", min_jaccard=0.5, n_prefix=8,
            max_files_per_trigger=1,
        )
        q.awaitTermination(240)

    # batch 0: intra-batch cluster {4, 9} (min id 4 wins) + one distinct
    land("a.parquet", [(9, nearA), (4, base), (30, other)])
    # batch 1: near-dup of the kept base (id 4) + a novel doc
    land("b.parquet", [(12, nearB), (50, "completely fresh text about "
                                         "sequence packing and token budgets "
                                         "for large language model training")])
    run()
    kept = sorted(r["doc_id"] for r in current_kept_docs(spark, out_dir).collect())
    assert kept == [4, 30, 50]

    # restart with another near-dup of base and one more novel doc
    land("c.parquet", [(2, base + " always"), (60, "yet another unrelated "
                                                   "document mentioning parquet "
                                                   "row groups and min max stats "
                                                   "for file pruning at scale")])
    run()
    kept = sorted(r["doc_id"] for r in current_kept_docs(spark, out_dir).collect())
    assert kept == [4, 30, 50, 60]

    # fresh-checkpoint replay folds nothing twice
    import shutil as _sh

    _sh.rmtree(ckpt)
    run()
    kept = sorted(r["doc_id"] for r in current_kept_docs(spark, out_dir).collect())
    assert kept == [4, 30, 50, 60]


def test_near_dedup_composed_components_view(spark, tmp_path):
    """VERDICT r16 #1 (done criterion): with ``components_out_dir`` set,
    the near-dup gate chains its verified pairs into the maintained
    component store inside the same micro-batch — so
    ``current_components`` over the live dedup pipeline must equal batch
    ``connected_components`` over the gate's FULL verified-pair history
    (the ``pairs`` store), across a restart that MERGES existing
    clusters and a fresh-checkpoint renumbered replay (no-op), with
    zero user plumbing between the two stores."""
    import shutil as _sh

    from data_pipeline_challenge_spark.batchstore import read_batch_store
    from data_pipeline_challenge_spark.operators.graph import (
        connected_components,
    )
    from data_pipeline_challenge_spark.streaming.components_stream import (
        current_components,
        read_relabel_audit,
    )
    from data_pipeline_challenge_spark.streaming.near_dedup_stream import (
        current_kept_docs,
        start_near_dedup_stream,
    )

    corpus_dir = tmp_path / "corpus_in"
    corpus_dir.mkdir()
    out_dir = tmp_path / "near"
    comp_dir = tmp_path / "clusters"
    ckpt = tmp_path / "ckpt_near"
    SCHEMA = "doc_id long, text string"
    land = _near_corpus_land(corpus_dir, [1_700_000_000])

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the late afternoon sun"
    )

    def run(ck=ckpt):
        q = start_near_dedup_stream(
            spark, corpus_dir, out_dir, ck, SCHEMA,
            "doc_id", "text", min_jaccard=0.5, n_prefix=8,
            max_files_per_trigger=1,
            components_out_dir=comp_dir, components_n_prefix=8,
        )
        q.awaitTermination(240)

    def got():
        cur = current_components(spark, comp_dir)
        return sorted(map(tuple, cur.collect())) if cur is not None else []

    def expected():
        hist = read_batch_store(spark, out_dir / "pairs").select(
            "doc1", "doc2"
        )
        return sorted(
            map(
                tuple,
                connected_components(hist, src="doc1", dst="doc2").collect(),
            )
        )

    # batch 0: intra-batch pair (4,9) + a singleton; batch 1: a
    # cross-batch near-dup of kept doc 4
    land("a.parquet", [(9, base + " today"), (4, base), (30,
         "spark catalyst rewrites declarative plans into whole stage "
         "codegen pipelines that stream columnar batches through the jvm")])
    land("b.parquet", [(12, base + " again tomorrow")])
    run()
    labels = got()
    assert labels == expected()
    d = dict(labels)
    assert d[9] == 4 and d[12] == 4  # one dup cluster, canonical min id
    assert 30 not in d  # singletons never enter the pair graph
    assert sorted(
        r["doc_id"] for r in current_kept_docs(spark, out_dir).collect()
    ) == [4, 30]

    # restart: a SMALLER id near-dups the kept doc — the chained fold
    # must merge the stored cluster (relabel to the new min) and record
    # the relabel pressure
    land("c.parquet", [(2, base + " always")])
    run()
    labels = got()
    assert labels == expected()
    d = dict(labels)
    assert d[4] == 2 and d[9] == 2 and d[12] == 2
    audit = read_relabel_audit(comp_dir)
    assert audit and audit[-1]["members_relabeled"] == 3

    # fresh-checkpoint renumbered replay: every batch is a guard-skip in
    # BOTH stores — labels and history unchanged
    _sh.rmtree(ckpt)
    run(ck=tmp_path / "ckpt_near2")
    assert got() == labels and got() == expected()


def test_near_dedup_backfill_refuses_unreconstructable_pair_history(
    spark, tmp_path
):
    """A gate upgraded MID-LIFE (pair recording starts after batches
    already committed) can never reconstruct the missing pairs —
    replays of committed batches are guard-skips. The partial marker
    written at the trail's late first record makes the cluster backfill
    refuse even after the trail's FRONTIER catches up with the gate
    (the frontier check alone stops seeing the gap then —
    code-review r17)."""
    import shutil as _sh

    import pytest as _pytest

    from data_pipeline_challenge_spark.streaming import near_dedup_stream as nd

    out = tmp_path / "legacy_near"
    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the late afternoon sun"
    )
    nd.fold_batch(
        spark, out,
        spark.createDataFrame(
            [(4, base), (9, base + " today")], "doc_id long, text string"
        ),
        0, "doc_id", "text", min_jaccard=0.5, n_prefix=8,
    )
    _sh.rmtree(out / "pairs")  # simulate a pre-pair-recording gate
    nd.fold_batch(
        spark, out,
        spark.createDataFrame(
            [(12, base + " again tomorrow")], "doc_id long, text string"
        ),
        1, "doc_id", "text", min_jaccard=0.5, n_prefix=8,
    )
    # the trail's frontier has caught up (pairs last == committed) but
    # batch 0's pairs are gone forever — refuse the backfill
    from data_pipeline_challenge_spark.batchstore import last_batch_id

    assert last_batch_id(out / "pairs") == 1
    with _pytest.raises(RuntimeError, match="verified-pair trail"):
        nd.backfill_dup_clusters(spark, out, tmp_path / "legacy_clusters")


def test_near_dedup_backfill_with_pairless_history_is_marker_only(
    spark, tmp_path
):
    """A gate whose committed history verified ZERO pairs backfills to a
    MARKER-ONLY cluster store (no data dirs — a file-less partitioned
    write would poison reads): the committed horizon still advances the
    replay/numbering guards, the view stays None until the first real
    pair, and the continuing stream folds forward normally."""
    from data_pipeline_challenge_spark.batchstore import last_batch_id
    from data_pipeline_challenge_spark.streaming import near_dedup_stream as nd
    from data_pipeline_challenge_spark.streaming.components_stream import (
        current_components,
        fold_batch as comp_fold,
    )

    out = tmp_path / "pairless_near"
    nd.fold_batch(
        spark, out,
        spark.createDataFrame(
            [(1, "entirely unrelated words about cooking pasta with garlic"),
             (2, "spark catalyst rewrites declarative plans into codegen")],
            "doc_id long, text string",
        ),
        0, "doc_id", "text", min_jaccard=0.5, n_prefix=8,
    )
    cl = tmp_path / "pairless_clusters"
    nd.backfill_dup_clusters(spark, out, cl, components_n_prefix=8)
    assert last_batch_id(cl / "labels") == 0  # horizon carried by marker
    assert current_components(spark, cl) is None  # nothing labeled yet
    # the continuing numbering folds forward from the seeded horizon
    comp_fold(
        spark, cl,
        spark.createDataFrame([(7, 8)], "src long, dst long"),
        1, n_prefix=8,
    )
    assert dict(
        (r["vertex"], r["component"])
        for r in current_components(spark, cl).collect()
    ) == {7: 7, 8: 7}


def test_funnel_components_view_and_late_enable_backfill(spark, tmp_path):
    """The composed dup-cluster view at the FUNNEL level: a fresh
    ``components=True`` funnel maintains cluster labels equal to batch
    components over its pair history (and surfaces them in
    pipeline_report); enabling the view LATE on a warehouse that
    already folded batches is refused (a partial cluster view would be
    silently wrong — the retrieval index's lateness rule) until
    backfill_dup_clusters seeds it, after which the continuing
    checkpoint folds forward and the view covers all history."""
    import pytest as _pytest

    from data_pipeline_challenge_spark.batchstore import read_batch_store
    from data_pipeline_challenge_spark.operators.graph import (
        connected_components,
    )
    from data_pipeline_challenge_spark.streaming.corpus_pipeline_stream import (
        current_dup_clusters,
        pipeline_report,
        start_corpus_pipeline_stream,
    )
    from data_pipeline_challenge_spark.streaming.near_dedup_stream import (
        backfill_dup_clusters,
    )

    corpus_dir = tmp_path / "fc_in"
    corpus_dir.mkdir()
    SCHEMA = "doc_id long, text string"
    land = _near_corpus_land(corpus_dir, [1_700_000_000])
    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the late afternoon sun"
    )
    land("a.parquet", [(9, base + " today"), (4, base), (30,
         "spark catalyst rewrites declarative plans into whole stage "
         "codegen pipelines that stream columnar batches through the jvm")])

    def run(out, ck, components):
        q = start_corpus_pipeline_stream(
            spark, corpus_dir, out, ck, SCHEMA, "doc_id", "text",
            min_jaccard=0.5, n_prefix=8, max_files_per_trigger=1,
            components=components,
        )
        q.awaitTermination(300)

    def labels(out):
        cur = current_dup_clusters(spark, out)
        return (
            {r["vertex"]: r["component"] for r in cur.collect()}
            if cur is not None
            else {}
        )

    def expected(out):
        hist = read_batch_store(spark, out / "near" / "pairs").select(
            "doc1", "doc2"
        )
        return {
            r["vertex"]: r["component"]
            for r in connected_components(hist, src="doc1", dst="doc2").collect()
        }

    # LATE-ENABLE path: fold without the view first
    out1, ck1 = tmp_path / "funnel1", tmp_path / "fck1"
    run(out1, ck1, components=False)
    land("b.parquet", [(12, base + " again tomorrow")])
    with _pytest.raises(RuntimeError, match="backfill_dup_clusters"):
        run(out1, ck1, components=True)
    # a LOST checkpoint doesn't sneak past the guard either (both
    # read -1 without the unconditional never-folded refusal —
    # code-review r17)
    with _pytest.raises(RuntimeError, match="backfill_dup_clusters"):
        run(out1, tmp_path / "fck1_lost", components=True)
    # backfill with a NON-default layout modulus: the continuing
    # funnel must adopt the store's pinned value, not re-pin 256
    backfill_dup_clusters(
        spark, out1 / "near", out1 / "clusters", components_n_prefix=64
    )
    assert labels(out1) == {4: 4, 9: 4}  # seeded from committed history
    run(out1, ck1, components=True)  # continuing checkpoint folds forward
    assert labels(out1) == expected(out1) == {4: 4, 9: 4, 12: 4}

    # FRESH path: components=True from batch 0 over the same files
    out2, ck2 = tmp_path / "funnel2", tmp_path / "fck2"
    run(out2, ck2, components=True)
    assert labels(out2) == expected(out2) == {4: 4, 9: 4, 12: 4}
    rep = {
        (r["stage"], r["metric"]): r["value"]
        for r in pipeline_report(spark, out2).collect()
    }
    assert rep[("clusters", "labeled_docs")] == 3
    assert rep[("clusters", "relabel_events")] == 0


def test_near_dedup_stream_probe_shape_and_consolidation(spark, tmp_path):
    """Cost-shape pins: the band-index probe is partition-pruned (the
    bucket-prefix isin lands in PartitionFilters) and never shuffles the
    index (no SortMergeJoin in the probe plan); store consolidation
    preserves the reader view."""
    from data_pipeline_challenge_spark.streaming.near_dedup_stream import (
        current_kept_docs,
        history_buckets,
        start_near_dedup_stream,
    )

    corpus_dir = tmp_path / "corpus_in"
    corpus_dir.mkdir()
    out_dir = tmp_path / "near"
    ckpt = tmp_path / "ckpt_near"
    SCHEMA = "doc_id long, text string"
    land = _near_corpus_land(corpus_dir, [1_700_000_000])

    land("a.parquet", [
        (i, f"document number {i} about topic {i % 7} with enough distinct "
            f"words {i * 3} to form shingles {i * 5} reliably {i * 11}")
        for i in range(30)
    ])
    q = start_near_dedup_stream(
        spark, corpus_dir, out_dir, ckpt, SCHEMA, "doc_id", "text",
        min_jaccard=0.5, n_prefix=8,
    )
    q.awaitTermination(240)

    hist = history_buckets(spark, out_dir, [2, 5])
    plan = spark._jvm.PythonSQLUtils.explainString(
        hist._jdf.queryExecution(), "formatted"
    )
    seg = plan.split("PartitionFilters")[1].split("\n")[0]
    assert "bh_prefix" in seg

    probe = history_buckets(spark, out_dir, [0, 1]).join(
        F.broadcast(
            spark.createDataFrame([(0, 1)], "band int, bh long")
        ),
        ["band", "bh"],
        "left_semi",
    )
    plan = spark._jvm.PythonSQLUtils.explainString(
        probe._jdf.queryExecution(), "formatted"
    )
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan

    before = {r["doc_id"] for r in current_kept_docs(spark, out_dir).collect()}
    compact_view(spark, near_dedup_stream.VIEW, out_dir)
    after = {r["doc_id"] for r in current_kept_docs(spark, out_dir).collect()}
    assert before == after
    all_buckets = history_buckets(spark, out_dir, list(range(8))).count()
    assert all_buckets > 0


def test_decontam_stream_gates_at_ingest(spark, tmp_path):
    """Streaming decontamination gate: docs sharing >= min_shared
    word-n-grams with the eval set divert to the contaminated store with
    overlap evidence; clean docs flow through; verdicts match the batch
    contamination_report over the union; replay folds nothing twice."""
    from data_pipeline_challenge_spark.operators.decontam import (
        contamination_report,
    )
    from data_pipeline_challenge_spark.streaming.decontam_stream import (
        contamination_log,
        current_clean_docs,
        start_decontam_stream,
    )

    corpus_dir = tmp_path / "corpus_in"
    corpus_dir.mkdir()
    out_dir = tmp_path / "gate"
    ckpt = tmp_path / "ckpt_gate"
    SCHEMA = "doc_id long, text string"
    land = _near_corpus_land(corpus_dir, [1_700_000_000])

    eval_df = spark.createDataFrame(
        [
            (900, "the held out benchmark asks about the tallest mountain on earth"),
        ],
        "doc_id long, text string",
    )

    leaky = "students wrote that the tallest mountain on earth is everest"
    clean1 = "spark shuffles hash partitioned data between executor stages"
    clean2 = "parquet row groups carry min max statistics for pruning"

    land("a.parquet", [(1, leaky), (2, clean1)])
    land("b.parquet", [(3, clean2)])

    def run():
        q = start_decontam_stream(
            spark, corpus_dir, eval_df, out_dir, ckpt, SCHEMA,
            "doc_id", "text", min_shared=2, max_files_per_trigger=1,
        )
        q.awaitTermination(180)

    run()
    clean_ids = sorted(r["doc_id"] for r in current_clean_docs(spark, out_dir).collect())
    assert clean_ids == [2, 3]
    log = {r["doc_id"]: (r["n_shared"], r["n_eval_docs"])
           for r in contamination_log(spark, out_dir).collect()}
    assert set(log) == {1}
    n_shared, n_eval = log[1]
    assert n_shared >= 2 and n_eval == 1

    # Verdict parity with the batch operator over the full corpus.
    full = spark.read.schema(SCHEMA).parquet(str(corpus_dir))
    batch_report = {
        r["doc_id"]: r["n_shared"]
        for r in contamination_report(full, eval_df, "doc_id", "text").collect()
        if r["n_shared"] >= 2
    }
    assert set(batch_report) == set(log)
    assert batch_report[1] == n_shared

    # Fresh-checkpoint replay is a no-op.
    import shutil as _sh

    _sh.rmtree(ckpt)
    run()
    assert sorted(
        r["doc_id"] for r in current_clean_docs(spark, out_dir).collect()
    ) == [2, 3]
    assert contamination_log(spark, out_dir).count() == 1


def test_corpus_pipeline_stream_runs_all_gates(spark, tmp_path):
    """The composed funnel: decontam -> exact dedup -> near dedup in one
    foreachBatch. A contaminated doc is diverted with evidence, an exact
    duplicate arriving later is dropped, a near-duplicate of a kept doc
    is dropped, novel docs flow through — across batches, a restart, and
    a fresh-checkpoint replay."""
    from data_pipeline_challenge_spark.streaming.corpus_pipeline_stream import (
        current_corpus,
        start_corpus_pipeline_stream,
    )
    from data_pipeline_challenge_spark.streaming.decontam_stream import (
        contamination_log,
    )

    corpus_dir = tmp_path / "corpus_in"
    corpus_dir.mkdir()
    out_dir = tmp_path / "pipe"
    ckpt = tmp_path / "ckpt_pipe"
    SCHEMA = "doc_id long, text string"
    land = _near_corpus_land(corpus_dir, [1_700_000_000])

    eval_df = spark.createDataFrame(
        [(900, "the benchmark asks which river is the longest river on earth")],
        "doc_id long, text string",
    )

    leaky = "my answer said the longest river on earth is the nile river"
    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the late afternoon sun"
    )
    clean1 = "spark shuffles hash partitioned data between executor stages"

    def run():
        q = start_corpus_pipeline_stream(
            spark, corpus_dir, out_dir, ckpt, SCHEMA, "doc_id", "text",
            eval_df=eval_df, min_shared=2, min_jaccard=0.5, n_prefix=8,
            max_files_per_trigger=1,
        )
        q.awaitTermination(300)

    # batch 0: one contaminated, one keeper, one base doc
    land("a.parquet", [(1, leaky), (2, clean1), (3, base)])
    # batch 1: exact dup of clean1 (drop), near dup of base (drop), novel
    land("b.parquet", [
        (10, "Spark  shuffles hash partitioned DATA between executor stages"),
        (11, base + " today"),
        (12, "parquet row groups carry min max statistics for file pruning"),
    ])
    run()

    kept = sorted(r["doc_id"] for r in current_corpus(spark, out_dir).collect())
    assert kept == [2, 3, 12]
    log = [r["doc_id"] for r in contamination_log(spark, out_dir / "decontam").collect()]
    assert log == [1]

    # restart: another near-dup of base + one novel doc
    land("c.parquet", [(20, base + " always"), (21, "ledger events replay "
                                                    "deterministically into the "
                                                    "published state table")])
    run()
    kept = sorted(r["doc_id"] for r in current_corpus(spark, out_dir).collect())
    assert kept == [2, 3, 12, 21]

    # fresh-checkpoint replay: nothing folds twice
    import shutil as _sh

    _sh.rmtree(ckpt)
    run()
    kept = sorted(r["doc_id"] for r in current_corpus(spark, out_dir).collect())
    assert kept == [2, 3, 12, 21]


def test_corpus_pipeline_transform_stage_scrubs_before_gates(spark, tmp_path):
    """The stateless transform stage canonicalizes text BEFORE any gate:
    two docs differing only in redacted spans exact-dedup to one, the
    kept corpus carries the masked form, and the raw PII string appears
    in NO parquet file anywhere under the pipeline's stores."""
    from pyspark.sql import functions as F

    from data_pipeline_challenge_spark.functions.textfn import scrub_pii
    from data_pipeline_challenge_spark.streaming.corpus_pipeline_stream import (
        current_corpus,
        start_corpus_pipeline_stream,
    )

    corpus_dir = tmp_path / "corpus_in"
    corpus_dir.mkdir()
    out_dir = tmp_path / "pipe"
    ckpt = tmp_path / "ckpt_pipe"
    SCHEMA = "doc_id long, text string"
    land = _near_corpus_land(corpus_dir, [1_700_000_000])

    def run():
        q = start_corpus_pipeline_stream(
            spark, corpus_dir, out_dir, ckpt, SCHEMA, "doc_id", "text",
            transform_exprs={"text": scrub_pii(F.col("text"))},
            min_jaccard=0.9, n_prefix=8, max_files_per_trigger=1,
        )
        q.awaitTermination(300)

    contact = "reach the operator at {} for cluster access credentials"
    land("a.parquet", [
        (1, contact.format("alice@example.com")),
        (2, "parquet row groups carry min max statistics for file pruning"),
    ])
    # next batch: the same doc with a DIFFERENT address — identical after
    # redaction, so the exact gate must drop it against history
    land("b.parquet", [(10, contact.format("bob@other.org"))])
    run()

    kept = {r["doc_id"]: r["text"] for r in current_corpus(spark, out_dir).collect()}
    assert sorted(kept) == [1, 2]
    assert "<EMAIL>" in kept[1] and "alice@example.com" not in kept[1]

    # The no-raw-PII guarantee holds across EVERY store the pipeline
    # wrote (docs, fingerprint/band indexes, audits), not just the view.
    import pyarrow.parquet as pq

    for f in out_dir.rglob("*.parquet"):
        tbl = pq.read_table(str(f))
        for col in tbl.column_names:
            vals = "|".join(str(v) for v in tbl.column(col).to_pylist())
            assert "alice@example.com" not in vals, f"raw PII in {f}:{col}"
            assert "bob@other.org" not in vals, f"raw PII in {f}:{col}"


def test_corpus_pipeline_refuses_funnel_drift_on_restart(spark, tmp_path):
    """The composed pipeline pins its funnel-defining config (transform
    exprs, quality predicate, stage presence) at the root: a restart
    with a different transform — or with the scrub dropped — fails
    loudly instead of judging new arrivals against history whose
    fingerprints were computed from differently-canonicalized text. An
    identically-reconstructed config restarts fine."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from data_pipeline_challenge_spark.functions.textfn import scrub_pii
    from data_pipeline_challenge_spark.streaming.corpus_pipeline_stream import (
        start_corpus_pipeline_stream,
    )

    corpus_dir = tmp_path / "corpus_in"
    corpus_dir.mkdir()
    out_dir = tmp_path / "pipe"
    ckpt = tmp_path / "ckpt_pipe"
    SCHEMA = "doc_id long, text string"
    land = _near_corpus_land(corpus_dir, [1_700_000_000])
    land("a.parquet", [(1, "spark shuffles hash partitioned data between stages")])

    def run(**kw):
        q = start_corpus_pipeline_stream(
            spark, corpus_dir, out_dir, ckpt, SCHEMA, "doc_id", "text",
            n_prefix=8, max_files_per_trigger=1, **kw,
        )
        q.awaitTermination(300)

    scrubbed = {"text": scrub_pii(F.col("text"))}
    run(transform_exprs=scrubbed)
    # identical reconstruction: fine
    run(transform_exprs={"text": scrub_pii(F.col("text"))})
    # dropping the transform, or swapping in a different one: refused
    with _pytest.raises(RuntimeError, match="rebuild into a fresh"):
        run()
    with _pytest.raises(RuntimeError, match="rebuild into a fresh"):
        run(transform_exprs={"text": F.lower(F.col("text"))})


def test_corpus_pipeline_resumes_after_mid_stage_crash(spark, tmp_path):
    """Crash-mid-pipeline contract: a batch folded through the first two
    stages only (the process died before the near stage) is completed on
    replay — earlier stages skip and hand the near stage their STORED
    output, and the final corpus equals an uninterrupted run's."""
    from data_pipeline_challenge_spark.streaming import (
        decontam_stream,
        dedup_stream,
    )
    from data_pipeline_challenge_spark.streaming.corpus_pipeline_stream import (
        current_corpus,
        start_corpus_pipeline_stream,
    )

    SCHEMA = "doc_id long, text string"
    eval_df = spark.createDataFrame(
        [(900, "the benchmark asks which river is the longest river on earth")],
        "doc_id long, text string",
    )
    rows = [
        (1, "my answer said the longest river on earth is the nile river"),
        (2, "spark shuffles hash partitioned data between executor stages"),
        (2, "spark shuffles hash partitioned data between executor stages"),
    ]

    def land_into(d):
        import pyarrow as pa
        import pyarrow.parquet as pq

        d.mkdir()
        ids, texts = zip(*rows)
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)}),
            str(d / "a.parquet"),
        )

    # Control: uninterrupted run.
    ctrl_in, ctrl_out = tmp_path / "cin", tmp_path / "cout"
    land_into(ctrl_in)
    q = start_corpus_pipeline_stream(
        spark, ctrl_in, ctrl_out, tmp_path / "cckpt", SCHEMA, "doc_id", "text",
        eval_df=eval_df, min_shared=2, min_jaccard=0.5, n_prefix=8,
    )
    q.awaitTermination(300)
    expected = sorted(r["doc_id"] for r in current_corpus(spark, ctrl_out).collect())

    # Crashed run: batch 0 folded through decontam + exact ONLY (as if the
    # process died before the near stage), then the stream starts fresh.
    cr_in, cr_out = tmp_path / "xin", tmp_path / "xout"
    land_into(cr_in)
    batch0 = spark.read.schema(SCHEMA).parquet(str(cr_in))
    ev = decontam_stream.eval_shingles(eval_df, "doc_id", "text", 3)
    mid = decontam_stream.fold_batch(
        spark, cr_out / "decontam", batch0, 0, ev,
        id_col="doc_id", text_col="text", min_shared=2,
    )
    dedup_stream.fold_batch(
        spark, cr_out / "exact", mid, 0, id_col="doc_id", text_col="text",
        n_prefix=8,
    )
    assert not (cr_out / "near").exists()  # the "crash" point

    q = start_corpus_pipeline_stream(
        spark, cr_in, cr_out, tmp_path / "xckpt", SCHEMA, "doc_id", "text",
        eval_df=eval_df, min_shared=2, min_jaccard=0.5, n_prefix=8,
    )
    q.awaitTermination(300)
    got = sorted(r["doc_id"] for r in current_corpus(spark, cr_out).collect())
    assert got == expected


def test_embedding_dedup_stream_gates_vectors(spark, tmp_path):
    """Embedding-cosine near-dedup against a servable LSH index: the
    first batch bootstraps the base (intra-batch greedy dedup), later
    batches drop vectors with a >= min_cos match among kept history,
    the maintained set serves lsh_topk_indexed directly, and replay
    (restart + fresh checkpoint) folds nothing twice."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_challenge_spark.operators.similarity import (
        lsh_topk_indexed,
    )
    from data_pipeline_challenge_spark.streaming.embedding_dedup_stream import (
        current_kept_vectors,
    )

    rng = np.random.RandomState(7)
    DIM = 16

    def unit(v):
        v = np.asarray(v, dtype=np.float32)
        return (v / np.linalg.norm(v)).astype(np.float32)

    a = unit(rng.standard_normal(DIM))
    b = unit(rng.standard_normal(DIM))
    a_jit = unit(a + 0.01 * rng.standard_normal(DIM))   # ~cos 0.9999 with a
    b_jit = unit(b + 0.01 * rng.standard_normal(DIM))
    c = unit(rng.standard_normal(DIM))

    vec_dir = tmp_path / "vecs_in"
    vec_dir.mkdir()
    idx = tmp_path / "emb_idx"
    ckpt = tmp_path / "ckpt_emb"
    SCHEMA = "vec_id long, embedding array<float>"
    mt = [1_700_000_000]
    import os as _os

    def land(name, rows):
        ids, vecs = zip(*rows)
        p = vec_dir / name
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(ids, pa.int64()),
                    "embedding": pa.array(
                        [list(map(float, v)) for v in vecs],
                        pa.list_(pa.float32()),
                    ),
                }
            ),
            str(p),
        )
        mt[0] += 10
        _os.utime(p, (mt[0], mt[0]))

    def run():
        q = start_view(
            spark, embedding_dedup_stream.VIEW, vec_dir, idx, ckpt, SCHEMA,
            min_cos=0.98, n_planes=6, max_files_per_trigger=1,
        )
        q.awaitTermination(240)

    # batch 0 (bootstrap): intra-batch near-dup pair {1: a, 5: a_jit} ->
    # min id 1 kept; plus one distinct vector.
    land("a.parquet", [(5, a_jit), (1, a), (2, b)])
    # batch 1: near-dup of kept a (drop), near-dup of kept b (drop), novel c
    land("b.parquet", [(10, unit(a + 0.005 * rng.standard_normal(DIM))),
                       (11, b_jit), (12, c)])
    run()
    kept = sorted(r["vec_id"] for r in current_kept_vectors(spark, idx).collect())
    assert kept == [1, 2, 12]

    # The maintained index serves ANN probes over base + increments.
    qdf = spark.createDataFrame(
        [(999, [float(x) for x in a])], SCHEMA
    ).select("embedding")
    top = lsh_topk_indexed(spark, idx, qdf, k=3, probe_hamming=1).collect()
    assert top and top[0]["vec_id"] == 1  # a's twin survived as id 1

    # restart with one more near-dup (of c) and one novel vector
    d = unit(rng.standard_normal(DIM))
    land("c.parquet", [(20, unit(c + 0.005 * rng.standard_normal(DIM))), (21, d)])
    run()
    kept = sorted(r["vec_id"] for r in current_kept_vectors(spark, idx).collect())
    assert kept == [1, 2, 12, 21]

    # fresh-checkpoint replay: nothing folds twice
    import shutil as _sh

    _sh.rmtree(ckpt)
    run()
    kept = sorted(r["vec_id"] for r in current_kept_vectors(spark, idx).collect())
    assert kept == [1, 2, 12, 21]


def test_filter_gate_and_full_funnel_with_quality(spark, tmp_path):
    """The stateless predicate gate partitions every row exactly once
    (keep, reject-with-audit, nulls rejected), and the four-stage funnel
    with gopher_keep as stage 0 drops a low-quality doc before the
    stateful gates ever see it."""
    from data_pipeline_challenge_spark.streaming.corpus_pipeline_stream import (
        current_corpus,
        start_corpus_pipeline_stream,
    )
    from data_pipeline_challenge_spark.streaming.filter_gate_stream import (
        current_admitted_docs,
        gopher_keep,
        rejected_log,
    )

    corpus_dir = tmp_path / "corpus_in"
    corpus_dir.mkdir()
    out_dir = tmp_path / "pipe"
    ckpt = tmp_path / "ckpt_pipe"
    SCHEMA = "doc_id long, text string"
    land = _near_corpus_land(corpus_dir, [1_700_000_000])

    good = ("the archive holds twelve distinct essays about rivers "
            "mountains forests deserts glaciers and coastal plains "
            "written by separate authors over several decades")
    junk = "spam spam spam spam spam spam spam spam spam spam spam spam"  # repetition cap
    tiny = "too short"                                                    # token floor

    land("a.parquet", [(1, good), (2, junk), (3, tiny)])
    q = start_corpus_pipeline_stream(
        spark, corpus_dir, out_dir, ckpt, SCHEMA, "doc_id", "text",
        quality_expr=gopher_keep("text", min_tokens=15, max_tokens=100),
        min_jaccard=0.5, n_prefix=8,
    )
    q.awaitTermination(300)

    assert sorted(
        r["doc_id"] for r in current_corpus(spark, out_dir).collect()
    ) == [1]
    rej = sorted(
        r["doc_id"] for r in rejected_log(spark, out_dir / "quality").collect()
    )
    assert rej == [2, 3]
    adm = sorted(
        r["doc_id"]
        for r in current_admitted_docs(spark, out_dir / "quality").collect()
    )
    assert adm == [1]

    # A null text row is rejected, never lost.
    import pyarrow as pa
    import pyarrow.parquet as pq
    import os as _os

    p = corpus_dir / "b.parquet"
    pq.write_table(
        pa.table({"doc_id": pa.array([9], pa.int64()),
                  "text": pa.array([None], pa.string())}),
        str(p),
    )
    _os.utime(p, (1_700_001_000, 1_700_001_000))
    q = start_corpus_pipeline_stream(
        spark, corpus_dir, out_dir, ckpt, SCHEMA, "doc_id", "text",
        quality_expr=gopher_keep("text", min_tokens=15, max_tokens=100),
        min_jaccard=0.5, n_prefix=8,
    )
    q.awaitTermination(300)
    rej = sorted(
        r["doc_id"] for r in rejected_log(spark, out_dir / "quality").collect()
    )
    assert rej == [2, 3, 9]
    assert sorted(
        r["doc_id"] for r in current_corpus(spark, out_dir).collect()
    ) == [1]


def test_window_builders_timezone_agnostic_on_ntz(spark):
    """Window-boundary epochs from TIMESTAMP_NTZ input must not move with
    spark.sql.session.timeZone: unix_timestamp on NTZ resolves through
    the session zone (shifting every boundary by the zone offset), so
    the builders route NTZ through catalog.ntz_epoch_us."""
    import datetime as dt

    rows = [
        (1, dt.datetime(2025, 3, 9, 2, 30), 7, "view", 1.0, ""),
        (2, dt.datetime(2025, 3, 9, 3, 10), 7, "view", 2.0, ""),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )

    def starts():
        return sorted(
            r["window_start_s"] for r in tumbling_counts(ev, "1 hour").collect()
        )

    prev = spark.conf.get("spark.sql.session.timeZone")
    utc = starts()
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        ny = starts()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert utc == ny
    # and the wall clock reads as UTC: 2025-03-09T02:00Z epoch
    assert utc[0] == 1741485600


def test_gates_survive_degenerate_batches(spark, tmp_path):
    """Regression battery for the empty-increment wedge class: a
    partitioned write of an empty DataFrame creates a file-less dir that
    poisons every later read of the store. Each scenario previously
    wedged or polluted a stream: (a) an all-duplicate batch in the exact
    gate, (b) a short-docs-only first batch in the near gate (kept but
    bandless), (c) an all-duplicate batch in the embedding gate, (d) a
    re-sent (id, vector) pair that must NOT be appended twice."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_challenge_spark.streaming import (
        dedup_stream,
        near_dedup_stream,
    )
    from data_pipeline_challenge_spark.streaming.embedding_dedup_stream import (
        current_kept_vectors,
    )

    # (a) exact gate: batch 1 is entirely duplicates of batch 0.
    d = tmp_path / "exact"
    b0 = spark.createDataFrame([(1, "alpha beta"), (2, "gamma delta")],
                               "doc_id long, text string")
    assert dedup_stream.fold_batch(spark, d, b0, 0, "doc_id", "text", 4) is not None
    dup = spark.createDataFrame([(9, "ALPHA  beta"), (8, "gamma   DELTA")],
                                "doc_id long, text string")
    assert dedup_stream.fold_batch(spark, d, dup, 1, "doc_id", "text", 4) is None
    assert not (d / "docs" / "ingest_batch=1").exists()
    assert not (d / "fp_index" / "ingest_batch=1").exists()
    # store still readable and correct
    assert dedup_stream.current_novel_docs(spark, d).count() == 2

    # (b) near gate: first batch all-short docs -> kept, no bands; the
    # NEXT batch's history probe must not throw.
    n = tmp_path / "near"
    shorts = spark.createDataFrame([(1, "hi"), (2, "yo")], "doc_id long, text string")
    out = near_dedup_stream.fold_batch(spark, n, shorts, 0, "doc_id", "text",
                                       min_jaccard=0.5, n_prefix=4)
    assert out is not None and out.count() == 2
    assert not (n / "band_index" / "ingest_batch=0").exists()
    longs = spark.createDataFrame(
        [(3, "a much longer document with plenty of distinct tokens inside")],
        "doc_id long, text string",
    )
    out = near_dedup_stream.fold_batch(spark, n, longs, 1, "doc_id", "text",
                                       min_jaccard=0.5, n_prefix=4)
    assert out is not None and out.count() == 1
    assert near_dedup_stream.current_kept_docs(spark, n).count() == 3

    # (c)+(d) embedding gate via the real stream.
    rng = np.random.RandomState(3)
    v1 = rng.standard_normal(8).astype(np.float32)
    v2 = rng.standard_normal(8).astype(np.float32)
    vec_dir = tmp_path / "vecs"
    vec_dir.mkdir()
    import os as _os

    def land(name, rows, mtime):
        ids, vecs = zip(*rows)
        p = vec_dir / name
        pq.write_table(
            pa.table({"vec_id": pa.array(ids, pa.int64()),
                      "embedding": pa.array([list(map(float, v)) for v in vecs],
                                            pa.list_(pa.float32()))}),
            str(p),
        )
        _os.utime(p, (mtime, mtime))

    land("a.parquet", [(1, v1), (2, v2)], 1_700_000_000)
    # batch 1: the SAME vectors — one under its original id (re-delivery),
    # one under a new id (plain near-dup). Both must be dropped.
    land("b.parquet", [(1, v1), (7, v2)], 1_700_000_100)
    idx = tmp_path / "emb"
    q = start_view(
        spark, embedding_dedup_stream.VIEW, vec_dir, idx, tmp_path / "ck",
        "vec_id long, embedding array<float>", min_cos=0.99, n_planes=4,
        max_files_per_trigger=1,
    )
    q.awaitTermination(240)
    rows = current_kept_vectors(spark, idx).collect()
    assert sorted(r["vec_id"] for r in rows) == [1, 2]  # no duplicate id-1 row
    assert not (idx / "bucketed_inc" / "ingest_batch=1").exists()


def test_streams_skip_zero_row_files(spark, tmp_path):
    """A schema-only (zero-row) parquet file used to wedge the packing
    and index streams fatally: the empty partitioned write left a
    file-less increment dir that made the very next store read throw.
    Both streams must now skip the batch and process later files."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    import os as _os

    from data_pipeline_challenge_spark.operators.packing import (
        pack_sequences_sharded,
    )
    from data_pipeline_challenge_spark.operators.similarity import (
        lsh_build_index,
        lsh_topk_indexed,
    )
    from data_pipeline_challenge_spark.streaming.index_stream import (
        start_index_stream,
    )
    from data_pipeline_challenge_spark.streaming.packing_stream import (
        current_packed,
        start_packing_stream,
    )

    # --- packing: empty file FIRST (previously fatal), then real rows.
    corpus = tmp_path / "pack_in"
    corpus.mkdir()
    SCHEMA = "source string, doc_id long, n_tokens long"
    pq.write_table(
        pa.table({"source": pa.array([], pa.string()),
                  "doc_id": pa.array([], pa.int64()),
                  "n_tokens": pa.array([], pa.int64())}),
        str(corpus / "empty.parquet"),
    )
    _os.utime(corpus / "empty.parquet", (1_700_000_000, 1_700_000_000))
    pq.write_table(
        pa.table({"source": pa.array(["web", "web"]),
                  "doc_id": pa.array([1, 2], pa.int64()),
                  "n_tokens": pa.array([40, 70], pa.int64())}),
        str(corpus / "real.parquet"),
    )
    _os.utime(corpus / "real.parquet", (1_700_000_100, 1_700_000_100))
    out = tmp_path / "packed"
    q = start_packing_stream(
        spark, corpus, out, tmp_path / "ckp", SCHEMA,
        "source", "doc_id", "n_tokens", capacity=100, n_shards=4,
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    assert not (out / "rows" / "ingest_batch=0").exists()
    got = {tuple(r) for r in current_packed(spark, out)
           .select("source", "doc_id", "bin").collect()}
    full = spark.read.schema(SCHEMA).parquet(str(corpus))
    want = {tuple(r) for r in
            pack_sequences_sharded(full, "source", "doc_id", "n_tokens", 100, n_shards=4)
            .select("source", "doc_id", "bin").collect()}
    assert got == want

    # --- index stream: empty vectors file then a real one.
    rng = np.random.RandomState(5)
    base = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    idx = tmp_path / "idx"
    lsh_build_index(base, idx, dim=8, n_planes=4)
    vin = tmp_path / "vec_in"
    vin.mkdir()
    pq.write_table(
        pa.table({"vec_id": pa.array([], pa.int64()),
                  "embedding": pa.array([], pa.list_(pa.float32()))}),
        str(vin / "empty.parquet"),
    )
    _os.utime(vin / "empty.parquet", (1_700_000_000, 1_700_000_000))
    v = [float(x) for x in rng.standard_normal(8)]
    pq.write_table(
        pa.table({"vec_id": pa.array([99], pa.int64()),
                  "embedding": pa.array([v], pa.list_(pa.float32()))}),
        str(vin / "real.parquet"),
    )
    _os.utime(vin / "real.parquet", (1_700_000_100, 1_700_000_100))
    q = start_index_stream(
        spark, vin, idx, tmp_path / "cki",
        "vec_id long, embedding array<float>", max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    assert not (idx / "bucketed_inc" / "ingest_batch=0").exists()
    qdf = spark.createDataFrame([(0, v)], "vec_id long, embedding array<float>").select("embedding")
    ids = {r["vec_id"] for r in lsh_topk_indexed(spark, idx, qdf, k=5, probe_hamming=1).collect()}
    assert 99 in ids  # the post-empty batch folded and serves


def test_embedding_dedup_probe_prunes_bucket_partitions(spark, tmp_path):
    """The embedding gate's history view is partition-pruned by the probe
    bucket list on BOTH the base table and the increments (the bucket
    isin lands in PartitionFilters on each scan), so per-batch probe cost
    is the probed buckets' slices, never the corpus."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    import os as _os

    from data_pipeline_challenge_spark.operators.similarity import (
        _with_increments,
    )

    rng = np.random.RandomState(11)
    vec_dir = tmp_path / "vecs"
    vec_dir.mkdir()

    def land(name, ids, mtime):
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(ids, pa.int64()),
                    "embedding": pa.array(
                        [
                            [float(x) for x in rng.standard_normal(8)]
                            for _ in ids
                        ],
                        pa.list_(pa.float32()),
                    ),
                }
            ),
            str(vec_dir / name),
        )
        _os.utime(vec_dir / name, (mtime, mtime))

    land("a.parquet", list(range(40)), 1_700_000_000)       # bootstrap base
    land("b.parquet", list(range(100, 120)), 1_700_000_100)  # one increment
    idx = tmp_path / "emb_idx"
    q = start_view(
        spark, embedding_dedup_stream.VIEW, vec_dir, idx, tmp_path / "ck",
        "vec_id long, embedding array<float>", min_cos=0.999, n_planes=4,
        max_files_per_trigger=1,
    )
    q.awaitTermination(240)
    assert (idx / "bucketed").exists()
    assert any((idx / "bucketed_inc").glob("ingest_batch=*"))

    hist = _with_increments(spark, idx / "bucketed", idx / "bucketed_inc").filter(
        F.col("bucket").isin([0, 1])
    )
    plan = spark._jvm.PythonSQLUtils.explainString(
        hist._jdf.queryExecution(), "formatted"
    )
    segs = [seg.split("\n")[0] for seg in plan.split("PartitionFilters")[1:]]
    assert len(segs) >= 2  # base scan AND increment scan both pruned
    assert all("bucket" in seg for seg in segs)


def test_gate_guards_sentinels_params_and_redelivery(spark, tmp_path):
    """Round of guard hardening, pinned: (a) a batch whose band side was
    empty still advances the replay guard via an empty-fold sentinel, so
    a renumbered replay with different content cannot overwrite the
    committed docs increment; (b) a restart with different layout
    parameters is refused loudly; (c) a short doc re-delivered under its
    original id is not admitted twice."""
    import pytest as _pytest

    from data_pipeline_challenge_spark.streaming import near_dedup_stream

    d = tmp_path / "near"
    long1 = "a properly long document with many distinct tokens inside it"
    b0 = spark.createDataFrame([(1, long1)], "doc_id long, text string")
    assert near_dedup_stream.fold_batch(
        spark, d, b0, 0, "doc_id", "text", min_jaccard=0.5, n_prefix=4
    ) is not None

    # batch 1: short docs only -> docs written, band side sentinel'd
    shorts = spark.createDataFrame([(5, "hi")], "doc_id long, text string")
    out = near_dedup_stream.fold_batch(
        spark, d, shorts, 1, "doc_id", "text", min_jaccard=0.5, n_prefix=4
    )
    assert out is not None and out.count() == 1
    assert (d / "band_index" / ".empty.b1").exists()

    # (a) renumbered replay of batch 1 with DIFFERENT content: skipped,
    # committed increment untouched.
    different = spark.createDataFrame([(9, "totally different short")],
                                      "doc_id long, text string")
    replay = near_dedup_stream.fold_batch(
        spark, d, different, 1, "doc_id", "text", min_jaccard=0.5, n_prefix=4
    )
    assert sorted(r["doc_id"] for r in replay.collect()) == [5]
    kept = near_dedup_stream.current_kept_docs(spark, d)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 5]

    # (c) re-delivery of the short doc id in a later batch: not duplicated.
    redelivered = spark.createDataFrame([(5, "hi")], "doc_id long, text string")
    out = near_dedup_stream.fold_batch(
        spark, d, redelivered, 2, "doc_id", "text", min_jaccard=0.5, n_prefix=4
    )
    assert out is None  # nothing admitted
    kept = near_dedup_stream.current_kept_docs(spark, d)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 5]

    # (b) layout-parameter drift refused.
    b3 = spark.createDataFrame([(7, long1 + " more")], "doc_id long, text string")
    with _pytest.raises(RuntimeError, match="layout parameters"):
        near_dedup_stream.fold_batch(
            spark, d, b3, 3, "doc_id", "text", min_jaccard=0.5, n_prefix=8
        )


def test_near_dedup_replay_between_store_writes(spark, tmp_path):
    """Crash between the docs and band writes: the replay must recompute
    the identical admission (the re-delivery guard must not match the
    batch against its own crashed docs increment) and complete the band
    side."""
    import shutil as _sh

    from data_pipeline_challenge_spark.streaming import near_dedup_stream

    d = tmp_path / "near"
    text = "a sufficiently long document carrying many distinct tokens here"
    b0 = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = near_dedup_stream.fold_batch(
        spark, d, b0, 0, "doc_id", "text", min_jaccard=0.5, n_prefix=4
    )
    assert out is not None and out.count() == 1

    # Simulate the crash: band increment never landed.
    for p in (d / "band_index").glob("ingest_batch=0"):
        _sh.rmtree(p)

    replay = near_dedup_stream.fold_batch(
        spark, d, b0, 0, "doc_id", "text", min_jaccard=0.5, n_prefix=4
    )
    assert replay is not None and replay.count() == 1
    assert (d / "band_index" / "ingest_batch=0").exists()
    kept = near_dedup_stream.current_kept_docs(spark, d)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1]


def test_decontam_gate_refuses_param_and_eval_drift(spark, tmp_path):
    """The decontam gate's VERDICT-defining parameters (shingle width n,
    min_shared, eval-set content) are pinned like the dedup gates' layout
    params (ADVICE r7): a restart that disagrees fails loudly instead of
    silently changing the gate's semantics mid-store."""
    import pytest as _pytest

    from data_pipeline_challenge_spark.streaming.decontam_stream import (
        start_decontam_stream,
    )

    corpus_dir = tmp_path / "corpus_in"
    corpus_dir.mkdir()
    out_dir = tmp_path / "gate"
    SCHEMA = "doc_id long, text string"
    land = _near_corpus_land(corpus_dir, [1_700_000_000])
    land("a.parquet", [(1, "spark shuffles hash partitioned data between stages")])
    eval_df = spark.createDataFrame(
        [(900, "the held out benchmark asks about the tallest mountain")],
        "doc_id long, text string",
    )

    q = start_decontam_stream(
        spark, corpus_dir, eval_df, out_dir, tmp_path / "ck1", SCHEMA,
        "doc_id", "text", n=3, min_shared=2,
    )
    q.awaitTermination(180)

    # Same parameters + same eval set: restart is fine.
    q = start_decontam_stream(
        spark, corpus_dir, eval_df, out_dir, tmp_path / "ck1", SCHEMA,
        "doc_id", "text", n=3, min_shared=2,
    )
    q.awaitTermination(180)

    # Different shingle width: refused before the stream starts.
    with _pytest.raises(RuntimeError, match="rebuild into a fresh out_dir"):
        start_decontam_stream(
            spark, corpus_dir, eval_df, out_dir, tmp_path / "ck2", SCHEMA,
            "doc_id", "text", n=4, min_shared=2,
        )

    # Different min_shared: refused.
    with _pytest.raises(RuntimeError, match="rebuild into a fresh out_dir"):
        start_decontam_stream(
            spark, corpus_dir, eval_df, out_dir, tmp_path / "ck3", SCHEMA,
            "doc_id", "text", n=3, min_shared=1,
        )

    # Edited eval set (one doc swapped): content fingerprint drifts → refused.
    eval_df2 = spark.createDataFrame(
        [(900, "a different benchmark question about rivers instead")],
        "doc_id long, text string",
    )
    with _pytest.raises(RuntimeError, match="rebuild into a fresh out_dir"):
        start_decontam_stream(
            spark, corpus_dir, eval_df2, out_dir, tmp_path / "ck4", SCHEMA,
            "doc_id", "text", n=3, min_shared=2,
        )


def test_cap_pressure_audit_catches_missed_dup(spark, tmp_path):
    """Cap-bound observability (VERDICT r7 missing #3): at a deliberately
    tiny ``bucket_cap`` a crowded bucket pushes a true near-dup's kept
    twin past the cap and the duplicate is silently ADMITTED — and the
    gate's cap audit records exactly that pressure, so the operator has
    a signal. At an adequate cap the same input dedups fully and the
    audit stays empty (no false alarms)."""
    import numpy as np
    import os as _os
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_challenge_spark.batchstore import read_cap_audit
    from data_pipeline_challenge_spark.streaming.embedding_dedup_stream import (
        current_kept_vectors,
    )

    DIM = 4

    def unit(v):
        v = np.asarray(v, dtype=np.float32)
        return (v / np.linalg.norm(v)).astype(np.float32)

    # Two same-half-space vectors that are NOT near-dups of each other
    # (cos 0.6), plus a later exact near-dup of the second.
    a = unit([1.0, 0.05, 0.0, 0.0])
    b = unit([0.6, 0.8, 0.0, 0.0])       # cos(a,b) ≈ 0.64 < 0.95
    c = unit([0.6001, 0.7999, 0.0, 0.0])  # cos(b,c) ≈ 1.0  ≥ 0.95

    SCHEMA = "vec_id long, embedding array<float>"

    def land(vec_dir, mt, name, rows):
        ids, vecs = zip(*rows)
        p = vec_dir / name
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(ids, pa.int64()),
                    "embedding": pa.array(
                        [list(map(float, v)) for v in vecs],
                        pa.list_(pa.float32()),
                    ),
                }
            ),
            str(p),
        )
        mt[0] += 10
        _os.utime(p, (mt[0], mt[0]))

    def run(tag, cap):
        vec_dir = tmp_path / f"in_{tag}"
        vec_dir.mkdir()
        mt = [1_700_000_000]
        # n_planes=1: the Hamming-1 probe covers both buckets, so the
        # candidate set is complete and ONLY the cap can lose the twin.
        land(vec_dir, mt, "f0.parquet", [(1, a), (2, b)])
        land(vec_dir, mt, "f1.parquet", [(3, c)])
        idx = tmp_path / f"idx_{tag}"
        q = start_view(
            spark, embedding_dedup_stream.VIEW, vec_dir, idx, tmp_path / f"ck_{tag}",
            SCHEMA, min_cos=0.95, n_planes=1, bucket_cap=cap, max_files_per_trigger=1,
        )
        q.awaitTermination(180)
        kept = sorted(
            r["vec_id"] for r in current_kept_vectors(spark, idx).collect()
        )
        return kept, read_cap_audit(idx)

    # Sanity precondition for the crowding setup: a and b must share a
    # history bucket under the seeded single plane (else the cap can't
    # bind). Verified via the maintained store's bucket column.
    kept_ok, audit_ok = run("ok", cap=8)
    from data_pipeline_challenge_spark.streaming.embedding_dedup_stream import (
        current_kept_vectors as _ckv,
    )
    buckets = {
        r["vec_id"]: r["bucket"]
        for r in spark.read.parquet(
            str(tmp_path / "idx_ok" / "bucketed")
        ).collect()
    }
    assert buckets[1] == buckets[2], buckets

    # Adequate cap: full dedup (3 dropped as b's near-dup), no audit.
    assert kept_ok == [1, 2]
    assert audit_ok == []

    # Tiny cap: the bucket holds {1, 2}, cap=1 keeps ref 1 only — the
    # twin (2) is beyond the cap, so the duplicate 3 is ADMITTED...
    kept_tiny, audit_tiny = run("tiny", cap=1)
    assert kept_tiny == [1, 2, 3]  # the known missed-dup admit
    # ...and the audit caught the pressure: batch 1, one ref dropped.
    assert len(audit_tiny) == 1
    rec = audit_tiny[0]
    assert rec["batch_id"] == 1
    assert rec["cap"] == 1
    assert rec["rows_dropped"] >= 1
    assert rec["buckets_at_cap"] >= 1


# Kill-point matrix for the composed funnel (VERDICT r7 next #6): the
# pipeline writes 8 store increments per batch, in order —
#   quality/docs, quality/rejected, decontam/docs, decontam/contaminated,
#   exact/docs, exact/fp_index, near/docs, near/band_index
# — and a crash immediately AFTER any of them (plus kill-point 0 =
# before any write) must leave a state the checkpoint replay completes
# to exactly the no-crash result.
_KILL_POINTS = list(range(0, 9))


@pytest.mark.parametrize("kill_after", _KILL_POINTS)
def test_corpus_pipeline_crash_matrix(spark, tmp_path, monkeypatch, kill_after):
    """Inject a hard failure after the ``kill_after``-th completed store
    write of batch 0 (the write itself lands — the crash window is
    between writes), let the failed query die, then restart on the SAME
    checkpoint and assert every stage's drained stores equal the
    deterministic no-crash outcome."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_challenge_spark import batchstore
    from data_pipeline_challenge_spark.streaming import (
        decontam_stream,
        dedup_stream,
        filter_gate_stream,
        near_dedup_stream,
    )
    from data_pipeline_challenge_spark.streaming.corpus_pipeline_stream import (
        current_corpus,
        start_corpus_pipeline_stream,
    )

    SCHEMA = "doc_id long, text string"
    eval_df = spark.createDataFrame(
        [(900, "the benchmark asks which river is the longest river on earth")],
        "doc_id long, text string",
    )
    good_a = "spark shuffles hash partitioned data between executor stages"
    good_b = "broadcast joins avoid shuffling the large fact side of queries"
    rows = [
        (1, "my answer said the benchmark asks which river is longest"),  # leaks
        (2, good_a),
        (3, good_a),                 # exact dup of 2
        (4, "too short"),            # quality reject
        (5, good_b),
        (6, good_b + " indeed"),     # near dup of 5 (jaccard 8/9)
    ]
    # Deterministic no-crash outcome (validated by kill_after=0, which
    # crashes before any write and is therefore a pure replay of the
    # uninterrupted run):
    EXPECTED = {
        "corpus": [2, 5],
        "quality_rejected": [4],
        "decontam_contaminated": [1],
        "exact_novel": [2, 5, 6],
    }

    cin = tmp_path / "cin"
    cin.mkdir()
    ids, texts = zip(*rows)
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)}),
        str(cin / "a.parquet"),
    )
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    keep = F.size(F.split(F.col("text"), r"\s+")) >= 5

    def start():
        return start_corpus_pipeline_stream(
            spark, cin, out, ckpt, SCHEMA, "doc_id", "text",
            quality_expr=keep, eval_df=eval_df, min_shared=2,
            min_jaccard=0.5, n_prefix=8,
        )

    real_append = batchstore.append_batch_increment
    calls = {"n": 0}

    def crashing_append(df, store, batch_id, partition_by=None):
        if calls["n"] >= kill_after:
            raise RuntimeError(f"injected crash before write {calls['n']}")
        ok = real_append(df, store, batch_id, partition_by=partition_by)
        calls["n"] += 1
        if calls["n"] == kill_after:
            raise RuntimeError(f"injected crash after write {kill_after}")
        return ok

    for mod in (filter_gate_stream, decontam_stream, dedup_stream,
                near_dedup_stream):
        monkeypatch.setattr(mod, "append_batch_increment", crashing_append)

    q = start()
    with pytest.raises(Exception):
        q.awaitTermination(300)
        raise RuntimeError("query should have failed")  # pragma: no cover

    # The process "restarts": real writes, same checkpoint.
    for mod in (filter_gate_stream, decontam_stream, dedup_stream,
                near_dedup_stream):
        monkeypatch.setattr(mod, "append_batch_increment", real_append)
    q = start()
    q.awaitTermination(300)

    assert sorted(
        r["doc_id"] for r in current_corpus(spark, out).collect()
    ) == EXPECTED["corpus"]
    rej = filter_gate_stream.rejected_log(spark, out / "quality")
    assert sorted(r["doc_id"] for r in rej.collect()) == EXPECTED["quality_rejected"]
    cont = decontam_stream.contamination_log(spark, out / "decontam")
    assert sorted(r["doc_id"] for r in cont.collect()) == EXPECTED["decontam_contaminated"]
    novel = dedup_stream.current_novel_docs(spark, out / "exact")
    assert sorted(r["doc_id"] for r in novel.collect()) == EXPECTED["exact_novel"]


def test_funnel_restart_matrix_fresh_construction(spark, tmp_path):
    """VERDICT r8 #1: every funnel configuration (with/without
    transform/quality/decontam) must ACCEPT an identical-config restart
    whose Columns were built by a FRESH construction — str(Column)
    gensyms lambda variable names in higher-order functions, so the pin
    must compare canonical forms — and must still REFUSE an
    actually-changed threshold."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from data_pipeline_challenge_spark.batchstore import ensure_store_params
    from data_pipeline_challenge_spark.functions.textfn import scrub_pii
    from data_pipeline_challenge_spark.streaming.corpus_pipeline_stream import (
        pipeline_pin,
    )
    from data_pipeline_challenge_spark.streaming.filter_gate_stream import gopher_keep

    def configs():
        # Rebuilt on every call: each dict is a FRESH Column construction.
        return {
            "bare": ([None, None, False]),
            "quality": ([None, gopher_keep("text", min_tokens=15), False]),
            "transform": ([{"text": scrub_pii(F.col("text"))}, None, False]),
            "full": (
                [
                    {"text": scrub_pii(F.col("text"))},
                    gopher_keep("text", min_tokens=15),
                    True,
                ]
            ),
        }

    for name, (tx, q, dec) in configs().items():
        d = tmp_path / name
        ensure_store_params(d, pipeline_pin(tx, q, dec))

    # Identical config, fresh construction (new gensym counters): accepted.
    for name, (tx, q, dec) in configs().items():
        ensure_store_params(tmp_path / name, pipeline_pin(tx, q, dec))

    # One genuinely-changed threshold per configuration: refused, and the
    # refusal names the store path.
    drifted = {
        "bare": (None, gopher_keep("text"), False),  # stage added
        "quality": (None, gopher_keep("text", min_tokens=16), False),
        "transform": ({"text": F.lower(F.col("text"))}, None, False),
        "full": (
            {"text": scrub_pii(F.col("text"))},
            gopher_keep("text", min_tokens=15),
            False,  # decontam stage removed
        ),
    }
    for name, (tx, q, dec) in drifted.items():
        with _pytest.raises(RuntimeError, match="rebuild into a fresh") as ei:
            ensure_store_params(tmp_path / name, pipeline_pin(tx, q, dec))
        assert name in str(ei.value)


def test_pinned_store_restart_matrix(spark, tmp_path):
    """VERDICT r8 #6: every ensure_store_params site — exact-dedup gate,
    near-dedup gate, decontam pin, funnel root (previous test) — accepts
    an identical-config restart from a fresh construction and refuses a
    single drifted parameter, naming the store path. (The embedding ANN
    index is exempt by design: fold_batch reads dim/n_planes/seed back
    from lsh_meta.json, so supplied params cannot drift the store.)"""
    import pytest as _pytest

    from data_pipeline_challenge_spark.streaming import (
        dedup_stream,
        decontam_stream,
        near_dedup_stream,
    )

    text = "a sufficiently long document carrying many distinct tokens here"
    b = lambda i: spark.createDataFrame(  # noqa: E731
        [(i, f"{text} variant {i}")], "doc_id long, text string"
    )

    # exact-dedup gate: n_prefix pinned at first fold.
    d = tmp_path / "exact"
    assert dedup_stream.fold_batch(spark, d, b(1), 0, "doc_id", "text",
                                   n_prefix=4) is not None
    assert dedup_stream.fold_batch(spark, d, b(2), 1, "doc_id", "text",
                                   n_prefix=4) is not None
    with _pytest.raises(RuntimeError, match="rebuild into a fresh") as ei:
        dedup_stream.fold_batch(spark, d, b(3), 2, "doc_id", "text", n_prefix=8)
    assert "exact" in str(ei.value)

    # near-dedup gate: signature/banding/bucket params pinned together.
    d = tmp_path / "near"
    kw = dict(num_hashes=16, bands=4, min_jaccard=0.5, n_prefix=4, bucket_cap=8)
    assert near_dedup_stream.fold_batch(
        spark, d, b(1), 0, "doc_id", "text", **kw) is not None
    assert near_dedup_stream.fold_batch(
        spark, d, b(2), 1, "doc_id", "text", **kw) is not None
    # (min_jaccard / bucket_cap are POLICY — tunable per restart by
    # design; only the layout params n/num_hashes/bands/n_prefix pin.)
    for drift in ({"num_hashes": 32}, {"bands": 8}, {"n": 4}, {"n_prefix": 8}):
        with _pytest.raises(RuntimeError, match="rebuild into a fresh") as ei:
            near_dedup_stream.fold_batch(
                spark, d, b(3), 2, "doc_id", "text", **{**kw, **drift})
        assert "near" in str(ei.value)

    # decontam pin: verdict params + eval content fingerprint.
    d = tmp_path / "decon"
    mk_eval = lambda t: spark.createDataFrame(  # noqa: E731
        [(900, t)], "doc_id long, text string"
    )
    decontam_stream.pin_decontam_params(
        d, mk_eval("benchmark question"), "doc_id", "text", 3, 2)
    # Fresh eval_df construction, identical content: accepted.
    decontam_stream.pin_decontam_params(
        d, mk_eval("benchmark question"), "doc_id", "text", 3, 2)
    for args in ((mk_eval("benchmark question"), 4, 2),
                 (mk_eval("benchmark question"), 3, 1),
                 (mk_eval("a different question"), 3, 2)):
        ev, n, ms = args
        with _pytest.raises(RuntimeError, match="rebuild into a fresh") as ei:
            decontam_stream.pin_decontam_params(d, ev, "doc_id", "text", n, ms)
        assert "decon" in str(ei.value)


def test_canonical_column_str_construction_stable(spark):
    """Property check behind the funnel-pin fix: for many random
    configurations, two FRESH constructions of the same predicate
    canonicalize identically (despite gensym'd lambda variables), any
    single-threshold drift canonicalizes differently, and deeply nested
    multi-lambda higher-order expressions stay construction-stable."""
    import random

    import pyspark.sql.functions as F

    from data_pipeline_challenge_spark.batchstore import canonical_column_str
    from data_pipeline_challenge_spark.streaming.filter_gate_stream import gopher_keep

    rng = random.Random(7)
    for _ in range(15):
        kw = dict(
            min_tokens=rng.randint(1, 100),
            max_tokens=rng.randint(1000, 99999),
            min_mean_len=round(rng.uniform(1.0, 5.0), 2),
            max_mean_len=round(rng.uniform(6.0, 12.0), 2),
            max_top_fraction=round(rng.uniform(0.05, 0.5), 3),
        )
        a = canonical_column_str(gopher_keep("text", **kw))
        assert canonical_column_str(gopher_keep("text", **kw)) == a
        drifted = dict(kw, min_tokens=kw["min_tokens"] + 1)
        assert canonical_column_str(gopher_keep("text", **drifted)) != a

    def nested():
        toks = F.split(F.col("text"), " ")
        lens = F.transform(toks, lambda x: F.length(x))
        big = F.filter(lens, lambda v: v > 3)
        total = F.aggregate(big, F.lit(0), lambda acc, v: acc + v)
        return total > 10

    assert canonical_column_str(nested()) == canonical_column_str(nested())


def test_canonical_column_str_free_columns_not_renamed(spark, tmp_path):
    """Bound-variable scoping (r9 verdict wrong #1): only tokens
    INTRODUCED by a lambda declaration are alpha-renamed. A data column
    literally named ``x_1`` (ML schemas with generated feature names)
    is a FREE reference — two funnel configs referencing ``x_1`` vs
    ``x_2`` are genuinely different predicates and MUST pin different,
    so ensure_store_params refuses the drift instead of silently
    accepting a changed gate semantics mid-store."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from data_pipeline_challenge_spark.batchstore import (
        canonical_column_str,
        ensure_store_params,
    )
    from data_pipeline_challenge_spark.streaming.corpus_pipeline_stream import (
        pipeline_pin,
    )

    # Plain free references: different columns stay different.
    assert canonical_column_str(F.col("x_1") > 0) != canonical_column_str(
        F.col("x_2") > 0
    )
    # A free reference INSIDE a lambda body is still free (only the
    # bound variable is renamed), and fresh constructions still agree.
    def mk(colname):
        return F.aggregate(
            F.filter(F.split(F.col("text"), " "), lambda t: F.length(t) > 0),
            F.lit(0),
            lambda acc, t: acc + F.length(t),
        ) > F.col(colname)

    assert canonical_column_str(mk("x_1")) == canonical_column_str(mk("x_1"))
    assert canonical_column_str(mk("x_1")) != canonical_column_str(mk("x_2"))

    # End-to-end on the funnel pin: a restart whose quality predicate
    # swapped x_1 → x_2 is refused as drift.
    d = tmp_path / "funnel"
    ensure_store_params(d, pipeline_pin(None, mk("x_1"), False))
    ensure_store_params(d, pipeline_pin(None, mk("x_1"), False))  # same: accepted
    with _pytest.raises(RuntimeError, match="rebuild into a fresh"):
        ensure_store_params(d, pipeline_pin(None, mk("x_2"), False))


def test_decontam_eval_generation_upgrade(spark, tmp_path):
    """Eval sets grow after ingestion (a new benchmark lands):
    add_eval_generation retro-revokes kept docs against the DELTA,
    upgrades the pin to the union fingerprint so the next restart with
    the full eval set is ACCEPTED (and the old set refused), is
    idempotent under at-least-once re-application, heals a crash
    between ledger commit and pin rewrite, and future batches screen
    against the union."""
    import json as _json
    import time

    import pytest as _pytest

    from data_pipeline_challenge_spark.streaming.decontam_stream import (
        add_eval_generation,
        contamination_log,
        current_clean_docs,
        revocation_log,
        start_decontam_stream,
    )

    corpus_dir = tmp_path / "corpus_in"
    corpus_dir.mkdir()
    out = tmp_path / "gate"
    SCHEMA = "doc_id long, text string"
    land = _near_corpus_land(corpus_dir, [1_700_000_000])

    eval_a = spark.createDataFrame(
        [(900, "the held out benchmark asks about the tallest mountain")],
        SCHEMA,
    )
    eval_b = spark.createDataFrame(
        [(901, "a newer benchmark question mentions deep river canyons")],
        SCHEMA,
    )
    land("a.parquet", [
        (1, "spark shuffles hash partitioned data between stages"),
        (2, "the held out benchmark asks about something else entirely"),
        (3, "several question mentions deep river canyons in passing"),
    ])
    q = start_decontam_stream(
        spark, corpus_dir, eval_a, out, tmp_path / "ck1", SCHEMA,
        "doc_id", "text", n=3, min_shared=2,
    )
    q.awaitTermination(180)
    # vs eval A: doc 2 diverted (shares A trigrams); 1 and 3 kept.
    assert sorted(r["doc_id"] for r in current_clean_docs(spark, out).collect()) == [1, 3]

    # Upgrade with delta B: doc 3 (kept, shares B trigrams) is revoked.
    rev = add_eval_generation(spark, out, eval_b, "doc_id", "text")
    assert [r["doc_id"] for r in rev.collect()] == [3]
    assert sorted(r["doc_id"] for r in current_clean_docs(spark, out).collect()) == [1]
    log = revocation_log(spark, out)
    assert [(r["doc_id"], r["eval_generation"]) for r in log.collect()] == [(3, 0)]
    # The stream-diverted log is untouched by the retro pass.
    assert [r["doc_id"] for r in contamination_log(spark, out).collect()] == [2]

    # Idempotent re-application: no-op, no second revocation generation.
    assert add_eval_generation(spark, out, eval_b, "doc_id", "text") is None
    assert [(r["doc_id"], r["eval_generation"]) for r in
            revocation_log(spark, out).collect()] == [(3, 0)]

    # Crash heal: pin reverted (ledger committed, pin rewrite "lost") —
    # re-applying the same delta heals the pin without re-screening.
    marker = out / "_gate_params.json"
    healthy = marker.read_text()
    stale = _json.loads(healthy)
    stale["eval_fingerprint"] = "1:42"
    marker.write_text(_json.dumps(stale, sort_keys=True))
    assert add_eval_generation(spark, out, eval_b, "doc_id", "text") is None
    assert marker.read_text() == healthy

    # Restart with the UNION is accepted and screens future batches
    # against it; restart with only the old eval set is refused.
    with _pytest.raises(RuntimeError, match="rebuild into a fresh out_dir"):
        start_decontam_stream(
            spark, corpus_dir, eval_a, out, tmp_path / "ck2", SCHEMA,
            "doc_id", "text", n=3, min_shared=2,
        )
    time.sleep(0.05)
    land("b.parquet", [
        (4, "an unrelated document about compiler design tradeoffs"),
        (5, "this newer benchmark question mentions deep river canyons too"),
    ])
    q = start_decontam_stream(
        spark, corpus_dir, eval_a.unionByName(eval_b), out, tmp_path / "ck1",
        SCHEMA, "doc_id", "text", n=3, min_shared=2,
    )
    q.awaitTermination(180)
    assert sorted(r["doc_id"] for r in current_clean_docs(spark, out).collect()) == [1, 4]
    assert sorted(r["doc_id"] for r in contamination_log(spark, out).collect()) == [2, 5]


def test_eval_generation_edge_hardening(spark, tmp_path):
    """ADVICE r9 lows: (a) a doc schema containing a column literally
    named ``n_shared`` must not widen the revocation anti-join —
    revoked docs stay excluded from current_clean_docs (the key is the
    recorded id column alone, never bare shared-column intersection);
    (b) an empty delta is refused BEFORE any ledger commit, and the
    empty set's fingerprint is '0:0', never the '0:None' that would
    wedge every later composition."""
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from data_pipeline_challenge_spark.streaming.decontam_stream import (
        add_eval_generation,
        current_clean_docs,
        eval_fingerprint,
        start_decontam_stream,
    )

    SCHEMA = "doc_id long, text string"
    assert eval_fingerprint(
        spark.createDataFrame([], SCHEMA), "doc_id", "text"
    ) == "0:0"

    corpus_dir = tmp_path / "corpus_in"
    corpus_dir.mkdir()
    out = tmp_path / "gate"
    # Docs carry a metadata column NAMED LIKE the contamination
    # report's evidence column — the widened-key trap.
    DOC_SCHEMA = "doc_id long, text string, n_shared long"
    p = corpus_dir / "a.parquet"
    pq.write_table(
        pa.table({
            "doc_id": pa.array([1, 3], pa.int64()),
            "text": pa.array([
                "spark shuffles hash partitioned data between stages",
                "several question mentions deep river canyons in passing",
            ]),
            "n_shared": pa.array([777, 888], pa.int64()),
        }),
        str(p),
    )
    _os.utime(p, (1_700_000_000, 1_700_000_000))
    eval_a = spark.createDataFrame(
        [(900, "the held out benchmark asks about the tallest mountain")],
        SCHEMA,
    )
    eval_b = spark.createDataFrame(
        [(901, "a newer benchmark question mentions deep river canyons")],
        SCHEMA,
    )
    q = start_decontam_stream(
        spark, corpus_dir, eval_a, out, tmp_path / "ck1", DOC_SCHEMA,
        "doc_id", "text", n=3, min_shared=2,
    )
    q.awaitTermination(180)
    assert sorted(
        r["doc_id"] for r in current_clean_docs(spark, out).collect()
    ) == [1, 3]

    # (b) empty delta: refused, no ledger entry left behind.
    with _pytest.raises(ValueError, match="delta_df is empty"):
        add_eval_generation(
            spark, out, spark.createDataFrame([], SCHEMA), "doc_id", "text"
        )
    assert not (out / "eval_generations.json").exists()

    # (a) a real delta still works after the refusal, and the revoked
    # doc is excluded even though docs.n_shared (777/888) never equals
    # the report's overlap count — a widened join key would "exclude"
    # nothing.
    rev = add_eval_generation(spark, out, eval_b, "doc_id", "text")
    assert [r["doc_id"] for r in rev.collect()] == [3]
    assert (out / "revoked" / "_anti_join_key.json").exists()
    assert [
        r["doc_id"] for r in current_clean_docs(spark, out).collect()
    ] == [1]


def test_decontam_evidence_replaces_doc_column_of_same_name(spark, tmp_path):
    """A contaminated doc whose schema has its own ``n_shared`` column is
    diverted with the overlap evidence in that column: joining the
    evidence onto the doc must not leave two ``n_shared`` columns, which
    fail the ``contaminated`` store's write."""
    from data_pipeline_challenge_spark.streaming.decontam_stream import (
        contamination_log,
        eval_shingles,
        fold_batch,
    )

    text = "the held out benchmark asks about the tallest mountain"
    ev = eval_shingles(
        spark.createDataFrame([(900, text)], "doc_id long, text string"),
        "doc_id", "text",
    )
    batch = spark.createDataFrame(
        [(1, text, 777), (2, "spark shuffles hash partitioned data", 888)],
        "doc_id long, text string, n_shared long",
    )
    out = tmp_path / "gate"
    kept = fold_batch(
        spark, out, batch, 0, ev=ev, id_col="doc_id", text_col="text", min_shared=2
    )
    assert [(r["doc_id"], r["n_shared"]) for r in kept.collect()] == [(2, 888)]
    assert [
        (r["doc_id"], r["n_shared"], r["n_eval_docs"])
        for r in contamination_log(spark, out).collect()
    ] == [(1, 7, 1)]


def test_funnel_eval_generation_revokes_corpus(spark, tmp_path):
    """Funnel-level eval growth: revoke_corpus_eval_generation screens
    the FINAL corpus against the delta (current_corpus excludes the
    revoked doc immediately), upgrades the decontam stage pin so a
    restart with the UNION eval set is accepted and screens new
    arrivals against it, and is idempotent."""
    import time

    import pytest as _pytest

    from data_pipeline_challenge_spark.streaming.corpus_pipeline_stream import (
        current_corpus,
        revoke_corpus_eval_generation,
        start_corpus_pipeline_stream,
    )
    from data_pipeline_challenge_spark.streaming.decontam_stream import (
        contamination_log,
        current_clean_docs,
    )

    corpus_dir = tmp_path / "corpus_in"
    corpus_dir.mkdir()
    out = tmp_path / "pipe"
    ckpt = tmp_path / "ckpt"
    SCHEMA = "doc_id long, text string"
    land = _near_corpus_land(corpus_dir, [1_700_000_000])

    eval_a = spark.createDataFrame(
        [(900, "the held out benchmark asks about the tallest mountain")], SCHEMA
    )
    eval_b = spark.createDataFrame(
        [(901, "a newer benchmark question mentions deep river canyons")], SCHEMA
    )
    land("a.parquet", [
        (1, "spark shuffles hash partitioned data between separate stages"),
        (2, "the held out benchmark asks about something else entirely"),
        (3, "several question mentions deep river canyons in passing today"),
    ])

    def start(ev):
        return start_corpus_pipeline_stream(
            spark, corpus_dir, out, ckpt, SCHEMA, "doc_id", "text",
            eval_df=ev, min_jaccard=0.5, n_prefix=8,
        )

    q = start(eval_a)
    q.awaitTermination(300)
    assert sorted(r["doc_id"] for r in current_corpus(spark, out).collect()) == [1, 3]

    rev = revoke_corpus_eval_generation(spark, out, eval_b, "doc_id", "text")
    assert [r["doc_id"] for r in rev.collect()] == [3]
    assert sorted(r["doc_id"] for r in current_corpus(spark, out).collect()) == [1]
    # The decontam STAGE view is upgraded too.
    assert sorted(
        r["doc_id"] for r in current_clean_docs(spark, out / "decontam").collect()
    ) == [1]
    # Idempotent.
    assert revoke_corpus_eval_generation(spark, out, eval_b, "doc_id", "text") is None

    # Restart: old eval refused, union accepted + screens new arrivals.
    with _pytest.raises(RuntimeError, match="rebuild into a fresh out_dir"):
        start(eval_a)
    time.sleep(0.05)
    land("b.parquet", [
        (4, "an unrelated document about compiler design tradeoffs here"),
        (5, "this newer benchmark question mentions deep river canyons too"),
    ])
    q = start(eval_a.unionByName(eval_b))
    q.awaitTermination(300)
    assert sorted(r["doc_id"] for r in current_corpus(spark, out).collect()) == [1, 4]
    assert sorted(
        r["doc_id"] for r in contamination_log(spark, out / "decontam").collect()
    ) == [2, 5]


def test_packed_revocation_crash_heals(spark, tmp_path, monkeypatch):
    """The fold's docstring claims at-least-once crash safety: a crash
    after the revoked-keys append (before the repack) and a crash after
    the repack (before the ledger commit) must both heal on
    re-application, ending in the identical final state with ONE ledger
    entry."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from data_pipeline_challenge_spark.operators.packing import (
        pack_sequences_sharded,
    )
    from data_pipeline_challenge_spark.streaming import packing_stream
    from data_pipeline_challenge_spark.streaming.packing_stream import (
        current_packed,
        revoke_packed_docs,
        start_packing_stream,
    )

    SCHEMA = "source string, doc_id long, n_tokens long"
    ids = list(range(1, 13))

    def build(root):
        corpus = root / "corpus"
        corpus.mkdir(parents=True)
        pq.write_table(
            pa.table({
                "source": pa.array(["web"] * len(ids)),
                "doc_id": pa.array(ids, pa.int64()),
                "n_tokens": pa.array([40] * len(ids), pa.int64()),
            }),
            str(corpus / "a.parquet"),
        )
        q = start_packing_stream(
            spark, corpus, root / "packed", root / "ckpt", SCHEMA,
            "source", "doc_id", "n_tokens", capacity=100, n_shards=4,
        )
        q.awaitTermination(180)
        return root / "packed"

    def fold(out):
        return revoke_packed_docs(
            spark, out,
            spark.createDataFrame([(3,), (7,)], "doc_id long"),
            "source", "doc_id", "n_tokens", capacity=100, n_shards=4,
        )

    def norm(df):
        return {
            tuple(r)
            for r in df.select("source", "shard", "doc_id", "n_tokens", "bin").collect()
        }

    expected = norm(
        pack_sequences_sharded(
            spark.createDataFrame(
                [("web", i, 40) for i in ids if i not in (3, 7)], SCHEMA
            ),
            "source", "doc_id", "n_tokens", capacity=100, n_shards=4,
        )
    )

    # Crash point 1: after the keys append, before the repack.
    out = build(tmp_path / "w1")
    real_pack = packing_stream.pack_sequences_sharded
    monkeypatch.setattr(
        packing_stream, "pack_sequences_sharded",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("crash-1")),
    )
    with _pytest.raises(RuntimeError, match="crash-1"):
        fold(out)
    monkeypatch.setattr(packing_stream, "pack_sequences_sharded", real_pack)
    assert fold(out) > 0  # heals: repacks and commits
    assert norm(current_packed(spark, out)) == expected
    assert len(packing_stream._revocations_ledger(out)) == 1
    assert fold(out) == 0  # committed: no-op

    # Crash point 2: after the repack+publish, before the ledger commit.
    out = build(tmp_path / "w2")
    real_commit = packing_stream._commit_revocation
    monkeypatch.setattr(
        packing_stream, "_commit_revocation",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("crash-2")),
    )
    with _pytest.raises(RuntimeError, match="crash-2"):
        fold(out)
    assert norm(current_packed(spark, out)) == expected  # already published
    monkeypatch.setattr(packing_stream, "_commit_revocation", real_commit)
    assert fold(out) >= 0  # heals (idempotent re-repack) and commits
    assert norm(current_packed(spark, out)) == expected
    assert len(packing_stream._revocations_ledger(out)) == 1
    assert fold(out) == 0


def test_training_export_manifest(spark, tmp_path):
    """The lineage manifest captures the data state a training run read:
    funnel pin + stage horizons + eval ledger + corpus fingerprint, and
    the packed table's published version + revocation ledger + content
    fingerprint. Deterministic (two calls identical), and every
    revocation moves the fingerprints — so 'was doc Y revoked before or
    after the run' is answerable from the manifest alone."""
    from data_pipeline_challenge_spark.lineage import training_export_manifest
    from data_pipeline_challenge_spark.streaming.corpus_pipeline_stream import (
        current_corpus,
        revoke_corpus_eval_generation,
        start_corpus_pipeline_stream,
    )
    from data_pipeline_challenge_spark.streaming.packing_stream import (
        revoke_packed_docs,
        start_packing_stream,
    )
    import pyspark.sql.functions as F

    corpus_dir = tmp_path / "corpus_in"
    corpus_dir.mkdir()
    out = tmp_path / "pipe"
    SCHEMA = "doc_id long, text string"
    land = _near_corpus_land(corpus_dir, [1_700_000_000])
    eval_a = spark.createDataFrame(
        [(900, "the held out benchmark asks about the tallest mountain")], SCHEMA
    )
    eval_b = spark.createDataFrame(
        [(901, "a newer benchmark question mentions deep river canyons")], SCHEMA
    )
    land("a.parquet", [
        (1, "spark shuffles hash partitioned data between separate stages"),
        (3, "several question mentions deep river canyons in passing today"),
        (4, "an unrelated document about compiler design tradeoffs here"),
    ])
    q = start_corpus_pipeline_stream(
        spark, corpus_dir, out, tmp_path / "ck", SCHEMA, "doc_id", "text",
        eval_df=eval_a, min_jaccard=0.5, n_prefix=8,
    )
    q.awaitTermination(300)

    pack_in = tmp_path / "pack_in"
    pack_out = tmp_path / "packed"
    current_corpus(spark, out).select(
        F.lit("web").alias("source"), "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    ).write.parquet(str(pack_in))
    q = start_packing_stream(
        spark, pack_in, pack_out, tmp_path / "ckp",
        "source string, doc_id long, n_tokens long",
        "source", "doc_id", "n_tokens", capacity=20, n_shards=4,
    )
    q.awaitTermination(180)

    m1 = training_export_manifest(spark, out, pack_out)
    assert m1 == training_export_manifest(spark, out, pack_out)  # deterministic
    assert m1["funnel"]["pin"]["kind"] == "corpus_pipeline"
    assert m1["funnel"]["corpus_fingerprint"]["rows"] == 3
    # content coverage, not just membership: identical doc_ids with
    # different text must move the fingerprint (ADVICE r10)
    assert set(m1["funnel"]["corpus_fingerprint"]["columns"]) >= {"doc_id", "text"}
    assert m1["funnel"]["eval_generations"] is None  # no growth yet
    assert m1["packed"]["published_version"] == "data.v0"
    assert m1["packed"]["revocations_applied"] == []
    assert m1["packed"]["table_fingerprint"]["rows"] == 3

    # A new eval generation revokes doc 3 from the corpus AND the fold
    # mirrors it onto the packed table: both fingerprints must move,
    # both ledgers must show the event.
    rev = revoke_corpus_eval_generation(spark, out, eval_b, "doc_id", "text")
    revoke_packed_docs(
        spark, pack_out, rev, "source", "doc_id", "n_tokens",
        capacity=20, n_shards=4,
    )
    m2 = training_export_manifest(spark, out, pack_out)
    assert m2["funnel"]["corpus_fingerprint"]["rows"] == 2
    assert (m2["funnel"]["corpus_fingerprint"]["xor64"]
            != m1["funnel"]["corpus_fingerprint"]["xor64"])
    assert len(m2["funnel"]["eval_generations"]["applied"]) == 1
    assert m2["funnel"]["corpus_revocations"] == 1
    assert m2["packed"]["published_version"] == "data.v1"
    assert len(m2["packed"]["revocations_applied"]) == 1
    assert m2["packed"]["revoked_keys"] == 1
    assert m2["packed"]["table_fingerprint"]["rows"] == 2
    assert (m2["packed"]["table_fingerprint"]["xor64"]
            != m1["packed"]["table_fingerprint"]["xor64"])


def test_packing_params_pinned(spark, tmp_path):
    """The packing warehouse pins its layout/verdict parameters
    (n_shards is baked into every stored partition; capacity and the
    column triple define the bins): a restart OR a revocation fold
    under different parameters is refused loudly instead of silently
    diverging the maintained table from the batch packer."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from data_pipeline_challenge_spark.streaming.packing_stream import (
        revoke_packed_docs,
        start_packing_stream,
    )

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    pq.write_table(
        pa.table({
            "source": pa.array(["web"] * 6),
            "doc_id": pa.array(range(1, 7), pa.int64()),
            "n_tokens": pa.array([40] * 6, pa.int64()),
        }),
        str(corpus / "a.parquet"),
    )
    SCHEMA = "source string, doc_id long, n_tokens long"
    out = tmp_path / "packed"

    def run(ck, **kw):
        args = dict(capacity=100, n_shards=4)
        args.update(kw)
        q = start_packing_stream(
            spark, corpus, out, tmp_path / ck, SCHEMA,
            "source", "doc_id", "n_tokens", **args,
        )
        q.awaitTermination(180)

    run("ck1")
    run("ck1")  # same params: accepted
    for drift in ({"n_shards": 8}, {"capacity": 50}):
        with _pytest.raises(Exception, match="rebuild into a fresh"):
            run("ck2", **drift)
    with _pytest.raises(Exception, match="rebuild into a fresh"):
        revoke_packed_docs(
            spark, out, spark.createDataFrame([(1,)], "doc_id long"),
            "source", "doc_id", "n_tokens", capacity=100, n_shards=8,
        )
    # Matching fold still works.
    assert revoke_packed_docs(
        spark, out, spark.createDataFrame([(1,)], "doc_id long"),
        "source", "doc_id", "n_tokens", capacity=100, n_shards=4,
    ) >= 0


def test_heavy_stream_equals_batch(spark, tmp_path):
    """Streaming heavy hitters: the maintained MG summary + candidate
    recount over micro-batches equals the batch two-pass operator (and
    the brute-force groupBy) over the concatenated input — MG summaries
    are mergeable, so maintaining one per batch loses no true > N/k
    item across the whole stream."""
    import os as _os
    from collections import Counter

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_challenge_spark.streaming.heavy_stream import (
        heavy_hitters_report,
    )

    corpus = tmp_path / "in"
    corpus.mkdir()
    import random

    rng = random.Random(31)
    all_items: list[str] = []
    mtime = 1_700_000_000
    # hot items split ACROSS batches: per-batch they are modest, globally
    # they are heavy — the cross-batch merge is what's under test
    for b in range(4):
        items = [f"hot{i}" for i in range(3) for _ in range(400 + 50 * b)]
        items += [f"cold{rng.randint(0, 300)}" for _ in range(1500)]
        rng.shuffle(items)
        all_items += items
        p = corpus / f"b{b}.parquet"
        pq.write_table(pa.table({"term": pa.array(items)}), str(p))
        mtime += 10
        _os.utime(p, (mtime, mtime))

    out = tmp_path / "out"
    q = start_view(
        spark, heavy_stream.VIEW, corpus, out, tmp_path / "ck", "term string",
        item_col="term", k=10, max_files_per_trigger=1,
    )
    q.awaitTermination(240)

    n = len(all_items)
    truth = {t: c for t, c in Counter(all_items).items() if c * 10 > n}
    assert truth  # the fixture must actually produce heavy hitters
    got = {
        r["item"]: r["n"]
        for r in heavy_hitters_report(spark, out).collect()
    }
    assert got == truth

    # replaying an already-folded batch is a no-op (idempotent fold)
    from data_pipeline_challenge_spark.streaming.heavy_stream import fold_batch

    replay = spark.createDataFrame([("hot0",)] * 999, "term string")
    fold_batch(spark, out, replay, 1, "term", 10)  # batch 1 already folded
    got2 = {
        r["item"]: r["n"]
        for r in heavy_hitters_report(spark, out).collect()
    }
    assert got2 == truth

    # offline compaction folds the counts dirs without changing the answer
    folded = compact_view(spark, heavy_stream.VIEW, out)
    assert folded["counts"] >= 2
    got3 = {
        r["item"]: r["n"]
        for r in heavy_hitters_report(spark, out).collect()
    }
    assert got3 == truth


def test_heavy_stream_crash_between_counts_and_summary(spark, tmp_path):
    """Crash-replay: a batch whose counts increment landed but whose
    summary write didn't must refold to the identical state (the
    summary derives from the PREDECESSOR's file, and the counts
    overwrite is idempotent)."""
    import json as _json

    from data_pipeline_challenge_spark.streaming.heavy_stream import (
        fold_batch,
        heavy_hitters_report,
        _summary_path,
    )

    out = tmp_path / "out"
    b0 = spark.createDataFrame([("a",)] * 30 + [("b",)] * 5, "term string")
    b1 = spark.createDataFrame([("a",)] * 10 + [("c",)] * 40, "term string")
    fold_batch(spark, out, b0, 0, "term", 4)
    fold_batch(spark, out, b1, 1, "term", 4)
    want = {r["item"]: r["n"] for r in heavy_hitters_report(spark, out).collect()}
    s1 = _json.loads(_summary_path(out, 1).read_text())

    # simulate the crash: summary of batch 1 vanished, counts survived
    _summary_path(out, 1).unlink()
    # MID-crash, before the replay, the counts store is one batch AHEAD
    # of the summary: an offline report must still be a consistent
    # snapshot of the last committed batch (batch 0: N=35, k=4 keeps
    # only 'a'), never batch-1 counts against batch-0's threshold
    # (ADVICE r11 snapshot-consistency fix).
    mid = {r["item"]: r["n"] for r in heavy_hitters_report(spark, out).collect()}
    assert mid == {"a": 30}
    fold_batch(spark, out, b1, 1, "term", 4)  # the checkpoint replay
    assert _json.loads(_summary_path(out, 1).read_text()) == s1
    got = {r["item"]: r["n"] for r in heavy_hitters_report(spark, out).collect()}
    assert got == want


def test_retrieval_stream_matches_batch_bm25(spark, tmp_path):
    """Maintained retrieval index: BM25 over the incrementally-folded
    postings/doclen/totals stores equals the batch BM25 computation over
    the concatenated corpus — scores bit-equal after the shared
    round(6), ranks identical; and the probe plan never reads text."""
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from data_pipeline_challenge_spark.streaming.retrieval_stream import bm25_search

    corpus = tmp_path / "in"
    corpus.mkdir()
    vocab = ["spark", "merge", "dup", "batch", "scan", "row", "filter"]
    import random

    rng = random.Random(41)
    rows_all = []
    mtime = 1_700_000_000
    did = 0
    for b in range(3):
        rows = []
        for _ in range(120):
            text = " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 40)))
            rows.append((did, text))
            did += 1
        rows_all += rows
        ids, texts = zip(*rows)
        p = corpus / f"b{b}.parquet"
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)}),
            str(p),
        )
        mtime += 10
        _os.utime(p, (mtime, mtime))

    out = tmp_path / "idx"
    q = start_view(
        spark, retrieval_stream.VIEW, corpus, out, tmp_path / "ck",
        "doc_id long, text string", id_col="doc_id", text_col="text",
        max_files_per_trigger=1,
    )
    q.awaitTermination(240)

    terms = ["dup", "spark", "merge"]
    got = bm25_search(spark, out, terms, k=20).collect()

    # batch reference: the bm25_top20 arithmetic over the full corpus
    docs = spark.createDataFrame(rows_all, "doc_id long, text string")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    tf = (
        toks.filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    dfc = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    ad = dl.agg(F.avg(F.col("dl").cast("double")).alias("avgdl"))
    idf = F.log(
        (F.col("n_docs").cast("double") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5)) + F.lit(1.0)
    )
    contrib = idf * (F.col("tf") * F.lit(2.2)) / (
        F.col("tf") + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * F.col("dl") / F.col("avgdl"))
    )
    want = (
        tf.join(F.broadcast(dfc), "term").join(dl, "doc_id")
        .crossJoin(F.broadcast(n)).crossJoin(F.broadcast(ad))
        .groupBy("doc_id").agg(F.round(F.sum(contrib), 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id").limit(20)
    ).collect()
    assert [(r["doc_id"], r["bm25"]) for r in got] == [
        (r["doc_id"], r["bm25"]) for r in want
    ]

    # compaction folds the stores without changing the answer
    folded = compact_view(spark, retrieval_stream.VIEW, out)
    assert folded["postings"] >= 2
    got2 = bm25_search(spark, out, terms, k=20).collect()
    assert [(r["doc_id"], r["bm25"]) for r in got2] == [
        (r["doc_id"], r["bm25"]) for r in want
    ]


def test_retrieval_stream_crash_replay(spark, tmp_path):
    """A batch whose data stores landed but whose totals write didn't
    must refold to identical totals (pure function of predecessor +
    batch), keeping search results unchanged."""
    import json as _json

    from data_pipeline_challenge_spark.streaming.retrieval_stream import (
        _totals_path,
        bm25_search,
        fold_batch,
    )

    out = tmp_path / "idx"
    b0 = spark.createDataFrame(
        [(0, "dup spark spark"), (1, "merge merge scan")], "doc_id long, text string"
    )
    b1 = spark.createDataFrame(
        [(2, "dup dup dup"), (3, "spark merge")], "doc_id long, text string"
    )
    fold_batch(spark, out, b0, 0, "doc_id", "text")
    fold_batch(spark, out, b1, 1, "doc_id", "text")
    want = [(r["doc_id"], r["bm25"]) for r in bm25_search(spark, out, ["dup"]).collect()]
    t1 = _json.loads(_totals_path(out, 1).read_text())

    _totals_path(out, 1).unlink()  # crash between data and totals writes
    fold_batch(spark, out, b1, 1, "doc_id", "text")  # checkpoint replay
    assert _json.loads(_totals_path(out, 1).read_text()) == t1
    got = [(r["doc_id"], r["bm25"]) for r in bm25_search(spark, out, ["dup"]).collect()]
    assert got == want


def test_funnel_maintains_retrieval_index_over_kept_corpus(spark, tmp_path):
    """Composed funnel + retrieval index: each batch's KEPT rows fold
    into the maintained BM25 index, so searching the index equals batch
    BM25 over exactly current_corpus (diverted/dup docs absent); and
    enabling the index late on a warehouse with folded batches is
    refused with a backfill pointer, after which the stream accepts it."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from data_pipeline_challenge_spark.streaming.corpus_pipeline_stream import (
        current_corpus,
        start_corpus_pipeline_stream,
    )
    from data_pipeline_challenge_spark.streaming.retrieval_stream import (
        backfill_retrieval_index,
        bm25_search,
    )

    corpus_dir = tmp_path / "in"
    corpus_dir.mkdir()
    land = _near_corpus_land(corpus_dir, [1_700_000_000])
    land("a.parquet", [
        (1, "spark merge dup spark data pipeline quality tokens here now"),
        (2, "spark merge dup spark data pipeline quality tokens here now"),  # exact dup
        (3, "an unrelated compiler document with many design tradeoffs inside"),
    ])
    land("b.parquet", [
        (4, "dup dup merge spark shuffle partitions between separate stages"),
        (5, "tiny"),  # fails the quality gate
    ])

    out = tmp_path / "pipe"
    idx = tmp_path / "idx"
    keep = F.size(F.split(F.col("text"), r"\s+")) >= 5
    q = start_corpus_pipeline_stream(
        spark, corpus_dir, out, tmp_path / "ck", "doc_id long, text string",
        "doc_id", "text", quality_expr=keep, n_prefix=8,
        max_files_per_trigger=1, retrieval_index_dir=idx,
    )
    q.awaitTermination(300)

    kept_docs = current_corpus(spark, out).select("doc_id", "text")
    kept_ids = {r["doc_id"] for r in kept_docs.collect()}
    assert kept_ids == {1, 3, 4}  # dup 2 and tiny 5 screened out

    terms = ["dup", "spark", "merge"]
    got = [(r["doc_id"], r["bm25"]) for r in bm25_search(spark, idx, terms).collect()]
    assert {d for d, _ in got} <= kept_ids and len(got) >= 2

    # batch reference over the kept corpus (bm25_top20 arithmetic)
    toks = kept_docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    tf = (toks.filter(F.col("term").isin(terms))
          .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")))
    dfc = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = kept_docs.agg(F.count(F.lit(1)).alias("n_docs"))
    ad = dl.agg(F.avg(F.col("dl").cast("double")).alias("avgdl"))
    idf = F.log((F.col("n_docs").cast("double") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)) + F.lit(1.0))
    contrib = idf * (F.col("tf") * F.lit(2.2)) / (
        F.col("tf") + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * F.col("dl") / F.col("avgdl"))
    )
    want = [
        (r["doc_id"], r["bm25"])
        for r in tf.join(F.broadcast(dfc), "term").join(dl, "doc_id")
        .crossJoin(F.broadcast(n)).crossJoin(F.broadcast(ad))
        .groupBy("doc_id").agg(F.round(F.sum(contrib), 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id").limit(20).collect()
    ]
    assert got == want

    # Late enablement on a pre-existing warehouse: refused, then OK
    # after an explicit backfill into a fresh index dir.
    with _pytest.raises(RuntimeError, match="backfill"):
        start_corpus_pipeline_stream(
            spark, corpus_dir, out, tmp_path / "ck", "doc_id long, text string",
            "doc_id", "text", quality_expr=keep, n_prefix=8,
            retrieval_index_dir=tmp_path / "idx_late",
        )
    backfill_retrieval_index(spark, out, tmp_path / "idx_late", "doc_id", "text")
    got_bf = [
        (r["doc_id"], r["bm25"])
        for r in bm25_search(spark, tmp_path / "idx_late", terms).collect()
    ]
    assert got_bf == want
    q = start_corpus_pipeline_stream(  # accepted now (no new batches)
        spark, corpus_dir, out, tmp_path / "ck", "doc_id long, text string",
        "doc_id", "text", quality_expr=keep, n_prefix=8,
        retrieval_index_dir=tmp_path / "idx_late",
    )
    q.awaitTermination(120)


def _batch_bm25_want(kept_docs, terms, k=20):
    """Batch BM25 reference (the bm25_top20 arithmetic) over a kept
    corpus — the truth the maintained index must equal at every point
    of its life, including after revocations."""
    import pyspark.sql.functions as F

    toks = kept_docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    tf = (toks.filter(F.col("term").isin(terms))
          .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")))
    dfc = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = kept_docs.agg(F.count(F.lit(1)).alias("n_docs"))
    ad = dl.agg(F.avg(F.col("dl").cast("double")).alias("avgdl"))
    idf = F.log((F.col("n_docs").cast("double") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)) + F.lit(1.0))
    contrib = idf * (F.col("tf") * F.lit(2.2)) / (
        F.col("tf")
        + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * F.col("dl") / F.col("avgdl"))
    )
    return [
        (r["doc_id"], r["bm25"])
        for r in tf.join(F.broadcast(dfc), "term").join(dl, "doc_id")
        .crossJoin(F.broadcast(n)).crossJoin(F.broadcast(ad))
        .groupBy("doc_id").agg(F.round(F.sum(contrib), 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id").limit(k).collect()
    ]


def test_funnel_revocation_propagates_to_retrieval_index(spark, tmp_path):
    """VERDICT r11 #1: a doc retro-revoked by an eval-generation upgrade
    must (a) vanish from bm25_search, (b) stop counting into idf/avgdl —
    post-revocation index scores equal batch BM25 over the
    post-revocation current_corpus — and the sync must be idempotent."""
    from data_pipeline_challenge_spark.streaming.corpus_pipeline_stream import (
        current_corpus,
        revoke_corpus_eval_generation,
        start_corpus_pipeline_stream,
    )
    from data_pipeline_challenge_spark.streaming.retrieval_stream import (
        bm25_search,
    )

    corpus_dir = tmp_path / "in"
    corpus_dir.mkdir()
    SCHEMA = "doc_id long, text string"
    land = _near_corpus_land(corpus_dir, [1_700_000_000])
    land("a.parquet", [
        (1, "spark shuffles hash partitioned data between separate stages"),
        (2, "several question mentions deep river canyons in passing today"),
        (3, "an unrelated document about compiler design tradeoffs here now"),
    ])
    eval_a = spark.createDataFrame(
        [(900, "the held out benchmark asks about the tallest mountain")], SCHEMA
    )
    eval_b = spark.createDataFrame(
        [(901, "a newer benchmark question mentions deep river canyons")], SCHEMA
    )

    out, idx = tmp_path / "pipe", tmp_path / "idx"
    q = start_corpus_pipeline_stream(
        spark, corpus_dir, out, tmp_path / "ck", SCHEMA, "doc_id", "text",
        eval_df=eval_a, min_jaccard=0.5, n_prefix=8, retrieval_index_dir=idx,
    )
    q.awaitTermination(300)

    terms = ["canyons", "spark", "document"]
    pre = bm25_search(spark, idx, terms).collect()
    assert 2 in {r["doc_id"] for r in pre}  # searchable before revocation

    rev = revoke_corpus_eval_generation(spark, out, eval_b, "doc_id", "text")
    assert [r["doc_id"] for r in rev.collect()] == [2]

    got = [(r["doc_id"], r["bm25"]) for r in bm25_search(spark, idx, terms).collect()]
    assert 2 not in {d for d, _ in got}  # (a) absent from search
    kept = current_corpus(spark, out).select("doc_id", "text")
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3]
    # (b) scores equal batch BM25 over the post-revocation corpus: the
    # revoked doc's contribution to N, avgdl, and df is gone too.
    assert got == _batch_bm25_want(kept, terms)

    # Idempotent: replaying the same delta changes nothing.
    revoke_corpus_eval_generation(spark, out, eval_b, "doc_id", "text")
    again = [(r["doc_id"], r["bm25"]) for r in bm25_search(spark, idx, terms).collect()]
    assert again == got

    # The operational report surfaces the recorded index: fold frontier,
    # corpus size, and the revocation that just propagated.
    from data_pipeline_challenge_spark.streaming.corpus_pipeline_stream import (
        pipeline_report,
    )

    rep = {
        (r["stage"], r["metric"]): r["value"]
        for r in pipeline_report(spark, out).collect()
    }
    assert rep[("retrieval", "totals_batch")] >= 0
    assert rep[("retrieval", "n_docs")] == 3  # folded before the revocation
    assert rep[("retrieval", "revoked")] == 1


def test_retrieval_enable_guard_refuses_behind_index(spark, tmp_path):
    """ADVICE r11 (medium): a funnel that ran some batches with the
    retrieval index DISABLED and is then re-enabled must be refused —
    those batch ids are behind the checkpoint, no replay will ever fold
    them, so the index would silently miss part of the kept corpus.
    Recovery: backfill into a FRESH dir (backfilling the stale one is
    refused as a double-count)."""
    import time

    import pytest as _pytest

    from data_pipeline_challenge_spark.streaming.corpus_pipeline_stream import (
        current_corpus,
        start_corpus_pipeline_stream,
    )
    from data_pipeline_challenge_spark.streaming.retrieval_stream import (
        backfill_retrieval_index,
        bm25_search,
    )

    corpus_dir = tmp_path / "in"
    corpus_dir.mkdir()
    SCHEMA = "doc_id long, text string"
    land = _near_corpus_land(corpus_dir, [1_700_000_000])
    out, idx = tmp_path / "pipe", tmp_path / "idx"

    def start(index_dir):
        return start_corpus_pipeline_stream(
            spark, corpus_dir, out, tmp_path / "ck", SCHEMA, "doc_id", "text",
            n_prefix=8, max_files_per_trigger=1, retrieval_index_dir=index_dir,
        )

    land("a.parquet", [
        (1, "spark shuffles hash partitioned data between separate stages"),
        (2, "an unrelated document about compiler design tradeoffs here now"),
    ])
    q = start(idx)
    q.awaitTermination(300)

    time.sleep(0.05)
    land("b.parquet", [
        (3, "several question mentions deep river canyons in passing today"),
    ])
    q = start(None)  # interim batch folds with the index disabled
    q.awaitTermination(300)

    with _pytest.raises(RuntimeError, match="behind the funnel"):
        start(idx)
    # The stale index cannot be healed in place: a whole-corpus backfill
    # on top of its existing postings would double-count batch 0's docs.
    with _pytest.raises(RuntimeError, match="double-count"):
        backfill_retrieval_index(spark, out, idx, "doc_id", "text")

    idx2 = tmp_path / "idx2"
    backfill_retrieval_index(spark, out, idx2, "doc_id", "text")
    q = start(idx2)  # accepted: index at the funnel's frontier
    q.awaitTermination(120)

    terms = ["canyons", "spark", "document"]
    got = [(r["doc_id"], r["bm25"]) for r in bm25_search(spark, idx2, terms).collect()]
    kept = current_corpus(spark, out).select("doc_id", "text")
    assert got == _batch_bm25_want(kept, terms)


def test_funnel_all_duplicate_batch_keeps_index_in_lockstep(spark, tmp_path):
    """A batch whose every row is screened out at the NEAR stage folds
    into the retrieval index as EMPTY (advancing its totals id), so a
    restart after such a trailing batch is accepted — the
    behind-the-funnel guard must not mistake an all-duplicate batch for
    a disabled-index gap."""
    import time

    from data_pipeline_challenge_spark.streaming.corpus_pipeline_stream import (
        current_corpus,
        start_corpus_pipeline_stream,
    )
    from data_pipeline_challenge_spark.streaming.retrieval_stream import (
        bm25_search,
    )

    corpus_dir = tmp_path / "in"
    corpus_dir.mkdir()
    SCHEMA = "doc_id long, text string"
    land = _near_corpus_land(corpus_dir, [1_700_000_000])
    out, idx = tmp_path / "pipe", tmp_path / "idx"

    def start():
        return start_corpus_pipeline_stream(
            spark, corpus_dir, out, tmp_path / "ck", SCHEMA, "doc_id", "text",
            min_jaccard=0.5, n_prefix=8, max_files_per_trigger=1,
            retrieval_index_dir=idx,
        )

    land("a.parquet", [
        (1, "spark shuffles hash partitioned data between separate stages"),
        (2, "an unrelated document about compiler design tradeoffs here now"),
    ])
    q = start()
    q.awaitTermination(300)

    time.sleep(0.05)
    # near-duplicate of doc 1 (one appended word, J = 7/8): the whole
    # batch is diverted at the near stage — kept set empty
    land("b.parquet", [
        (3, "spark shuffles hash partitioned data between separate stages again"),
    ])
    q = start()
    q.awaitTermination(300)
    assert sorted(r["doc_id"] for r in current_corpus(spark, out).collect()) == [1, 2]

    # restart accepted: index totals advanced through the all-dup batch
    q = start()
    q.awaitTermination(120)

    terms = ["spark", "document"]
    got = [(r["doc_id"], r["bm25"]) for r in bm25_search(spark, idx, terms).collect()]
    kept = current_corpus(spark, out).select("doc_id", "text")
    assert got == _batch_bm25_want(kept, terms)


def test_bm25_search_postings_scan_is_partition_pruned(spark, tmp_path):
    """The maintained index's serving plan: the postings scan must carry
    the query terms' bucket literals as a planning-time PartitionFilter
    (only those buckets' files are listed — at 100 TB the probe cost is
    the query's buckets, not the postings table), and the doc-text is
    never read (the index stores only postings/doclen)."""
    from data_pipeline_challenge_spark.streaming.retrieval_stream import (
        _N_BUCKETS,
        bm25_search,
        fold_batch,
    )
    from data_pipeline_challenge_spark.batchstore import prefix_bucket

    docs = spark.createDataFrame(
        [(i, f"term{i % 7} filler word number {i}") for i in range(50)],
        "doc_id long, text string",
    )
    idx = tmp_path / "idx"
    fold_batch(spark, idx, docs, 0, "doc_id", "text")

    terms = ["term1", "term3"]
    out = bm25_search(spark, idx, terms, k=5)
    plan = spark._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    segs = [s.split("\n")[0] for s in plan.split("PartitionFilters")[1:]]
    postings_segs = [s for s in segs if "term_bucket" in s]
    assert postings_segs  # the bucket literals reached the scan
    want_buckets = {
        r["b"]
        for r in spark.createDataFrame([(t,) for t in terms], "term string")
        .select(prefix_bucket(F.col("term"), _N_BUCKETS).alias("b"))
        .collect()
    }
    assert any(str(b) in seg for b in want_buckets for seg in postings_segs)
    assert "text" not in plan.split("ReadSchema")[1].split("\n")[0]
    # dl rides on the postings: the serving plan must not join (or even
    # scan) the corpus-sized doclen store.
    assert "doclen" not in plan


def test_bm25_search_batch_equals_per_query_search(spark, tmp_path):
    """The maintained index's multi-query serving path: one pruned
    postings pass for the union of all queries' terms must return, per
    query, exactly the per-query bm25_search answer — including after a
    revocation (df/N/avgdl corrections shared)."""
    from data_pipeline_challenge_spark.streaming.retrieval_stream import (
        bm25_search,
        bm25_search_batch,
        fold_batch,
        revoke_docs,
    )

    docs = spark.createDataFrame(
        [
            (i, " ".join(
                ["spark", "merge", "dup", "scan", "row"][j % 5]
                for j in range(i % 7 + 2)
            ) + (" canyons" if i % 4 == 0 else ""))
            for i in range(40)
        ],
        "doc_id long, text string",
    )
    idx = tmp_path / "idx"
    fold_batch(spark, idx, docs, 0, "doc_id", "text")
    queries = {"q0": ["spark", "dup"], "q1": ["canyons"], "q2": ["merge", "row"]}

    def norm(df, qid=None):
        rows = df.collect()
        out = {}
        for r in rows:
            key = r["qid"] if qid is None else qid
            out.setdefault(key, []).append((r["doc_id"], r["bm25"]))
        for v in out.values():
            v.sort(key=lambda t: (-t[1], t[0]))
        return out

    got = norm(bm25_search_batch(spark, idx, queries, k=5))
    want = {}
    for q, terms in queries.items():
        want.update(norm(bm25_search(spark, idx, terms, k=5), qid=q))
    assert got == want

    # revocation honored identically on both paths
    revoke_docs(spark, idx, spark.createDataFrame([(0,), (5,)], "doc_id long"))
    got2 = norm(bm25_search_batch(spark, idx, queries, k=5))
    want2 = {}
    for q, terms in queries.items():
        want2.update(norm(bm25_search(spark, idx, terms, k=5), qid=q))
    assert got2 == want2
    assert all(d not in (0, 5) for v in got2.values() for d, _ in v)
    assert got2 != got  # N/avgdl corrections actually moved scores


def _py_bm25(texts: dict, terms: list, k: int) -> list:
    """Okapi BM25 (k1=1.2, b=0.75, Robertson +1 idf) in plain Python over
    space-split tokens: top ``k`` (doc_id, score) by (score desc, id),
    scores rounded to 6 places, matching docs only."""
    import math

    toks = {d: [w for w in t.split(" ") if w] for d, t in texts.items()}
    lens = [len(v) for v in toks.values() if v]
    n, avgdl = len(toks), sum(lens) / len(lens)
    df = {t: sum(t in v for v in toks.values()) for t in set(terms)}
    scores = {}
    for d, v in toks.items():
        s = [
            math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            * (v.count(t) * 2.2)
            / (v.count(t) + 1.2 * (0.25 + 0.75 * len(v) / avgdl))
            for t in sorted(set(terms))
            if t in v
        ]
        if s:
            scores[d] = round(sum(s), 6)
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def test_bm25_pruned_read_over_every_store_state(spark, tmp_path):
    """The BM25 probe lists only the live batches' query-bucket leaves,
    so the driver-side choice of dirs must follow the store's marker and
    commit rules exactly. One index holds all four dir states at once:
    the consolidated ``ingest_batch=-1`` dir with its marker, the stale
    pre-consolidation dirs the fold keeps for a generation, a later live
    batch, and a batch past the newest totals id (data written, totals
    not: a crash remnant). The answer equals plain-Python BM25 over the
    committed docs. Terms whose buckets have no leaf dir get the empty
    answer."""
    import random

    from data_pipeline_challenge_spark.batchstore import prefix_bucket_local
    from data_pipeline_challenge_spark.streaming.retrieval_stream import (
        _N_BUCKETS,
        _latest_totals,
        _totals_path,
        bm25_search,
        bm25_search_batch,
        fold_batch,
    )

    rng = random.Random(11)
    vocab = ["spark", "merge", "dup", "scan", "row", "filter", "batch"]
    batches = [
        [(b * 30 + i, " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 12))))
         for i in range(30)]
        for b in range(4)
    ]
    idx = tmp_path / "idx"

    def fold(b):
        df = spark.createDataFrame(batches[b], "doc_id long, text string")
        fold_batch(spark, idx, df, b, "doc_id", "text")

    fold(0)
    fold(1)
    compact_view(spark, retrieval_stream.VIEW, idx)  # consolidated -1, through 1
    fold(2)  # live past the marker
    fold(3)
    _totals_path(idx, 3).unlink()  # crash between data and totals writes
    postings = idx / "postings"
    assert json.loads((postings / "_consolidated.json").read_text())["through"] == 1
    assert {p.name for p in postings.glob("ingest_batch=*")} == {
        f"ingest_batch={b}" for b in (-1, 0, 1, 2, 3)
    }
    assert _latest_totals(idx)[1] == 2

    committed = {d: t for b in batches[:3] for d, t in b}
    for terms in (["spark", "dup"], ["merge"], vocab):
        got = [(r["doc_id"], r["bm25"]) for r in bm25_search(spark, idx, terms, k=200).collect()]
        want = _py_bm25(committed, terms, 200)
        assert [d for d, _ in got] == [d for d, _ in want]
        assert all(abs(g - w) <= 2e-6 for (_, g), (_, w) in zip(got, want))

    present = {
        int(p.name.split("=")[1]) for p in postings.glob("ingest_batch=*/term_bucket=*")
    }
    cands = [f"absent{i}" for i in range(200)]
    absent = [
        t for t, b in zip(cands, prefix_bucket_local(spark, cands, _N_BUCKETS))
        if b not in present
    ][:2]
    assert len(absent) == 2
    empty = bm25_search(spark, idx, absent)
    assert empty.columns == ["doc_id", "bm25"] and empty.collect() == []
    empty = bm25_search_batch(spark, idx, {"q": absent})
    assert empty.columns == ["qid", "doc_id", "bm25"] and empty.collect() == []


def test_quantile_stream_equals_batch(spark, tmp_path):
    """Maintained exact quantiles: histograms add, so the report over
    the incrementally-folded store equals the batch operator over the
    concatenated input — including a fraction that lands EXACTLY on a
    row boundary (the case the integer pick rule exists for)."""
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_challenge_spark.operators.profiling import exact_quantiles
    from data_pipeline_challenge_spark.streaming.quantile_stream import quantile_report

    corpus = tmp_path / "in"
    corpus.mkdir()
    # 40 values per batch, 3 batches; values engineered so p50 lands
    # exactly between rows (120 rows: cum*2 == nt at the 60th row)
    all_vals = []
    mtime = 1_700_000_000
    for b in range(3):
        vals = [((i * 7 + b * 13) % 30) + 1 for i in range(40)]
        all_vals += vals
        p = corpus / f"b{b}.parquet"
        pq.write_table(pa.table({"tok": pa.array(vals, pa.int64())}), str(p))
        mtime += 10
        _os.utime(p, (mtime, mtime))

    out = tmp_path / "q"
    qy = start_view(
        spark, quantile_stream.VIEW, corpus, out, tmp_path / "ck", "tok long",
        value_col="tok", max_files_per_trigger=1,
    )
    qy.awaitTermination(240)

    fr = [(1, 2), (9, 10), (99, 100), (1, 1)]
    got = {
        (r["q_num"], r["q_den"]): r["value"]
        for r in quantile_report(spark, out, fr).collect()
    }
    batch = spark.createDataFrame([(v,) for v in all_vals], "tok long")
    want = {
        (r["q_num"], r["q_den"]): r["value"]
        for r in exact_quantiles(batch, "tok", fr).collect()
    }
    assert got == want
    # independent truth: percentile_disc semantics on the sorted list
    sv = sorted(all_vals)
    n = len(sv)
    for (num, den), v in want.items():
        rank = -(-num * n // den)  # ceil(num*n/den), all-integer
        assert v == sv[rank - 1]
    assert want[(1, 1)] == max(sv)


def test_quantile_stream_crash_replay(spark, tmp_path):
    """A replayed batch must not double its histogram: the single-store
    last-id guard is the whole exactly-once protocol here."""
    from data_pipeline_challenge_spark.streaming.quantile_stream import (
        fold_batch,
        quantile_report,
    )

    out = tmp_path / "q"
    b0 = spark.createDataFrame([(v,) for v in [1, 2, 2, 3]], "tok long")
    b1 = spark.createDataFrame([(v,) for v in [3, 3, 4, 9]], "tok long")
    fold_batch(spark, out, b0, 0, "tok")
    fold_batch(spark, out, b1, 1, "tok")
    want = {
        (r["q_num"], r["q_den"]): r["value"]
        for r in quantile_report(spark, out, [(1, 2), (1, 1)]).collect()
    }
    fold_batch(spark, out, b1, 1, "tok")  # checkpoint replay
    got = {
        (r["q_num"], r["q_den"]): r["value"]
        for r in quantile_report(spark, out, [(1, 2), (1, 1)]).collect()
    }
    assert got == want == {(1, 2): 3, (1, 1): 9}


def test_group_texts_stream_equals_batch(spark, tmp_path):
    """The incrementally-maintained group-texts block map must equal the
    batch splitter over everything landed — across micro-batches, a
    restart with new data, and a crash-replay (fresh checkpoint replays
    old files as batch 0, which the _folded_batch guard must skip). This
    proves md5-hex shards are a stable pure function of doc_id: a doc
    changing shard between batches would diverge the touched-shard
    recompute from the full batch split."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_challenge_spark.operators.packing import (
        group_texts_blocks,
    )
    from data_pipeline_challenge_spark.streaming.group_texts_stream import (
        current_blocks,
        start_group_texts_stream,
    )

    corpus_dir = tmp_path / "corpus_in"
    corpus_dir.mkdir()
    out_dir = tmp_path / "blocks"
    ckpt = tmp_path / "ckpt_gt"
    SCHEMA = "doc_id string, tok long"
    L = 32

    def land(name, rows):
        ids, toks = zip(*rows)
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(ids),
                    "tok": pa.array(toks, pa.int64()),
                }
            ),
            str(corpus_dir / name),
        )

    land("a.parquet", [("d1", 60), ("d2", 50), ("d3", 90), ("d0", 0)])
    land("b.parquet", [("d4", 40), ("d5", 30), ("d6", 80)])

    def run(ck=ckpt):
        q = start_group_texts_stream(
            spark, corpus_dir, out_dir, ck, SCHEMA,
            "doc_id", "tok", block_len=L, shard_hex=1,
            max_files_per_trigger=1,
        )
        q.awaitTermination(180)

    run()  # two files -> two micro-batches folded incrementally

    def norm(df):
        return {
            tuple(r)
            for r in df.select(
                "shard", "block_id", "doc_id", "n_tokens", "doc_off", "block_off"
            ).collect()
        }

    def batch_split():
        full = spark.read.schema(SCHEMA).parquet(str(corpus_dir))
        return group_texts_blocks(full, "doc_id", "tok", block_len=L, shard_hex=1)

    assert norm(current_blocks(spark, out_dir)) == norm(batch_split())

    # restart with a third file: only touched shards recompute, result
    # still equals the full batch split
    land("c.parquet", [("d7", 55), ("d8", 25), ("d9", 10)])
    run()
    after = norm(current_blocks(spark, out_dir))
    assert after == norm(batch_split())

    # crash-replay: a fresh checkpoint replays ALL files as batch 0 —
    # batch 0 <= last folded version, so the sink must skip the re-fold
    run(ck=tmp_path / "ckpt_gt2")
    assert norm(current_blocks(spark, out_dir)) == after


def test_group_texts_stream_incremental_cost_and_revocation(spark, tmp_path):
    """Per-batch cost is O(touched shards), pinned structurally: the
    history scan partition-prunes on the md5-hex shard literal, and a new
    version rewrites ONLY touched shards (untouched shards hard-linked,
    inode-identical). revoke_block_docs folds a contaminated-doc delta the
    same way: only holding shards recompute, the map row-equals the batch
    splitter over corpus-minus-revoked, a re-applied delta is a no-op, and
    a LATER micro-batch touching a revoked doc's shard does not resurrect
    it."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_challenge_spark.operators.packing import (
        group_texts_blocks,
    )
    from data_pipeline_challenge_spark.streaming.group_texts_stream import (
        current_blocks,
        revoke_block_docs,
        start_group_texts_stream,
        touched_doc_history,
    )

    # resolve doc ids to md5-hex shards so the two batches are disjoint
    by_shard: dict = {}
    for i in range(200):
        did = f"doc{i}"
        by_shard.setdefault(
            hashlib.md5(did.encode()).hexdigest()[0], []
        ).append(did)
    shards = sorted(s for s in by_shard if len(by_shard[s]) >= 6)
    s1, s2 = shards[0], shards[1]

    corpus_dir = tmp_path / "corpus_in"
    corpus_dir.mkdir()
    out_dir = tmp_path / "blocks"
    ckpt = tmp_path / "ckpt_gt"
    SCHEMA = "doc_id string, tok long"
    L = 50

    def land(name, ids):
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(ids),
                    "tok": pa.array([40] * len(ids), pa.int64()),
                }
            ),
            str(corpus_dir / name),
        )

    def run():
        q = start_group_texts_stream(
            spark, corpus_dir, out_dir, ckpt, SCHEMA,
            "doc_id", "tok", block_len=L, shard_hex=1,
            max_files_per_trigger=1,
        )
        q.awaitTermination(180)

    land("a.parquet", by_shard[s1][:3])
    run()  # batch 0 -> data.v0, shard s1 only
    land("b.parquet", by_shard[s2][:3])
    run()  # batch 1 -> data.v1, touches s2 only

    v0, v1 = out_dir / "data.v0", out_dir / "data.v1"
    inodes = lambda d: sorted(p.stat().st_ino for p in d.glob("*.parquet"))  # noqa: E731
    assert inodes(v1 / f"shard={s1}"), "untouched shard missing from v1"
    assert inodes(v1 / f"shard={s1}") == inodes(v0 / f"shard={s1}")
    assert inodes(v1 / f"shard={s2}")
    assert not (v0 / f"shard={s2}").exists()

    # history scan partition-prunes on the string shard literal
    hist = touched_doc_history(spark, out_dir / "rows", [s2])
    plan = spark._jvm.PythonSQLUtils.explainString(
        hist._jdf.queryExecution(), "formatted"
    )
    seg = plan.split("PartitionFilters")[1].split("\n")[0]
    assert "shard" in seg
    assert sorted(r["doc_id"] for r in hist.collect()) == sorted(by_shard[s2][:3])

    def norm(df):
        return {
            tuple(r)
            for r in df.select(
                "shard", "block_id", "doc_id", "n_tokens", "doc_off", "block_off"
            ).collect()
        }

    def expect(ids):
        df = spark.createDataFrame([(i, 40) for i in ids], SCHEMA)
        return norm(group_texts_blocks(df, "doc_id", "tok", block_len=L, shard_hex=1))

    landed = by_shard[s1][:3] + by_shard[s2][:3]
    assert norm(current_blocks(spark, out_dir)) == expect(landed)

    # revocation fold: only the holding shard recomputes
    def fold(ids):
        return revoke_block_docs(
            spark, out_dir,
            spark.createDataFrame([(i,) for i in ids], "doc_id string"),
            "doc_id", "tok", block_len=L, shard_hex=1,
        )

    revoked = by_shard[s2][1]
    assert fold([revoked]) == 1
    kept = [i for i in landed if i != revoked]
    assert norm(current_blocks(spark, out_dir)) == expect(kept)
    v2 = out_dir / "data.v2"
    assert inodes(v2 / f"shard={s1}") == inodes(v1 / f"shard={s1}")
    assert inodes(v2 / f"shard={s2}") != inodes(v1 / f"shard={s2}")

    # idempotent re-apply; unknown doc records keys but repacks nothing
    assert fold([revoked]) == 0
    assert not (out_dir / "data.v3").exists()
    assert fold(["never-landed"]) == 0

    # a later micro-batch touching the revoked doc's shard must not
    # resurrect it (touched_doc_history anti-joins the revoked store)
    land("c.parquet", by_shard[s2][3:6])
    run()
    kept += by_shard[s2][3:6]
    assert norm(current_blocks(spark, out_dir)) == expect(kept)


def test_funnel_revocation_propagates_to_block_store(spark, tmp_path):
    """VERDICT r12 #7: the group-texts block store is the pre-training
    sibling of the packed table and gets the same maintained-store +
    revoke treatment — funnel corpus → block map → eval-generation
    upgrade → revoke_block_docs fold → the map row-equals the batch
    splitter over the post-revocation current_corpus, untouched shards
    stay hard-linked, and the MATERIALIZED training sequences no longer
    contain any revoked token."""
    from data_pipeline_challenge_spark.operators.packing import (
        group_texts_blocks,
        materialize_block_texts,
    )
    from data_pipeline_challenge_spark.streaming.corpus_pipeline_stream import (
        current_corpus,
        revoke_corpus_eval_generation,
        start_corpus_pipeline_stream,
    )
    from data_pipeline_challenge_spark.streaming.group_texts_stream import (
        current_blocks,
        revoke_block_docs,
        start_group_texts_stream,
    )

    corpus_dir = tmp_path / "corpus_in"
    corpus_dir.mkdir()
    out = tmp_path / "pipe"
    SCHEMA = "doc_id long, text string"
    land = _near_corpus_land(corpus_dir, [1_700_000_000])

    eval_a = spark.createDataFrame(
        [(900, "the held out benchmark asks about the tallest mountain")], SCHEMA
    )
    eval_b = spark.createDataFrame(
        [(901, "a newer benchmark question mentions deep river canyons")], SCHEMA
    )
    land("a.parquet", [
        (1, "spark shuffles hash partitioned data between separate stages"),
        (2, "the held out benchmark asks about something else entirely"),
        (3, "several question mentions deep river canyons in passing today"),
        (4, "an unrelated document about compiler design tradeoffs here"),
    ])
    q = start_corpus_pipeline_stream(
        spark, corpus_dir, out, tmp_path / "ck", SCHEMA, "doc_id", "text",
        eval_df=eval_a, min_jaccard=0.5, n_prefix=8,
    )
    q.awaitTermination(300)
    assert sorted(
        r["doc_id"] for r in current_corpus(spark, out).collect()
    ) == [1, 3, 4]

    # feed the funnel's corpus into the maintained block store
    def block_input(df):
        return df.select(
            "doc_id", F.size(F.split("text", " ")).cast("long").alias("tok")
        )

    gt_in, gt_out = tmp_path / "gt_in", tmp_path / "blocks"
    L = 8
    block_input(current_corpus(spark, out)).write.parquet(str(gt_in))
    q = start_group_texts_stream(
        spark, gt_in, gt_out, tmp_path / "ckpt_gt",
        "doc_id bigint, tok bigint", "doc_id", "tok",
        block_len=L, shard_hex=1,
    )
    q.awaitTermination(180)

    # a new benchmark generation lands: corpus view drops doc 3 ...
    rev = revoke_corpus_eval_generation(spark, out, eval_b, "doc_id", "text")
    assert [r["doc_id"] for r in rev.collect()] == [3]
    # ... and the fold mirrors it onto the block store
    assert revoke_block_docs(
        spark, gt_out, rev, "doc_id", "tok", block_len=L, shard_hex=1
    ) >= 1

    norm = lambda df: {  # noqa: E731
        tuple(r)
        for r in df.select(
            "shard", "block_id", "doc_id", "n_tokens", "doc_off", "block_off"
        ).collect()
    }
    expected = group_texts_blocks(
        block_input(current_corpus(spark, out)),
        "doc_id", "tok", block_len=L, shard_hex=1,
    )
    blocks = current_blocks(spark, gt_out)
    assert norm(blocks) == norm(expected)
    assert 3 not in {r["doc_id"] for r in blocks.collect()}

    # untouched shards of the previous version stay hard-linked
    import hashlib

    versions = sorted(
        p for p in gt_out.glob("data.v*") if not p.name.endswith(".tmp")
    )
    assert len(versions) == 2
    prev_v, new_v = versions
    revoked_shards = {hashlib.md5(b"3").hexdigest()[0]}
    inodes = lambda d: sorted(p.stat().st_ino for p in d.glob("*.parquet"))  # noqa: E731
    for sd in prev_v.glob("shard=*"):
        s = sd.name.split("=", 1)[1]
        if s in revoked_shards:
            assert inodes(new_v / sd.name) != inodes(sd)
        else:
            assert inodes(new_v / sd.name) == inodes(sd)

    # the materialized training sequences reference no revoked token —
    # via the maintained store's one-call reader
    from data_pipeline_challenge_spark.streaming.group_texts_stream import (
        current_block_texts,
    )

    docs_toks = current_corpus(spark, out).select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    seqs = current_block_texts(spark, gt_out, docs_toks, "doc_id", "toks")
    all_text = " ".join(r["seq_text"] for r in seqs.collect())
    assert "canyons" not in all_text and "spark" in all_text
    # equals the direct operator composition
    direct = materialize_block_texts(blocks, docs_toks, "doc_id", "toks")
    assert sorted(map(tuple, seqs.collect())) == sorted(map(tuple, direct.collect()))


def test_revoke_zero_token_doc_corrects_n_docs(spark, tmp_path):
    """ADVICE r12: a zero-token doc gets a dl=0 doclen row at fold time,
    so revoking it (a) is recorded, and (b) corrects n_docs — index BM25
    stays equal to batch BM25 over the post-revocation corpus even when
    the revoked doc contributed nothing but its idf-N share. avgdl must
    be untouched (the dl=0 row was never in the length statistics)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_challenge_spark.streaming.retrieval_stream import (
        bm25_search,
        revoke_docs,
    )

    corpus = tmp_path / "in"
    corpus.mkdir()
    rows = [
        (1, "spark shuffles partitioned data between stages"),
        (2, "dup rows need spark dedup passes"),
        (3, ""),  # zero tokens: no postings, no length — but counts into N
        (4, "merge folds spark batches into stores"),
    ]
    ids, texts = zip(*rows)
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)}),
        str(corpus / "a.parquet"),
    )
    out = tmp_path / "idx"
    q = start_view(
        spark, retrieval_stream.VIEW, corpus, out, tmp_path / "ck",
        "doc_id long, text string", id_col="doc_id", text_col="text",
    )
    q.awaitTermination(240)

    terms = ["spark", "merge"]
    all_docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = [(r["doc_id"], r["bm25"]) for r in bm25_search(spark, out, terms).collect()]
    assert got == _batch_bm25_want(all_docs, terms)  # N=4 pre-revocation

    # revoke the EMPTY doc: recorded (dl=0 row), N corrected to 3
    assert revoke_docs(
        spark, out, spark.createDataFrame([(3,)], "doc_id long")
    ) == 1
    kept = all_docs.filter(F.col("doc_id") != 3)
    got = [(r["doc_id"], r["bm25"]) for r in bm25_search(spark, out, terms).collect()]
    assert got == _batch_bm25_want(kept, terms)

    # idempotent; and a never-indexed id is still ignored
    assert revoke_docs(spark, out, spark.createDataFrame([(3,)], "doc_id long")) == 0
    assert revoke_docs(spark, out, spark.createDataFrame([(99,)], "doc_id long")) == 0


def test_revoked_counts_survive_a_crash_between_writes(spark, tmp_path, monkeypatch):
    """``revoke_docs`` appends a generation to the ``revoked`` store, then
    commits the store's cumulative counts, which BM25 probes read instead
    of aggregating the store. A crash between the two writes leaves the
    probes correct (they aggregate while the newest generation has no
    counts), and the next ``revoke_docs`` commits the missing counts
    before its own."""
    from pathlib import Path

    from data_pipeline_challenge_spark.batchstore import last_batch_id, latest_commit_file
    from data_pipeline_challenge_spark.streaming import retrieval_stream as rs

    rows = [
        (1, "spark shuffles partitioned data"),
        (2, "dup rows need spark dedup"),
        (3, "merge folds spark batches"),
        (4, "spark merge stores data"),
        (5, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = tmp_path / "idx"
    rs.fold_batch(spark, out, docs, 0, "doc_id", "text")
    terms = ["spark", "merge", "data"]

    def search():
        return [(r["doc_id"], r["bm25"]) for r in rs.bm25_search(spark, out, terms).collect()]

    def revoke(*ids):
        return rs.revoke_docs(
            spark, out, spark.createDataFrame([(i,) for i in ids], "doc_id long")
        )

    commit = rs.write_commit_file

    def crash_at_counts(root, batch_id, rec):
        if Path(root).name == "revoked_counts":
            raise RuntimeError("crash between the append and its counts")
        commit(root, batch_id, rec)

    monkeypatch.setattr(rs, "write_commit_file", crash_at_counts)
    with pytest.raises(RuntimeError):
        revoke(1)
    monkeypatch.setattr(rs, "write_commit_file", commit)
    assert last_batch_id(out / "revoked") == 0
    assert latest_commit_file(out / "revoked_counts", {})[1] == -1
    assert search() == _batch_bm25_want(docs.filter("doc_id != 1"), terms)

    assert revoke(3, 5) == 2
    assert json.loads((out / "revoked_counts" / "b0.json").read_text()) == {
        "nr": 1, "nl": 1, "sdl": 4,
    }
    assert latest_commit_file(out / "revoked_counts", {}) == (
        {"nr": 3, "nl": 2, "sdl": 8}, 1,
    )
    assert search() == _batch_bm25_want(docs.filter("doc_id not in (1, 3, 5)"), terms)


def test_overlap_stream_equals_batch(spark, tmp_path):
    """The incrementally-maintained source-overlap matrix (streaming IVM
    of source_shingle_overlap) must row-equal the batch view over
    everything landed — across micro-batches, a restart with new data
    (including new shared shingles BETWEEN old and new batches), and a
    fresh-checkpoint crash-replay; and orphan increments from a crash
    window must be invisible to the report until their membership append
    commits."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_challenge_spark.batchstore import append_batch_increment
    from data_pipeline_challenge_spark.plans.text import source_overlap_matrix
    from data_pipeline_challenge_spark.streaming.overlap_stream import overlap_report

    corpus_dir = tmp_path / "in"
    corpus_dir.mkdir()
    out = tmp_path / "overlap"
    SCHEMA = "source string, text string"
    N = 3  # shingle size: small docs, real cross-batch overlap

    boiler = "subscribe to our newsletter for updates today"
    legal = "all rights reserved by the original author"
    rows_a = [
        ("web", f"{boiler} spark shuffles partitioned data"),
        ("web", "a unique web document with its own words entirely"),
        ("news", f"{legal} breaking news about compilers"),
        ("blog", f"{boiler} and also {legal} combined"),
    ]
    rows_b = [
        ("forum", f"{boiler} posted again in a forum thread"),
        ("news", f"{boiler} now syndicated into the news feed"),
        ("docs", "reference documentation stands alone without overlap"),
    ]

    def land(name, rows):
        src, txt = zip(*rows)
        pq.write_table(
            pa.table({"source": pa.array(src), "text": pa.array(txt)}),
            str(corpus_dir / name),
        )

    def run(ck):
        q = start_view(
            spark, overlap_stream.VIEW, corpus_dir, out, ck, SCHEMA,
            source_col="source", text_col="text", shingle_n=N, max_files_per_trigger=1,
        )
        q.awaitTermination(180)

    def norm(df):
        return sorted(tuple(r) for r in df.collect())

    def batch_view():
        all_rows = spark.read.schema(SCHEMA).parquet(str(corpus_dir))
        return source_overlap_matrix(all_rows, shingle_n=N)

    land("a.parquet", rows_a)
    run(tmp_path / "ck1")
    got = norm(overlap_report(spark, out))
    assert got == norm(batch_view())
    assert got, "fixture must produce a non-empty matrix"

    # restart with a second file: cross-batch shared shingles (forum and
    # news gain boilerplate seen in batch 0) must fold incrementally
    land("b.parquet", rows_b)
    run(tmp_path / "ck1")
    got = norm(overlap_report(spark, out))
    assert got == norm(batch_view())
    assert any(r[0] == "forum" or r[1] == "forum" for r in got)

    # crash window: orphan increments (membership append never landed)
    # are bounded out of the report
    orphan = spark.createDataFrame([("web", "zzz", 99)], "s1 string, s2 string, d long")
    append_batch_increment(orphan, out / "pair_inc", 50)
    assert norm(overlap_report(spark, out)) == got

    # fresh-checkpoint crash-replay: all files replay as earlier batch
    # ids, at-or-below the commit point -> skipped, matrix unchanged
    run(tmp_path / "ck2")
    assert norm(overlap_report(spark, out)) == got


def test_grouped_quantile_stream_equals_batch(spark, tmp_path):
    """The maintained distribution store's GROUPED mode: per-group
    histograms add exactly like global ones, so after a multi-batch
    drain the report equals the batch grouped_exact_quantiles over the
    concatenated input — including groups that appear in only one
    micro-batch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_challenge_spark.operators.profiling import (
        grouped_exact_quantiles,
    )
    from data_pipeline_challenge_spark.streaming.quantile_stream import quantile_report

    src = tmp_path / "in"
    src.mkdir()
    SCHEMA = "source string, tok long"
    FR = [(1, 2), (9, 10)]

    def land(name, rows):
        s_, v = zip(*rows)
        pq.write_table(
            pa.table({"source": pa.array(s_), "tok": pa.array(v, pa.int64())}),
            str(src / name),
        )

    land("a.parquet", [("web", 10), ("web", 30), ("news", 7), ("web", 20)])
    land("b.parquet", [("news", 9), ("blog", 5), ("web", 40), ("news", 11)])

    out = tmp_path / "dist"
    q = start_view(
        spark, quantile_stream.VIEW, src, out, tmp_path / "ck", SCHEMA, value_col="tok",
        group_cols=["source"], max_files_per_trigger=1,
    )
    q.awaitTermination(120)

    got = sorted(
        tuple(r) for r in quantile_report(
            spark, out, FR, group_cols=["source"]
        ).collect()
    )
    full = spark.read.schema(SCHEMA).parquet(str(src))
    want = sorted(
        tuple(r)
        for r in grouped_exact_quantiles(full, "source", "tok", FR).collect()
    )
    assert got == want
    assert {t[0] for t in got} == {"web", "news", "blog"}


def test_overlap_report_single_source_is_empty_matrix(spark, tmp_path):
    """A drain that never produced a cross-source shared shingle (e.g. a
    single-source corpus) leaves pair_inc holding only empty-batch
    sentinels — the report must return the EMPTY matrix, not throw
    UNABLE_TO_INFER_SCHEMA (review r13 #1)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_challenge_spark.streaming.overlap_stream import overlap_report

    src = tmp_path / "in"
    src.mkdir()
    pq.write_table(
        pa.table(
            {
                "source": pa.array(["web", "web"]),
                "text": pa.array(
                    ["one single source document here", "another one entirely"]
                ),
            }
        ),
        str(src / "a.parquet"),
    )
    out = tmp_path / "overlap"
    q = start_view(
        spark, overlap_stream.VIEW, src, out, tmp_path / "ck",
        "source string, text string", source_col="source", text_col="text", shingle_n=3,
    )
    q.awaitTermination(120)
    rep = overlap_report(spark, out)
    assert rep is not None and rep.count() == 0
    assert rep.columns == ["s1", "s2", "n_shared", "jaccard"]


def test_novelty_gate_stream(spark, tmp_path):
    """The novelty gate scores each arriving doc's boilerplate share
    against the shingles of PRIOR batches and diverts at max_share:
    hand-computed shares over known templates, intra-batch copies of a
    fresh template all admitted (history is prior-batch only), exact and
    partial template re-flow in later batches diverted with the right
    scores, zero-shingle docs pass with 0.0, and a fresh-checkpoint
    crash-replay changes nothing."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_challenge_spark.streaming.novelty_stream import (
        current_admitted_docs,
        rejected_log,
    )

    N = 3  # shingle size

    def shingles(text):
        toks = text.split()
        return {
            hashlib.md5(" ".join(toks[i : i + N]).encode()).hexdigest()
            for i in range(len(toks) - N + 1)
        }

    template = "subscribe to our newsletter for all the latest updates"
    fresh_a = "spark executes declarative plans with catalyst optimizations"
    fresh_b = "completely new material discussing compiler construction"

    rows_a = [
        (1, template),
        (2, template),  # intra-batch copy: scored against EMPTY history
        (3, fresh_a),
    ]
    reflow = template + " and some extra filler words"
    rows_b = [
        (4, reflow),        # mostly template shingles -> diverted
        (5, fresh_b),       # novel -> admitted
        (6, template),      # exact re-flow -> share 1.0 diverted
        (7, "tiny doc"),    # < N tokens: zero shingles -> share 0.0 pass
    ]

    corpus = tmp_path / "in"
    corpus.mkdir()
    mtimes = {"a.parquet": 1_700_000_000, "b.parquet": 1_700_000_100}

    def land(name, rows):
        import os as _os

        ids, txt = zip(*rows)
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(txt)}),
            str(corpus / name),
        )
        # FileStreamSource orders batches by mtime: pin it, or two files
        # written in the same clock tick arrive in either order
        _os.utime(corpus / name, (mtimes[name], mtimes[name]))

    def run(ck):
        q = start_view(
            spark, novelty_stream.VIEW, corpus, tmp_path / "gate", ck,
            "doc_id long, text string", id_col="doc_id", text_col="text", shingle_n=N,
            max_share=0.5, max_files_per_trigger=1,
        )
        q.awaitTermination(180)

    land("a.parquet", rows_a)
    land("b.parquet", rows_b)
    run(tmp_path / "ck1")

    admitted = {
        r["doc_id"]: r for r in current_admitted_docs(spark, tmp_path / "gate").collect()
    }
    rejected = {
        r["doc_id"]: r for r in rejected_log(spark, tmp_path / "gate").collect()
    }
    assert set(admitted) == {1, 2, 3, 5, 7}
    assert set(rejected) == {4, 6}
    # batch 0: empty history, everything scores 0.0 — including the copy
    assert admitted[1]["novelty_share"] == 0.0
    assert admitted[2]["novelty_share"] == 0.0
    # batch 1 hand-computed shares vs batch-0 shingle set
    hist = shingles(template) | shingles(fresh_a)
    for did, text in [(4, reflow), (6, template)]:
        sh = shingles(text)
        want = round(len(sh & hist) / len(sh), 6)
        assert abs(rejected[did]["novelty_share"] - want) < 1e-9, did
        assert rejected[did]["n_shingles"] == len(sh)
    assert rejected[6]["novelty_share"] == 1.0
    assert admitted[7]["n_shingles"] == 0 and admitted[7]["novelty_share"] == 0.0

    # fresh-checkpoint crash-replay: both files replay at-or-below the
    # commit point -> skipped, stores unchanged
    before = (sorted(admitted), sorted(rejected))
    run(tmp_path / "ck2")
    after = (
        sorted(r["doc_id"] for r in current_admitted_docs(spark, tmp_path / "gate").collect()),
        sorted(r["doc_id"] for r in rejected_log(spark, tmp_path / "gate").collect()),
    )
    assert after == (sorted(admitted), sorted(rejected))


def test_funnel_with_novelty_stage(spark, tmp_path):
    """The composed funnel with the novelty stage ON (quality off,
    decontam off): exact copies are the DEDUP stage's verdict, template
    re-flow across batches is the NOVELTY stage's, and the final corpus
    keeps only the fresh material; restarting a pre-novelty warehouse
    WITHOUT the stage still works (pin key absent), while toggling the
    stage on an existing warehouse is refused loudly."""
    import pytest as _pytest

    from data_pipeline_challenge_spark.streaming.corpus_pipeline_stream import (
        current_corpus,
        start_corpus_pipeline_stream,
    )
    from data_pipeline_challenge_spark.streaming.novelty_stream import (
        rejected_log,
    )

    corpus_dir = tmp_path / "in"
    corpus_dir.mkdir()
    SCHEMA = "doc_id long, text string"
    land = _near_corpus_land(corpus_dir, [1_700_000_000])

    template = "subscribe to our newsletter for all the latest updates"
    land("a.parquet", [
        (1, template + " plus original reporting on spark internals"),
        (2, "completely separate material about compiler construction"),
    ])
    land("b.parquet", [
        (3, template + " plus different filler trailing words here"),  # re-flow
        (4, "fresh genuinely novel content on query optimizers"),
        (1001, template + " plus original reporting on spark internals"),  # exact copy of 1
    ])

    out = tmp_path / "pipe"

    def run(ck):
        q = start_corpus_pipeline_stream(
            spark, corpus_dir, out, ck, SCHEMA, "doc_id", "text",
            min_jaccard=0.9, n_prefix=8, max_files_per_trigger=1,
            novelty_max_share=0.6, novelty_shingle_n=3,
        )
        q.awaitTermination(300)

    run(tmp_path / "ck1")

    kept = sorted(r["doc_id"] for r in current_corpus(spark, out).collect())
    # doc 3: mostly template shingles vs batch-0 history -> novelty-diverted
    # doc 1001: exact duplicate -> exact-dedup's verdict, NOT novelty's
    assert kept == [1, 2, 4]
    nov_rej = {r["doc_id"] for r in rejected_log(spark, out / "novelty").collect()}
    assert nov_rej == {3}
    # the exact copy never REACHED the novelty gate (dedup dropped it):
    # it is in neither of the novelty stage's stores
    from data_pipeline_challenge_spark.streaming.novelty_stream import (
        current_admitted_docs as _nov_admitted,
    )

    nov_seen = nov_rej | {
        r["doc_id"] for r in _nov_admitted(spark, out / "novelty").collect()
    }
    assert 1001 not in nov_seen
    # ... and the dedup stage's novel store holds everything novelty saw
    from data_pipeline_challenge_spark.streaming.dedup_stream import (
        current_novel_docs,
    )

    assert {
        r["doc_id"] for r in current_novel_docs(spark, out / "exact").collect()
    } == nov_seen

    # restart with the SAME config (fresh checkpoint replays committed
    # batches; folds skip) — accepted, corpus unchanged
    run(tmp_path / "ck2")
    assert sorted(r["doc_id"] for r in current_corpus(spark, out).collect()) == kept

    # toggling the stage OFF on this warehouse is refused (pin drift)
    with _pytest.raises(RuntimeError, match="built with"):
        q = start_corpus_pipeline_stream(
            spark, corpus_dir, out, tmp_path / "ck3", SCHEMA, "doc_id", "text",
            min_jaccard=0.9, n_prefix=8,
        )

    # and a PRE-novelty warehouse (no key in its pin) restarts fine but
    # refuses the stage being toggled ON
    out2 = tmp_path / "pipe2"
    q = start_corpus_pipeline_stream(
        spark, corpus_dir, out2, tmp_path / "ck4", SCHEMA, "doc_id", "text",
        min_jaccard=0.9, n_prefix=8,
    )
    q.awaitTermination(300)
    with _pytest.raises(RuntimeError, match="built with"):
        start_corpus_pipeline_stream(
            spark, corpus_dir, out2, tmp_path / "ck5", SCHEMA, "doc_id", "text",
            min_jaccard=0.9, n_prefix=8, novelty_max_share=0.6,
        )


def test_training_export_manifest_block_store(spark, tmp_path):
    """The lineage manifest's blocks section: published version, folded
    batch, revocation ledger, and an assignment-map content fingerprint
    that MOVES when a revocation recomputes any shard — so 'was doc Y's
    text in the sequences exported at manifest M' is answerable."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_challenge_spark.lineage import training_export_manifest
    from data_pipeline_challenge_spark.streaming.group_texts_stream import (
        revoke_block_docs,
        start_group_texts_stream,
    )

    src = tmp_path / "in"
    src.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([f"d{i}" for i in range(40)]),
                "tok": pa.array([30 + i for i in range(40)], pa.int64()),
            }
        ),
        str(src / "a.parquet"),
    )
    out = tmp_path / "blocks"
    q = start_group_texts_stream(
        spark, src, out, tmp_path / "ck", "doc_id string, tok long",
        "doc_id", "tok", block_len=64, shard_hex=1,
    )
    q.awaitTermination(180)

    m1 = training_export_manifest(spark, blocks_dir=out)
    m1b = training_export_manifest(spark, blocks_dir=out)
    assert m1 == m1b  # deterministic
    b = m1["blocks"]
    assert b["published_version"] == "data.v0"
    assert b["folded_batch"] == 0
    assert b["revoked_keys"] == 0 and b["revocations_applied"] == []
    assert b["table_fingerprint"]["rows"] > 0

    assert revoke_block_docs(
        spark, out,
        spark.createDataFrame([("d7",)], "doc_id string"),
        "doc_id", "tok", block_len=64, shard_hex=1,
    ) == 1
    m2 = training_export_manifest(spark, blocks_dir=out)
    assert m2["blocks"]["revoked_keys"] == 1
    assert len(m2["blocks"]["revocations_applied"]) == 1
    assert m2["blocks"]["table_fingerprint"] != b["table_fingerprint"]
    assert m2["blocks"]["published_version"] == "data.v1"


def test_image_dedup_gate_stream(spark, tmp_path):
    """Perceptual image-dedup gate: first arrival of a neighborhood
    kept, re-encodes of it (exact and lightly perturbed, incl. flipped
    storage orientation) diverted with dup_of evidence, unrelated images
    and non-image rows pass; intra-batch mutual near-dups keep the
    lowest id; a history-diverted image never blocks a clean one; and a
    fresh-checkpoint crash-replay changes nothing."""
    import os
    import struct

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_challenge_spark.streaming.image_dedup_stream import (
        current_kept_media,
        diverted_log,
    )

    def encode_bmp(gray_rows, w, h, bottom_up=True):
        stride = (w * 3 + 3) & ~3
        order = range(h - 1, -1, -1) if bottom_up else range(h)
        px = b"".join(
            bytes(b for x in range(w) for b in (gray_rows[y][x],) * 3)
            + b"\x00" * (stride - w * 3)
            for y in order
        )
        return (
            b"BM"
            + struct.pack("<IHHI", 54 + len(px), 0, 0, 54)
            + struct.pack(
                "<IiiHHIIiiII",
                40, w, h if bottom_up else -h, 1, 24, 0,
                len(px), 2835, 2835, 0, 0,
            )
            + px
        )

    W, H = 32, 24
    base = [[(x * 7 + y * 3) % 256 for x in range(W)] for y in range(H)]
    pert = [row[:] for row in base]
    for x in range(4):
        pert[3][x] = 255 - pert[3][x]
    noise = [[(x * 131 + y * 57 + 11) % 256 for x in range(W)] for y in range(H)]

    media_dir = tmp_path / "in"
    media_dir.mkdir()
    SCHEMA = "media_id long, kind string, payload binary, meta map<string,string>"
    mtimes = {"a.parquet": 1_700_000_000, "b.parquet": 1_700_000_100}

    def land(name, rows):
        ids, kinds, payloads = zip(*rows)
        pq.write_table(
            pa.table(
                {
                    "media_id": pa.array(ids, pa.int64()),
                    "kind": pa.array(kinds),
                    "payload": pa.array(
                        [bytes(p) for p in payloads], pa.binary()
                    ),
                    "meta": pa.array([{}] * len(ids), pa.map_(pa.string(), pa.string())),
                }
            ),
            str(media_dir / name),
        )
        os.utime(media_dir / name, (mtimes[name], mtimes[name]))

    land("a.parquet", [
        (2, "image", encode_bmp(base, W, H)),
        (1, "image", encode_bmp(base, W, H, bottom_up=False)),  # intra dup, LOWER id wins
        (3, "image", encode_bmp(noise, W, H)),
        (4, "audio", b"not an image at all"),
    ])
    land("b.parquet", [
        (10, "image", encode_bmp(pert, W, H)),   # near-copy of kept 1 -> divert
        (11, "image", encode_bmp(base, W, H)),   # exact re-encode -> divert
        (12, "image", encode_bmp([[255 - v for v in r] for r in noise], W, H)),  # fresh
    ])

    out = tmp_path / "gate"

    def run(ck):
        q = start_view(
            spark, image_dedup_stream.VIEW, media_dir, out, ck, SCHEMA, max_hamming=6,
            n_bands=8, max_files_per_trigger=1,
        )
        q.awaitTermination(240)

    run(tmp_path / "ck1")

    kept = sorted(r["media_id"] for r in current_kept_media(spark, out).collect())
    div = {r["media_id"]: r["dup_of"] for r in diverted_log(spark, out).collect()}
    # batch 0: 1 wins its mutual group (lowest id), 2 diverts to 1;
    # noise and the audio row pass. batch 1: 10 and 11 divert to kept 1,
    # the inverted-noise image is fresh.
    assert kept == [1, 3, 4, 12]
    assert div == {2: 1, 10: 1, 11: 1}

    # fresh-checkpoint crash-replay: both files replay at-or-below the
    # hash store's commit point -> skipped
    run(tmp_path / "ck2")
    assert sorted(
        r["media_id"] for r in current_kept_media(spark, out).collect()
    ) == kept


def test_hybrid_indexed_matches_python_fusion(spark, tmp_path):
    """The hybrid serving path (maintained BM25 index + persisted ANN
    index + RRF fusion) must reproduce, with an EXHAUSTIVE probe
    (IVF n_probe = n_clusters, so the ANN list equals brute force), the
    fusion computed independently: BM25 candidates from the index probe,
    cosine candidates from knn_bruteforce, RRF folded in pure Python.
    Pins both the fusion arithmetic and the exhaustive-probe==exact
    property; also the None-before-first-fold contract."""
    import math

    from data_pipeline_challenge_spark.operators.similarity import (
        ivf_build_index,
        knn_bruteforce,
    )
    from data_pipeline_challenge_spark.streaming.retrieval_stream import (
        fold_batch,
        hybrid_search_indexed,
    )

    rng_terms = ["alpha", "beta", "gamma", "delta", "epsilon"]
    docs = spark.createDataFrame(
        [
            (
                i,
                " ".join(
                    rng_terms[(i + j) % len(rng_terms)]
                    for j in range((i % 5) + 3)
                ),
            )
            for i in range(40)
        ],
        "doc_id long, text string",
    )
    # deterministic synthetic embeddings, dim 6, ids aligned with doc_id
    emb_rows = [
        (i, [math.sin(0.7 * i + d) for d in range(6)]) for i in range(40)
    ]
    emb = spark.createDataFrame(emb_rows, "vec_id long, embedding array<double>")

    idx = tmp_path / "bm25_idx"
    ann = tmp_path / "ann_idx"
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding")
    terms = ["alpha", "gamma"]

    # before any fold: no index yet
    assert (
        hybrid_search_indexed(
            spark, idx, terms, ann, qvec, ann_probe="ivf", n_probe=4
        )
        is None
    )

    fold_batch(spark, idx, docs, 0, "doc_id", "text")
    ivf_build_index(emb, ann, n_clusters=4)

    got = hybrid_search_indexed(
        spark, idx, terms, ann, qvec, k=10, depth=15, ann_probe="ivf", n_probe=4
    ).collect()

    # independent expected fusion
    from data_pipeline_challenge_spark.streaming.retrieval_stream import bm25_search

    bm = bm25_search(spark, idx, terms, k=15).collect()
    bm_rank = {
        r["doc_id"]: i + 1
        for i, r in enumerate(
            sorted(bm, key=lambda r: (-r["bm25"], r["doc_id"]))
        )
    }
    kn = knn_bruteforce(emb, qvec, k=15).collect()
    kn_rank = {
        r["vec_id"]: i + 1
        for i, r in enumerate(sorted(kn, key=lambda r: (-r["sim"], r["vec_id"])))
    }
    fused = {}
    for i in set(bm_rank) | set(kn_rank):
        s = 0.0
        s += 1.0 / (60.0 + bm_rank[i]) if i in bm_rank else 0.0
        s += 1.0 / (60.0 + kn_rank[i]) if i in kn_rank else 0.0
        fused[i] = s
    want = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[:10]

    assert [(r["doc_id"], r["rank_1"], r["rank_2"]) for r in got] == [
        (i, bm_rank.get(i), kn_rank.get(i)) for i, _ in want
    ]
    for r, (i, s) in zip(got, want):
        assert abs(r["rrf_score"] - s) < 1e-12


def test_gapfill_locf_over_maintained_rollup_equals_batch(spark, tmp_path):
    """gapfill_locf is a read-side view: applied to the maintained
    rollup store after streaming N files it must equal, row-for-row,
    the same view over the one-shot batch rollup of all events — and
    the fill semantics themselves are pinned on a crafted frame (gap
    buckets carry the last sum_cents forward with n_events=0)."""
    import datetime as dt

    from data_pipeline_challenge_spark.operators.rollup import (
        gapfill_locf,
        hourly_rollup,
    )
    from data_pipeline_challenge_spark.streaming.rollup_stream import (
        current_rollup,
        start_rollup_stream,
    )

    # crafted semantics check: hours 0, 1, 4 active -> 2, 3 filled
    crafted = spark.createDataFrame(
        [(0, "a", 2, 100, 0.5, 1.0), (1, "a", 1, 250, 2.5, 2.5),
         (4, "a", 3, 30, 0.1, 0.2), (7, "b", 1, 70, 0.7, 0.7)],
        "bucket_hr long, event_type string, n_events long, sum_cents long,"
        " min_value double, max_value double",
    )
    got = {
        (r["event_type"], r["bucket_hr"]): (
            r["n_events"], r["sum_cents_locf"], r["gap_filled"]
        )
        for r in gapfill_locf(crafted).collect()
    }
    assert got[("a", 2)] == (0, 250, True)
    assert got[("a", 3)] == (0, 250, True)
    assert got[("a", 4)] == (3, 30, False)
    assert got[("b", 7)] == (1, 70, False)
    assert len(got) == 6  # a: hours 0..4, b: hour 7

    # stream==batch: two event files through the maintained store
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "gapfill_src"
    src.mkdir()
    H = 3_600_000_000  # one hour in micros

    def land(name, rows):
        ids, us, types, vals = zip(*rows)
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(ids, pa.int64()),
                    "ts": pa.array(us, pa.timestamp("us")),
                    "user_id": pa.array([1] * len(rows), pa.int64()),
                    "event_type": pa.array(types),
                    "value": pa.array(vals),
                    "props": pa.array(["{}"] * len(rows)),
                }
            ),
            str(src / name),
        )

    # click active in hours 0 and 4 (gap 1-3), view in hours 2 and 3
    land("f1.parquet", [(1, 0, "click", 1.0), (2, 1 * H // 2, "click", 2.0),
                        (3, 2 * H, "view", 3.0)])
    land("f2.parquet", [(4, 4 * H + 5, "click", 0.5), (5, 3 * H, "view", 1.5)])

    rdir = tmp_path / "gapfill_rollup"
    q = start_rollup_stream(
        spark, src, rdir, tmp_path / "gapfill_ck", max_files_per_trigger=1
    )
    q.awaitTermination(240)

    maintained = gapfill_locf(current_rollup(spark, rdir))
    from data_pipeline_challenge_spark.catalog import ntz_epoch_us

    both = spark.read.parquet(str(src)).withColumn(
        "ts_ns", ntz_epoch_us(F.col("ts")) * F.lit(1000)
    )
    batch = gapfill_locf(hourly_rollup(both))
    got_rows = sorted(map(tuple, maintained.collect()))
    assert got_rows == sorted(map(tuple, batch.collect()))
    # the click gap hours really are filled rows
    click = {r[1]: r for r in got_rows if r[0] == "click"}
    assert set(click) == {0, 1, 2, 3, 4} and click[2][4] is True


def _land_event_file(path, rows, mtime):
    """rows: (event_id, t_us, user_id, event_type)."""
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
        }),
        str(path),
    )
    _os.utime(path, (mtime, mtime))


def _expected_transitions(all_rows):
    """Batch-truth transition matrix from (event_id, t_us, user_id,
    event_type) rows: per-user sequences in (t_us, event_id) order."""
    from collections import Counter, defaultdict

    seqs = defaultdict(list)
    for eid, t, u, ty in sorted(all_rows, key=lambda r: (r[1], r[0])):
        seqs[u].append(ty)
    pairs = Counter()
    for s in seqs.values():
        for a, b in zip(s, s[1:]):
            pairs[(a, b)] += 1
    totals = Counter()
    for (a, _), n in pairs.items():
        totals[a] += n
    return {(a, b): (n, round(n / totals[a], 6)) for (a, b), n in pairs.items()}


def test_transition_stream_out_of_order_fails_then_resequencer_fixes(
    spark, tmp_path
):
    """The documented ordering contract, made executable. Schedule:
    user 1's 'view' (event-time hour 1) arrives a file AFTER its hour-2
    'buy'. The PLAIN transition stream stitches arrival order and
    produces a backwards (buy -> view) transition — pinned here as the
    failing case. The RESEQUENCED stream buffers behind a watermark,
    releases in event time, and (after the end-of-drain flush) equals
    the batch answer exactly; a fresh-checkpoint replay is a no-op; an
    event later than the delay is dropped and counted, never folded
    backwards."""
    from pathlib import Path

    from data_pipeline_challenge_spark.batchstore import read_batch_store
    from data_pipeline_challenge_spark.streaming import transition_stream

    H = 3_600_000_000  # one hour in micros
    f1 = [(1, 0 * H, 1, "click"), (2, 2 * H, 1, "buy"),
          (3, 0 * H + 5, 2, "click")]
    f2 = [(4, 1 * H, 1, "view"), (5, 3 * H, 2, "view")]
    all_rows = f1 + f2
    want = _expected_transitions(all_rows)
    # truth: click->view->buy for user 1, click->view for user 2
    assert want == {("click", "view"): (2, 1.0), ("view", "buy"): (1, 1.0)}

    # 1) plain stream on the out-of-order schedule: WRONG (pinned)
    src_a = tmp_path / "ooo_in_plain"
    src_a.mkdir()
    _land_event_file(src_a / "f1.parquet", f1, 1_700_000_000)
    _land_event_file(src_a / "f2.parquet", f2, 1_700_000_010)
    out_a = tmp_path / "trans_plain"
    q = start_view(
        spark, transition_stream.VIEW, src_a, out_a, tmp_path / "ck_plain",
        "event_id long, ts timestamp_ntz, user_id long, event_type string",
        max_files_per_trigger=1,
    )
    q.awaitTermination(240)
    got_plain = {
        (r["cur"], r["nxt"]): (r["n"], r["prob"])
        for r in transition_stream.transition_report(spark, out_a).collect()
    }
    assert got_plain != want
    assert ("buy", "view") in got_plain  # the backwards stitch

    # 2) resequenced stream, delay 90 min: equals batch after flush
    src_b = tmp_path / "ooo_in_reseq"
    src_b.mkdir()
    _land_event_file(src_b / "f1.parquet", f1, 1_700_000_000)
    _land_event_file(src_b / "f2.parquet", f2, 1_700_000_010)
    out_b = tmp_path / "trans_reseq"
    ck_b = tmp_path / "ck_reseq"
    schema = "event_id long, ts timestamp_ntz, user_id long, event_type string"

    def drain(ck=ck_b):
        q = transition_stream.start_resequenced_transition_stream(
            spark, src_b, out_b, ck, schema,
            delay_us=90 * 60 * 1_000_000, max_files_per_trigger=1,
        )
        q.awaitTermination(240)

    drain()
    transition_stream.flush_resequenced(spark, out_b)
    got = {
        (r["cur"], r["nxt"]): (r["n"], r["prob"])
        for r in transition_stream.transition_report(spark, out_b).collect()
    }
    assert got == want

    # 3) fresh-checkpoint replay: every store gated, report unchanged
    drain(ck=tmp_path / "ck_reseq2")
    transition_stream.flush_resequenced(spark, out_b)
    again = {
        (r["cur"], r["nxt"]): (r["n"], r["prob"])
        for r in transition_stream.transition_report(spark, out_b).collect()
    }
    assert again == want

    # 4) restart the SAME checkpoint with a file whose user-2 event is
    # later than the delay allows (t far below the released floor):
    # dropped + counted, and the in-order user-1 continuation still
    # stitches (flush released through 3H, so floor = 3H; the new
    # max must advance for the release to cover the fresh event)
    f3 = [(6, 10 * H, 1, "click"), (7, 0 * H + 9, 2, "click")]
    _land_event_file(src_b / "f3.parquet", f3, 1_700_000_020)
    drain()
    transition_stream.flush_resequenced(spark, out_b)
    got3 = {
        (r["cur"], r["nxt"]): (r["n"], r["prob"])
        for r in transition_stream.transition_report(spark, out_b).collect()
    }
    # batch truth over everything EXCEPT the dropped-late event 7
    want3 = _expected_transitions(all_rows + [f3[0]])
    assert got3 == want3
    late_total = (
        read_batch_store(spark, Path(out_b) / "reseq" / "wm")
        .agg(F.sum("n_late").alias("s"))
        .collect()[0]["s"]
    )
    assert late_total == 1


def _land_attr_file(path, rows, mtime):
    """rows: (event_id, t_us, user_id, event_type, value)."""
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([float(r[4]) for r in rows], pa.float64()),
        }),
        str(path),
    )
    _os.utime(path, (mtime, mtime))


_ATTR_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long,"
    " event_type string, value double"
)


def test_attribution_stream_out_of_order_fails_then_resequencer_fixes(
    spark, tmp_path
):
    """VERDICT r16 #5: last-touch attribution is an as-of join —
    order-sensitive under late arrivals in a way the additive folds are
    not. Schedule: user 1's click (event-time minute 5) arrives a file
    AFTER the minute-20 purchase it should win. The PLAIN stream counts
    the purchase 'direct' before the touch exists — pinned here as the
    failing case (the documented ordering contract, made executable).
    The RESEQUENCED stream buffers behind the watermark, releases in
    event time, and (after the end-of-drain flush) equals the batch
    answer; a fresh-checkpoint replay is a no-op; a touch later than
    the delay is dropped + counted, never retro-attributed."""
    from pathlib import Path

    from data_pipeline_challenge_spark.batchstore import read_batch_store
    from data_pipeline_challenge_spark.streaming import attribution_stream

    M = 60_000_000  # one minute in micros
    f1 = [(1, 20 * M, 1, "purchase", 10.0), (2, 0, 2, "click", 0.0)]
    f2 = [(3, 5 * M, 1, "click", 0.0)]  # LATE: should win the purchase

    def report(out):
        rep = attribution_stream.attribution_report(spark, out)
        return (
            {
                (r["attributed"]): (r["n_conversions"], r["attributed_value"])
                for r in rep.collect()
            }
            if rep is not None
            else {}
        )

    want = {"click": (1, 10.0)}

    # 1) plain stream on the out-of-order schedule: WRONG (pinned)
    src_a = tmp_path / "attr_in_plain"
    src_a.mkdir()
    _land_attr_file(src_a / "f1.parquet", f1, 1_700_000_000)
    _land_attr_file(src_a / "f2.parquet", f2, 1_700_000_010)
    out_a = tmp_path / "attr_plain"
    q = start_view(
        spark, attribution_stream.VIEW, src_a, out_a, tmp_path / "ck_attr_plain",
        _ATTR_SCHEMA, max_files_per_trigger=1,
    )
    q.awaitTermination(240)
    got_plain = report(out_a)
    assert got_plain != want
    assert got_plain == {"direct": (1, 10.0)}  # counted before the touch

    # 2) resequenced, delay 30 min: equals batch truth after flush
    src_b = tmp_path / "attr_in_reseq"
    src_b.mkdir()
    _land_attr_file(src_b / "f1.parquet", f1, 1_700_000_000)
    _land_attr_file(src_b / "f2.parquet", f2, 1_700_000_010)
    out_b = tmp_path / "attr_reseq"
    ck_b = tmp_path / "ck_attr_reseq"

    def drain(ck=ck_b):
        q = attribution_stream.start_resequenced_attribution_stream(
            spark, src_b, out_b, ck, _ATTR_SCHEMA,
            delay_us=30 * M, max_files_per_trigger=1, consolidate_every=2,
        )
        q.awaitTermination(240)

    drain()
    attribution_stream.flush_resequenced(spark, out_b)
    assert report(out_b) == want

    # 3) fresh-checkpoint replay: every store gated, report unchanged
    drain(ck=tmp_path / "ck_attr_reseq2")
    attribution_stream.flush_resequenced(spark, out_b)
    assert report(out_b) == want

    # 4) restart the SAME checkpoint: an in-window touch→purchase pair
    # far ahead (released by the flush) plus a user-2 purchase far
    # BELOW the released floor — dropped + counted, never counted
    # 'direct' after the fact
    f3 = [(4, 115 * M, 1, "view", 0.0), (5, 120 * M, 1, "purchase", 5.0),
          (6, 10 * M, 2, "purchase", 3.0)]
    _land_attr_file(src_b / "f3.parquet", f3, 1_700_000_020)
    drain()
    attribution_stream.flush_resequenced(spark, out_b)
    assert report(out_b) == {"click": (1, 10.0), "view": (1, 5.0)}
    late_total = (
        read_batch_store(spark, Path(out_b) / "reseq" / "wm")
        .agg(F.sum("n_late").alias("s"))
        .collect()[0]["s"]
    )
    assert late_total == 1

    # 5) offline compaction: report unchanged, attrib collapses to one
    # row per attributed type, frontier to one row per user
    before = report(out_b)
    compact_view(spark, attribution_stream.VIEW, out_b)
    assert report(out_b) == before
    assert read_batch_store(spark, Path(out_b) / "attrib").count() == len(before)
    fr = read_batch_store(spark, Path(out_b) / "frontier").collect()
    assert len(fr) == len({r["user_id"] for r in fr})

    # 6) the lookback is pinned: counts are irreversible aggregates, so
    # a restart with a different window must refuse, not silently mix
    # attribution regimes in one report
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="layout parameters"):
        attribution_stream.fold_batch(
            spark, out_b,
            spark.createDataFrame(
                [(99, 1, "purchase", 1.0, 1)],
                "event_id long, user_id long, event_type string,"
                " value double, t_us long",
            ),
            99,
            lookback_us=60_000_000,
        )


def test_attribution_stream_equals_declared_query_on_real_events(
    spark, tmp_path
):
    """Stream==batch on real events: folding the sf0.001 events table —
    whole, and split into two event-time halves (the frontier actually
    stitches) — must reproduce the DECLARED (oracle-checked)
    events_attribution_last_touch exactly, column for column."""
    from data_pipeline_challenge_spark.catalog import load_events, ts_epoch_us
    from data_pipeline_challenge_spark.plans import all_queries
    from data_pipeline_challenge_spark.streaming.attribution_stream import (
        attribution_report,
        fold_batch,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_events(spark, sf)
    ev = ev.withColumn("t_us", ts_epoch_us(ev, "ts"))
    declared = sorted(
        map(
            tuple,
            all_queries()["events_attribution_last_touch"]
            .fn(spark, sf)
            .collect(),
        )
    )

    # whole table as one batch
    one = tmp_path / "attr_real_one"
    fold_batch(spark, one, ev, 0)
    assert sorted(map(tuple, attribution_report(spark, one).collect())) == declared

    # two event-time halves: conversions in the second half must win
    # touches carried over the batch boundary by the frontier
    cut = ev.approxQuantile("t_us", [0.5], 0.0)[0]
    two = tmp_path / "attr_real_two"
    fold_batch(spark, two, ev.filter(F.col("t_us") <= cut), 0)
    fold_batch(spark, two, ev.filter(F.col("t_us") > cut), 1)
    assert sorted(map(tuple, attribution_report(spark, two).collect())) == declared
    # crash-replay of the LAST batch (attrib written, frontier present —
    # the committed case) is a no-op
    fold_batch(spark, two, ev.filter(F.col("t_us") > cut), 1)
    assert sorted(map(tuple, attribution_report(spark, two).collect())) == declared


def test_retention_stream_equals_batch_and_replay(spark, tmp_path):
    """Maintained retention cohorts: drained over three files the
    day-granular report must match the hand-computed cohort matrix —
    the activity set is the sufficient statistic and distinct sets
    merge by union. A late batch carrying an EARLIER day for a known
    user must move that user's cohort day back (min is associative).
    The weekly view (days_per_bucket=7) must equal the DECLARED
    events_retention_weekly query over the same landed events. Replay
    no-op; compaction collapses to the exact distinct set."""
    from pathlib import Path

    from data_pipeline_challenge_spark.batchstore import read_batch_store
    from data_pipeline_challenge_spark.streaming import retention_stream

    D = 86_400_000_000  # one day in micros
    schema = "event_id long, ts timestamp_ntz, user_id long, event_type string"
    src = tmp_path / "ret_in"
    src.mkdir()
    f1 = [(1, 2 * D, 1, "view"), (2, 2 * D + 5, 1, "view"), (3, 2 * D, 2, "view")]
    f2 = [(4, 3 * D, 1, "click"), (5, 5 * D, 2, "buy")]
    f3 = [(6, 0 * D + 7, 1, "view")]  # user 1 was ALREADY active on day 0
    for name, rows, mt in (("f1", f1, 0), ("f2", f2, 10), ("f3", f3, 20)):
        _land_event_file(src / f"{name}.parquet", rows, 1_700_000_000 + mt)

    out = tmp_path / "ret"
    q = start_view(
        spark, retention_stream.VIEW, src, out, tmp_path / "ck_ret", schema,
        max_files_per_trigger=1,
    )
    q.awaitTermination(240)

    def report():
        return sorted(
            map(tuple, retention_stream.retention_report(spark, out).collect())
        )

    got = report()
    # batch truth: user 1 active days {0,2,3} -> cohort 0, offsets 0,2,3;
    # user 2 days {2,5} -> cohort 2, offsets 0,3
    want = sorted([(0, 0, 1), (0, 2, 1), (0, 3, 1), (2, 0, 1), (2, 3, 1)])
    assert got == want

    # replay of a committed batch id: no-op
    late = spark.createDataFrame([(99, None, 3, "view")], schema).filter(
        F.col("event_id") < 0
    )
    retention_stream.fold_batch(spark, out, late, 0)
    assert report() == got

    # compaction: exact distinct activity set, report unchanged
    compact_view(spark, retention_stream.VIEW, out)
    assert read_batch_store(spark, Path(out) / "act").count() == 5
    assert report() == got

    # weekly view == the DECLARED events_retention_weekly query over
    # the same landed events (read through load_events' ts handling)
    from data_pipeline_challenge_spark.plans import all_queries

    declared = sorted(
        map(
            tuple,
            all_queries()["events_retention_weekly"]
            .fn(spark, "/root/testdata/sf0.001")
            .collect(),
        )
    )
    wk_out = tmp_path / "ret_wk"
    from data_pipeline_challenge_spark.catalog import load_events

    # rebuild the stream schema's NTZ ts from the epoch nanos — pure
    # arithmetic on an NTZ literal, session-timezone-proof
    ntz_ts = F.expr(
        "timestampadd(MICROSECOND, ts_ns div 1000,"
        " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
    )
    retention_stream.fold_batch(
        spark,
        wk_out,
        load_events(spark, "/root/testdata/sf0.001").select(
            "user_id", ntz_ts.alias("ts")
        ),
        0,
    )
    weekly = sorted(
        map(
            tuple,
            retention_stream.retention_report(
                spark, wk_out, days_per_bucket=7
            ).collect(),
        )
    )
    assert weekly == declared


def test_paths_stream_equals_batch_and_replay(spark, tmp_path):
    """Maintained daily-path prefixes: a user-day's first-3 events can
    arrive across batches AND out of order (a later file carrying the
    EARLIEST event of an already-seen user-day must displace the
    provisional third slot) — top3(A ∪ B) == top3(top3(A) ∪ top3(B)).
    The drained report must equal the declared events_top_daily_paths
    arithmetic over the concatenated input; replay no-op; compaction
    collapses to <= 3 rows per user-day."""
    from pathlib import Path

    from data_pipeline_challenge_spark.batchstore import read_batch_store
    from data_pipeline_challenge_spark.streaming import paths_stream

    H = 3_600_000_000
    schema = "event_id long, ts timestamp_ntz, user_id long, event_type string"
    src = tmp_path / "paths_in"
    src.mkdir()
    # user 1, day 0: events at hours 3,4 land first; hour 1 lands LAST
    # (out of order) and must become the path head. user 2 day 0 has
    # exactly 2 events split across files; user 1 day 1 has 4 (only
    # first 3 count).
    f1 = [(1, 3 * H, 1, "view"), (2, 4 * H, 1, "buy"),
          (3, 2 * H, 2, "click")]
    f2 = [(4, 5 * H, 1, "click"), (5, 30 * H, 1, "view"),
          (6, 31 * H, 1, "view"), (7, 6 * H, 2, "buy")]
    f3 = [(8, 1 * H, 1, "click"), (9, 32 * H, 1, "buy"),
          (10, 33 * H, 1, "click")]
    all_rows = f1 + f2 + f3
    for name, rows, mt in (("f1", f1, 0), ("f2", f2, 10), ("f3", f3, 20)):
        _land_event_file(src / f"{name}.parquet", rows, 1_700_000_000 + mt)

    out = tmp_path / "paths"
    q = start_view(
        spark, paths_stream.VIEW, src, out, tmp_path / "ck_paths", schema,
        max_files_per_trigger=1,
    )
    q.awaitTermination(240)

    def report():
        return [
            (r["path"], r["n_user_days"])
            for r in paths_stream.paths_report(spark, out).collect()
        ]

    got = report()
    # truth: u1d0 first-3 = click@1,view@3,buy@4 -> click>view>buy
    #        u1d1 first-3 of view@30,view@31,buy@32,(click@33 dropped)
    #        u2d0 = click@2,buy@6 (2-step path)
    want = sorted(
        [("click>view>buy", 1), ("view>view>buy", 1), ("click>buy", 1)],
        key=lambda r: (-r[1], r[0]),
    )
    assert got == want

    # replay of a committed batch id: no-op
    extra = spark.createDataFrame(
        [(99, None, 3, "view")], schema
    ).filter(F.col("event_id") < 0)
    paths_stream.fold_batch(spark, out, extra, 0)
    assert report() == got

    # compaction: <= 3 rows per user-day (u1d0:3, u1d1:3, u2d0:2)
    compact_view(spark, paths_stream.VIEW, out)
    assert read_batch_store(spark, Path(out) / "prefix").count() == 8
    assert report() == got

    # real-data parity: one fold of sf0.001 == the DECLARED query
    from data_pipeline_challenge_spark.catalog import load_events
    from data_pipeline_challenge_spark.plans import all_queries

    ntz_ts = F.expr(
        "timestampadd(MICROSECOND, ts_ns div 1000,"
        " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
    )
    real_out = tmp_path / "paths_real"
    paths_stream.fold_batch(
        spark,
        real_out,
        load_events(spark, "/root/testdata/sf0.001").select(
            "event_id", "user_id", "event_type", ntz_ts.alias("ts")
        ),
        0,
    )
    declared = [
        (r["path"], r["n_user_days"])
        for r in all_queries()["events_top_daily_paths"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    ]
    maintained = [
        (r["path"], r["n_user_days"])
        for r in paths_stream.paths_report(spark, real_out).collect()
    ]
    assert maintained == declared


def test_kmv_stream_equals_batch_and_replay(spark, tmp_path):
    """Maintained KMV sketch: drained over three files (grouped by src),
    the report must equal the batch estimator over the concatenated
    input exactly — bottom-k sets merge by union-then-rekeep.
    Replaying a folded batch id is a no-op; compaction collapses the
    store to <= k rows per group with the report unchanged."""
    import os as _os
    from pathlib import Path

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_challenge_spark.batchstore import read_batch_store
    from data_pipeline_challenge_spark.operators.sketches import (
        kmv_bottom_hashes,
        kmv_estimate,
    )
    from data_pipeline_challenge_spark.streaming import kmv_stream

    corpus = tmp_path / "kmv_in"
    corpus.mkdir()
    srcs = ["web", "book"]
    all_rows = []
    mtime = 1_700_000_000
    for b in range(3):
        rows = [
            (srcs[(i + b) % 2], f"item-{(i * 7 + b * 3) % 97}")
            for i in range(60 + 10 * b)
        ]
        all_rows += rows
        p = corpus / f"b{b}.parquet"
        pq.write_table(
            pa.table({"src": pa.array([r[0] for r in rows]),
                      "item": pa.array([r[1] for r in rows])}),
            str(p),
        )
        mtime += 10
        _os.utime(p, (mtime, mtime))

    out = tmp_path / "kmv"
    k = 16  # well under the 97-item universe: the estimator path
    q = start_view(
        spark, kmv_stream.VIEW, corpus, out, tmp_path / "ck_kmv",
        "src string, item string", item_col="item", k=k, group_cols=["src"],
        max_files_per_trigger=1,
    )
    q.awaitTermination(240)

    def report():
        return {
            (r["src"],): (r["n_hashes"], r["kth"], r["est"])
            for r in kmv_stream.kmv_report(spark, out).collect()
        }

    got = report()
    batch = spark.createDataFrame(all_rows, "src string, item string")
    want = {
        (r["src"],): (r["n_hashes"], r["kth"], r["est"])
        for r in kmv_estimate(
            kmv_bottom_hashes(batch, "item", k, group_cols=["src"]),
            k,
            group_cols=["src"],
        ).collect()
    }
    assert got == want
    assert all(n == k for (n, _, _) in got.values())  # estimator path

    # replay: an already-committed batch id is a no-op
    extra = spark.createDataFrame([("web", "zz-new")] * 5, "src string, item string")
    kmv_stream.fold_batch(spark, out, extra, 0, "item", k=k, group_cols=["src"])
    assert report() == got

    # compaction: <= k rows per group, report unchanged
    pre = read_batch_store(spark, Path(out) / "hashes").count()
    assert pre > 2 * k
    compact_view(spark, kmv_stream.VIEW, out)
    post = read_batch_store(spark, Path(out) / "hashes").count()
    assert post <= 2 * k
    assert report() == got

    # set operations served OFF the maintained store (r16): identical
    # to the batch kmv_pairwise_setops over the concatenated input
    from data_pipeline_challenge_spark.operators.sketches import (
        kmv_pairwise_setops,
    )

    maintained_ops = sorted(
        map(tuple, kmv_stream.kmv_setops_report(spark, out).collect())
    )
    batch_ops = sorted(
        map(
            tuple,
            kmv_pairwise_setops(
                kmv_bottom_hashes(batch, "item", k, group_cols=["src"]),
                "src",
                k=k,
            ).collect(),
        )
    )
    assert maintained_ops == batch_ops and len(maintained_ops) == 1


def test_wm_store_collapses_to_one_row(spark, tmp_path):
    """The resequencer wm store's consolidation transform must collapse
    to exactly ONE row (maxes + n_late sum preserved) with the state
    and replay guard unchanged — the per-batch _wm_state scan stays
    O(1) at any stream age."""
    from pathlib import Path

    from data_pipeline_challenge_spark.batchstore import (
        consolidate_batch_store,
        last_batch_id,
        read_batch_store,
    )
    from data_pipeline_challenge_spark.catalog import ntz_epoch_us
    from data_pipeline_challenge_spark.streaming.resequence import (
        _wm_state,
        reseq_fold,
        wm_collapse,
    )

    H = 3_600_000_000
    rdir = tmp_path / "reseq_wm"
    folded = []

    def fold(released, fid):
        folded.append((fid, released.count()))

    import datetime as dt

    schema = "event_id long, ts timestamp_ntz, user_id long, event_type string"
    for i, t_h in enumerate((4, 8, 12)):
        df = spark.createDataFrame(
            [(i + 1, dt.datetime(1970, 1, 1) + dt.timedelta(hours=t_h), 1, "view")],
            schema,
        ).withColumn("t_us", ntz_epoch_us(F.col("ts")))
        reseq_fold(spark, rdir, df, i, fold, delay_us=2 * H)

    wm = Path(rdir) / "wm"
    before_state = _wm_state(spark, wm)
    before_late = read_batch_store(spark, wm).agg(F.sum("n_late")).collect()[0][0]
    before_last = last_batch_id(wm)
    assert read_batch_store(spark, wm).count() == 3

    consolidate_batch_store(spark, wm, transform=wm_collapse)
    assert read_batch_store(spark, wm).count() == 1
    assert _wm_state(spark, wm) == before_state
    assert read_batch_store(spark, wm).agg(F.sum("n_late")).collect()[0][0] == before_late
    assert last_batch_id(wm) == before_last  # the marker preserves it


def test_flush_crash_recovery_no_double_fold(spark, tmp_path):
    """A flush that crashed AFTER its downstream fold but BEFORE its
    floor commit must not double-fold when the stream restarts: the
    write-ahead intent makes the next fold COMPLETE the flush (same
    slab, same gated downstream id, then the floor commit) instead of
    re-releasing the already-folded slab at a fresh id (self-review
    r15)."""
    import json
    from pathlib import Path

    from data_pipeline_challenge_spark.catalog import ntz_epoch_us
    from data_pipeline_challenge_spark.streaming import transition_stream
    from data_pipeline_challenge_spark.streaming.resequence import (
        _INTENT,
        _wm_state,
        _write_intent,
        reseq_fold,
    )
    from data_pipeline_challenge_spark.batchstore import (
        last_batch_id,
        read_batch_store,
    )

    H = 3_600_000_000
    out = tmp_path / "trans_crash"
    rdir = out / "reseq"
    schema = "event_id long, ts timestamp_ntz, user_id long, event_type string"

    def fold(released, fid):
        # resequencer-fed: doubled downstream ids are non-contiguous by
        # design, exactly like the production wrappers
        transition_stream.fold_batch(
            spark, out, released.drop("t_us"), fid, sequential=False
        )

    def batch_df(rows):
        import datetime as dt

        return spark.createDataFrame(
            [(e, dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=t), u, ty)
             for e, t, u, ty in rows],
            schema,
        ).withColumn("t_us", ntz_epoch_us(F.col("ts")))

    b0 = [(1, 0 * H, 1, "view"), (2, 4 * H, 1, "click")]
    b1 = [(3, 8 * H, 1, "buy")]
    reseq_fold(spark, rdir, batch_df(b0), 0, fold, delay_us=2 * H)
    reseq_fold(spark, rdir, batch_df(b1), 1, fold, delay_us=2 * H)

    # simulate flush crashing after its downstream fold, before the
    # floor commit: do exactly what flush does up to the crash point
    prev_max, prev_floor = _wm_state(spark, rdir / "wm")
    lo = prev_floor
    latest = last_batch_id(rdir / "wm")
    fold_id = 2 * latest + 1
    _write_intent(rdir, {"lo": int(lo), "fold_id": fold_id, "floor": int(prev_max)})
    release = read_batch_store(spark, rdir / "buffer").filter(F.col("t_us") > lo)
    fold(release.drop("ingest_batch"), fold_id)
    assert (Path(rdir) / _INTENT).exists()  # the crash window

    # restart: a new batch arrives; the fold must first COMPLETE the
    # flush (no re-release of the flushed slab at a fresh id)
    b2 = [(4, 12 * H, 1, "view")]
    reseq_fold(spark, rdir, batch_df(b2), 2, fold, delay_us=2 * H)
    assert not (Path(rdir) / _INTENT).exists()  # recovery ran
    transition_stream.flush_resequenced(spark, out)

    got = {
        (r["cur"], r["nxt"]): r["n"]
        for r in transition_stream.transition_report(spark, out).collect()
    }
    # truth over ALL events (nothing late here): view>click>buy>view
    assert got == {("view", "click"): 1, ("click", "buy"): 1, ("buy", "view"): 1}


def test_transition_compaction_collapses_frontier_and_prunes_buffer(
    spark, tmp_path
):
    """Fold-time transforms (ADVICE r14): compacting the transition
    store must materialize ONE frontier row per ever-touched user (not
    every batch's appends), and compacting the resequencer buffer must
    drop rows at-or-below the released floor — in both cases with the
    report unchanged."""
    from pathlib import Path

    from data_pipeline_challenge_spark.batchstore import (
        consolidate_batch_store,
        read_batch_store,
    )
    from data_pipeline_challenge_spark.streaming import transition_stream
    from data_pipeline_challenge_spark.streaming.resequence import (
        buffer_prune_transform,
    )

    H = 3_600_000_000
    out = tmp_path / "trans_c"
    schema = "event_id long, ts timestamp_ntz, user_id long, event_type string"
    src = tmp_path / "ev_c"
    src.mkdir()
    # user 1 touched in all three batches, user 2 in two
    _land_event_file(src / "f0.parquet",
                     [(1, 0 * H, 1, "click"), (2, 0 * H + 1, 2, "view")],
                     1_700_000_000)
    _land_event_file(src / "f1.parquet",
                     [(3, 1 * H, 1, "view"), (4, 1 * H + 1, 2, "buy")],
                     1_700_000_010)
    _land_event_file(src / "f2.parquet", [(5, 2 * H, 1, "buy")],
                     1_700_000_020)
    q = transition_stream.start_resequenced_transition_stream(
        spark, src, out, tmp_path / "ck_c", schema,
        delay_us=30 * 60 * 1_000_000, max_files_per_trigger=1,
    )
    q.awaitTermination(240)
    transition_stream.flush_resequenced(spark, out)
    before = {
        (r["cur"], r["nxt"]): (r["n"], r["prob"])
        for r in transition_stream.transition_report(spark, out).collect()
    }

    # frontier: multiple appends per user before compaction, exactly
    # one resolved row per user after
    frontier = Path(out) / "frontier"
    pre_rows = read_batch_store(spark, frontier).count()
    assert pre_rows > 2
    compact_view(spark, transition_stream.VIEW, out)
    post = read_batch_store(spark, frontier).drop("ingest_batch").collect()
    assert len(post) == 2
    assert {(r["user_id"], r["event_type"]) for r in post} == {
        (1, "buy"), (2, "buy")
    }

    # buffer: everything is at-or-below the flushed floor -> prunes away
    buffer = Path(out) / "reseq" / "buffer"
    assert read_batch_store(spark, buffer).count() == 5
    consolidate_batch_store(
        spark, buffer,
        transform=buffer_prune_transform(spark, Path(out) / "reseq"),
    )
    assert read_batch_store(spark, buffer).count() == 0

    after = {
        (r["cur"], r["nxt"]): (r["n"], r["prob"])
        for r in transition_stream.transition_report(spark, out).collect()
    }
    assert after == before


def test_gapfill_interp_over_maintained_rollup_equals_batch(spark, tmp_path):
    """gapfill_interp is the forward-frontier sibling of gapfill_locf:
    applied to the maintained rollup store it must equal the same view
    over the one-shot batch rollup — across a restart with new data and
    a crash-replayed batch id — and its fill semantics are pinned on a
    crafted frame (interior gaps take the line between neighbors,
    leading/trailing gaps the nearest observation). On grid-valued
    events it must also reproduce the DECLARED
    events_gapfill_hourly_interp query's output exactly, proving the
    maintained twin serves the same answer as the batch query."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_challenge_spark.operators.rollup import (
        gapfill_interp,
        hourly_rollup,
    )
    from data_pipeline_challenge_spark.streaming.rollup_stream import (
        current_rollup,
        start_rollup_stream,
    )

    # crafted semantics: type a active hours 0 (100c) and 4 (30c) ->
    # hours 1..3 on the line 1.00 -> 0.30; type b leading gap before
    # its only observation carries it backward
    crafted = spark.createDataFrame(
        [(0, "a", 2, 100, 0.5, 1.0), (4, "a", 3, 30, 0.1, 0.2),
         (7, "b", 1, 70, 0.7, 0.7), (5, "b", 0, None, None, None)],
        "bucket_hr long, event_type string, n_events long, sum_cents long,"
        " min_value double, max_value double",
    )
    got = {
        (r["event_type"], r["bucket_hr"]): (
            r["n_events"], r["sum_value_interp"], r["gap_filled"]
        )
        for r in gapfill_interp(crafted).collect()
    }
    assert got[("a", 1)] == (0, 0.825, True)
    assert got[("a", 2)] == (0, 0.65, True)
    assert got[("a", 3)] == (0, 0.475, True)
    assert got[("a", 0)] == (2, 1.0, False)
    assert got[("a", 4)] == (3, 0.3, False)
    # b's bucket 5 row has NULL sum_cents (observed row, no measurable
    # sum) -> treated as a gap; backward fill from bucket 7
    assert got[("b", 5)] == (0, 0.7, True)
    assert got[("b", 6)] == (0, 0.7, True)
    assert got[("b", 7)] == (1, 0.7, False)

    # stream==batch over the maintained store
    src = tmp_path / "interp_src"
    src.mkdir()
    H = 3_600_000_000  # one hour in micros

    def land(name, rows):
        ids, us, types, vals = zip(*rows)
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(ids, pa.int64()),
                    "ts": pa.array(us, pa.timestamp("us")),
                    "user_id": pa.array([1] * len(rows), pa.int64()),
                    "event_type": pa.array(types),
                    "value": pa.array(vals),
                    "props": pa.array(["{}"] * len(rows)),
                }
            ),
            str(src / name),
        )

    land("f1.parquet", [(1, 0, "click", 1.0), (2, 1 * H // 2, "click", 2.0),
                        (3, 2 * H, "view", 3.0)])
    land("f2.parquet", [(4, 5 * H + 5, "click", 0.5), (5, 3 * H, "view", 1.5)])

    rdir = tmp_path / "interp_rollup"
    ckpt = tmp_path / "interp_ck"

    def run(ck=ckpt):
        q = start_rollup_stream(spark, src, rdir, ck, max_files_per_trigger=1)
        q.awaitTermination(240)

    run()
    from data_pipeline_challenge_spark.catalog import ntz_epoch_us

    def batch_view():
        all_ev = spark.read.parquet(str(src)).withColumn(
            "ts_ns", ntz_epoch_us(F.col("ts")) * F.lit(1000)
        )
        return sorted(map(tuple, gapfill_interp(hourly_rollup(all_ev)).collect()))

    maintained = sorted(map(tuple, gapfill_interp(current_rollup(spark, rdir)).collect()))
    assert maintained == batch_view()
    # click hours 1..4 really are interpolated interior rows
    click = {r[1]: r for r in maintained if r[0] == "click"}
    assert set(click) == {0, 1, 2, 3, 4, 5}
    assert click[3][4] is True and click[0][4] is False

    # restart with a third file: maintained still equals full recompute
    land("f3.parquet", [(6, 7 * H, "click", 4.0)])
    run()
    after = sorted(map(tuple, gapfill_interp(current_rollup(spark, rdir)).collect()))
    assert after == batch_view()

    # crash-replay: a fresh checkpoint re-feeds everything as batch 0,
    # which the versioned sink must skip — the view is unchanged
    run(ck=tmp_path / "interp_ck2")
    assert sorted(
        map(tuple, gapfill_interp(current_rollup(spark, rdir)).collect())
    ) == after

    # declared-query parity on grid-valued real events: the maintained
    # twin's view == events_gapfill_hourly_interp's batch answer
    from data_pipeline_challenge_spark.catalog import load_events
    from data_pipeline_challenge_spark.plans import all_queries

    sf = "/root/testdata/sf0.001"
    declared = {
        (r["event_type"], r["hour_s"]): (r["sum_value_interp"], r["gap_filled"])
        for r in all_queries()["events_gapfill_hourly_interp"].fn(spark, sf).collect()
    }
    view = {
        (r["event_type"], r["bucket_hr"] * 3600): (
            r["sum_value_interp"], r["gap_filled"]
        )
        for r in gapfill_interp(hourly_rollup(load_events(spark, sf))).collect()
    }
    assert view == declared


def test_trend_view_over_maintained_rollup_equals_batch(spark, tmp_path):
    """VERDICT r15 #7: the repeated-median trend served OFF THE
    MAINTAINED hourly rollup store (operators/rollup.
    trend_repeated_median) must equal the same view over the one-shot
    batch rollup — across a restart with new data and a crash-replayed
    batch id — and must reproduce the DECLARED
    events_trend_theil_sen_repeated_median query's output exactly on
    grid-valued real events (sum_cents/100.0 == round(sum(value), 2)
    for 2dp metrics — the gapfill_interp precedent)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_challenge_spark.operators.rollup import (
        hourly_rollup,
        trend_repeated_median,
    )
    from data_pipeline_challenge_spark.streaming.rollup_stream import (
        current_rollup,
        start_rollup_stream,
    )

    src = tmp_path / "trend_src"
    src.mkdir()
    H = 3_600_000_000  # one hour in micros

    def land(name, rows):
        ids, us, types, vals = zip(*rows)
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(ids, pa.int64()),
                    "ts": pa.array(us, pa.timestamp("us")),
                    "user_id": pa.array([1] * len(rows), pa.int64()),
                    "event_type": pa.array(types),
                    "value": pa.array(vals),
                    "props": pa.array(["{}"] * len(rows)),
                }
            ),
            str(src / name),
        )

    # click: rising trend with one outlier hour (the robustness case);
    # view: two points only; all values on the 2dp grid
    land("f1.parquet", [(1, 0, "click", 1.25), (2, 1 * H, "click", 2.5),
                        (3, 2 * H, "click", 99.75), (4, 0, "view", 3.0)])
    land("f2.parquet", [(5, 3 * H, "click", 4.75), (6, 4 * H, "click", 6.0),
                        (7, 5 * H, "view", 8.25)])

    rdir = tmp_path / "trend_rollup"
    ckpt = tmp_path / "trend_ck"

    def run(ck=ckpt):
        q = start_rollup_stream(spark, src, rdir, ck, max_files_per_trigger=1)
        q.awaitTermination(240)

    run()
    from data_pipeline_challenge_spark.catalog import ntz_epoch_us

    def batch_view():
        all_ev = spark.read.parquet(str(src)).withColumn(
            "ts_ns", ntz_epoch_us(F.col("ts")) * F.lit(1000)
        )
        return sorted(
            map(tuple, trend_repeated_median(hourly_rollup(all_ev)).collect())
        )

    maintained = sorted(
        map(tuple, trend_repeated_median(current_rollup(spark, rdir)).collect())
    )
    assert maintained == batch_view()
    by_type = {t[0]: t for t in maintained}
    # the outlier hour cannot drag the click trend to the ~20/hr a mean
    # fit would report; the repeated median stays near the clean slope
    assert by_type["click"][2] == 5  # n_points
    assert 0 < by_type["click"][1] < 5.0

    # restart with a third file: maintained still equals full recompute
    land("f3.parquet", [(8, 6 * H, "click", 7.25), (9, 7 * H, "view", 1.5)])
    run()
    assert sorted(
        map(tuple, trend_repeated_median(current_rollup(spark, rdir)).collect())
    ) == batch_view()

    # crash-replay: a fresh checkpoint re-feeds everything as batch 0;
    # the versioned sink skips it and the view is unchanged
    run(ck=tmp_path / "trend_ck2")
    assert sorted(
        map(tuple, trend_repeated_median(current_rollup(spark, rdir)).collect())
    ) == batch_view()

    # declared-query parity on grid-valued real events
    from data_pipeline_challenge_spark.catalog import load_events
    from data_pipeline_challenge_spark.plans import all_queries

    sf = "/root/testdata/sf0.001"
    declared = sorted(
        map(
            tuple,
            all_queries()["events_trend_theil_sen_repeated_median"]
            .fn(spark, sf)
            .collect(),
        )
    )
    view = sorted(
        map(
            tuple,
            trend_repeated_median(hourly_rollup(load_events(spark, sf))).collect(),
        )
    )
    assert view == declared


def test_hybrid_indexed_excludes_revoked_docs(spark, tmp_path):
    """A doc revoked from the maintained retrieval store must vanish
    from HYBRID results even when the persisted ANN index (which has no
    revocation concept) still ranks its embedding — revoked ⇒
    unservable through every serving path."""
    import math

    from data_pipeline_challenge_spark.operators.similarity import ivf_build_index
    from data_pipeline_challenge_spark.streaming.retrieval_stream import (
        fold_batch,
        hybrid_search_indexed,
        revoke_docs,
    )

    terms = ["alpha", "gamma"]
    docs = spark.createDataFrame(
        [(i, "alpha gamma filler" if i % 2 == 0 else "beta delta word")
         for i in range(20)],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [(i, [math.cos(0.3 * i + d) for d in range(6)]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    idx = tmp_path / "bm25_idx"
    ann = tmp_path / "ann_idx"
    fold_batch(spark, idx, docs, 0, "doc_id", "text")
    ivf_build_index(emb, ann, n_clusters=2)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding")

    before = hybrid_search_indexed(
        spark, idx, terms, ann, qvec, k=20, depth=20, ann_probe="ivf", n_probe=2
    ).collect()
    # pick a victim that is served through BOTH lists
    victim = next(
        r["doc_id"] for r in before
        if r["rank_1"] is not None and r["rank_2"] is not None and r["doc_id"] != 0
    )
    revoke_docs(spark, idx, spark.createDataFrame([(victim,)], "doc_id long"))

    after = hybrid_search_indexed(
        spark, idx, terms, ann, qvec, k=20, depth=20, ann_probe="ivf", n_probe=2
    ).collect()
    assert victim in {r["doc_id"] for r in before}
    assert victim not in {r["doc_id"] for r in after}
    # and the survivors still carry both-list ranks (the anti-join did
    # not blank the ANN side wholesale)
    assert any(r["rank_2"] is not None for r in after)


def test_cms_stream_equals_batch_and_replay(spark, tmp_path):
    """Maintained CMS: cells add, so estimates over the incrementally-
    folded store equal the batch sketch over the concatenated input —
    exactly, not approximately (the sketches are identical cell tables).
    Also: a replayed batch id is a no-op (last-id guard), and every
    estimate is >= the exact count (the CMS one-sided error contract)."""
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_challenge_spark.operators.sketches import (
        cms_cells,
        cms_estimate,
    )
    from data_pipeline_challenge_spark.streaming import cms_stream

    corpus = tmp_path / "in"
    corpus.mkdir()
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    all_terms = []
    mtime = 1_700_000_000
    for b in range(3):
        terms = [words[(i * 3 + b) % len(words)] for i in range(50 + 10 * b)]
        all_terms += terms
        p = corpus / f"b{b}.parquet"
        pq.write_table(pa.table({"term": pa.array(terms)}), str(p))
        mtime += 10
        _os.utime(p, (mtime, mtime))

    out = tmp_path / "cms"
    q = start_view(
        spark, cms_stream.VIEW, corpus, out, tmp_path / "ck", "term string",
        item_col="term", max_files_per_trigger=1,
    )
    q.awaitTermination(240)

    probes = spark.createDataFrame(
        [(w,) for w in words + ["missing_term"]], "item string"
    )
    got = {
        r["item"]: r["est"]
        for r in cms_stream.cms_report(spark, out, probes).collect()
    }
    batch = spark.createDataFrame([(t,) for t in all_terms], "term string")
    want = {
        r["item"]: r["est"]
        for r in cms_estimate(cms_cells(batch, "term"), probes, "item").collect()
    }
    assert got == want
    from collections import Counter

    exact = Counter(all_terms)
    for w in words:
        assert got[w] >= exact[w]
    assert got["missing_term"] >= 0

    # crash-replay: re-folding an already-committed batch id is a no-op
    extra = spark.createDataFrame([("alpha",)] * 100, "term string")
    cms_stream.fold_batch(spark, out, extra, 0, "term")
    again = {
        r["item"]: r["est"]
        for r in cms_stream.cms_report(spark, out, probes).collect()
    }
    assert again == got
    # a GAPPED batch id is refused (r18 sequential guard)...
    with pytest.raises(RuntimeError, match="batch numbering"):
        cms_stream.fold_batch(spark, out, extra, 99, "term")
    # ...and the NEXT batch id does fold
    cms_stream.fold_batch(spark, out, extra, 3, "term")
    bumped = {
        r["item"]: r["est"]
        for r in cms_stream.cms_report(spark, out, probes).collect()
    }
    assert bumped["alpha"] == got["alpha"] + 100


def test_cms_stream_grouped_equals_batch(spark, tmp_path):
    """Grouped maintained CMS: per-group sketches folded incrementally
    equal the batch grouped sketch over the concatenated input — and the
    report resolves the pinned group columns from the store, so probes
    are matched against their own group's cells."""
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_challenge_spark.operators.sketches import (
        cms_cells,
        cms_estimate,
    )
    from data_pipeline_challenge_spark.streaming import cms_stream

    corpus = tmp_path / "in"
    corpus.mkdir()
    words = ["alpha", "beta", "gamma"]
    srcs = ["web", "book"]
    all_rows = []
    mtime = 1_700_000_000
    for b in range(2):
        rows = [
            (srcs[(i + b) % 2], words[i % 3])
            for i in range(30 + 5 * b)
        ]
        all_rows += rows
        p = corpus / f"b{b}.parquet"
        pq.write_table(
            pa.table({"src": pa.array([r[0] for r in rows]),
                      "term": pa.array([r[1] for r in rows])}),
            str(p),
        )
        mtime += 10
        _os.utime(p, (mtime, mtime))

    out = tmp_path / "cms_grouped"
    q = start_view(
        spark, cms_stream.VIEW, corpus, out, tmp_path / "ck", "src string, term string",
        item_col="term", group_cols=["src"], max_files_per_trigger=1,
    )
    q.awaitTermination(240)

    probes = spark.createDataFrame(
        [(s, w) for s in srcs for w in words + ["missing"]],
        "src string, item string",
    )
    got = {
        (r["src"], r["item"]): r["est"]
        for r in cms_stream.cms_report(spark, out, probes).collect()
    }
    batch = spark.createDataFrame(all_rows, "src string, term string")
    want = {
        (r["src"], r["item"]): r["est"]
        for r in cms_estimate(
            cms_cells(batch, "term", group_cols=["src"]),
            probes, "item", group_cols=["src"],
        ).collect()
    }
    assert got == want
    from collections import Counter

    exact = Counter(all_rows)
    for s in srcs:
        for w in words:
            assert got[(s, w)] >= exact[(s, w)]


def test_transition_stream_equals_batch_and_replay(spark, tmp_path):
    """Maintained transition matrix with CROSS-BATCH stitching: drained
    over three files, the report must equal the batch
    events_type_transition_matrix arithmetic over the concatenated
    input — boundary transitions (a user's last event in one batch ->
    first in the next) must be counted exactly once. Replaying a folded
    batch id is a no-op."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import os as _os

    from data_pipeline_challenge_spark.streaming import transition_stream

    corpus = tmp_path / "ev_in"
    corpus.mkdir()
    types = ["click", "view", "buy"]
    # users 1..3; events interleaved so every file cuts sequences mid-user
    all_rows = []
    eid = 0
    mtime = 1_700_000_000
    H = 1_000_000
    for b in range(3):
        rows = []
        for i in range(12):
            eid += 1
            rows.append((eid, (b * 12 + i) * H, (i % 3) + 1, types[(eid * 7) % 3]))
        all_rows += rows
        p = corpus / f"b{b}.parquet"
        pq.write_table(
            pa.table({
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows]),
            }),
            str(p),
        )
        mtime += 10
        _os.utime(p, (mtime, mtime))

    out = tmp_path / "trans"
    q = start_view(
        spark, transition_stream.VIEW, corpus, out, tmp_path / "ck",
        "event_id long, ts timestamp_ntz, user_id long, event_type string",
        max_files_per_trigger=1,
    )
    q.awaitTermination(240)

    got = {
        (r["cur"], r["nxt"]): (r["n"], r["prob"])
        for r in transition_stream.transition_report(spark, out).collect()
    }

    # independent expected: per-user full sequences in (ts, event_id) order
    from collections import Counter, defaultdict

    seqs = defaultdict(list)
    for eid_, t, u, ty in sorted(all_rows, key=lambda r: (r[1], r[0])):
        seqs[u].append(ty)
    pairs = Counter()
    for u, s in seqs.items():
        for a, b2 in zip(s, s[1:]):
            pairs[(a, b2)] += 1
    totals = Counter()
    for (a, _), n in pairs.items():
        totals[a] += n
    want = {
        (a, b2): (n, round(n / totals[a], 6)) for (a, b2), n in pairs.items()
    }
    assert got == want
    # total transitions = events - users (every boundary stitched)
    assert sum(n for n, _ in got.values()) == len(all_rows) - len(seqs)

    # replay: re-folding an already-committed batch id changes nothing
    import datetime as _dt

    _t0 = _dt.datetime(2024, 6, 1)
    replay = spark.createDataFrame(
        [(999, _t0, 1, "click"), (1000, _t0 + _dt.timedelta(hours=1), 1, "click")],
        "event_id long, ts timestamp_ntz, user_id long, event_type string",
    )
    transition_stream.fold_batch(spark, out, replay, 0)
    again = {
        (r["cur"], r["nxt"]): (r["n"], r["prob"])
        for r in transition_stream.transition_report(spark, out).collect()
    }
    assert again == got


def test_components_stream_equals_batch_hypothesis(spark_prop, tmp_path):
    """VERDICT r15 #1 (done-criterion 1): for RANDOM edge lists split
    into RANDOM micro-batches — including empty batches, self-loops,
    duplicate edges, and orderings where the bridging edge arrives
    before/after its endpoints' components exist — the maintained
    component store must equal batch ``connected_components`` over the
    concatenated edges after every prefix of batches. The min-label
    fold is associative, so arrival grouping must be invisible."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from data_pipeline_challenge_spark.operators.graph import (
        connected_components,
    )
    from data_pipeline_challenge_spark.streaming.components_stream import (
        current_components,
        fold_batch,
    )

    spark = spark_prop
    counter = {"n": 0}
    edges_st = st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=20,
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(edges=edges_st, data=st.data())
    def check(edges, data):
        n_b = data.draw(st.integers(min_value=1, max_value=4), label="n_batches")
        assign = data.draw(
            st.lists(
                st.integers(min_value=0, max_value=n_b - 1),
                min_size=len(edges),
                max_size=len(edges),
            ),
            label="batch_of_edge",
        )
        counter["n"] += 1
        out = tmp_path / f"hcomp{counter['n']}"
        seen: list[tuple[int, int]] = []
        for b in range(n_b):
            part = [e for e, a in zip(edges, assign) if a == b]
            seen += part
            df = spark.createDataFrame(part, "src long, dst long") if part else (
                spark.createDataFrame([], "src long, dst long")
            )
            fold_batch(spark, out, df, b, n_prefix=8)
            cur = current_components(spark, out)
            got = (
                sorted(map(tuple, cur.collect())) if cur is not None else []
            )
            exp = sorted(
                map(
                    tuple,
                    connected_components(
                        spark.createDataFrame(
                            seen or [], "src long, dst long"
                        )
                    ).collect(),
                )
            )
            assert got == exp, (edges, assign, b)

    check()


def test_components_stream_restart_replay_and_compaction(spark, tmp_path):
    """The real streaming path: files drained one per micro-batch with
    IN-STREAM consolidation every 2 batches, a restart with new edges,
    a fresh-checkpoint crash-replay (renumbered batches must be
    no-ops), and offline compaction — the component view must equal
    the batch recompute at every step, and the compacted stores must
    collapse to exactly one row per vertex (labels) / one row per
    CURRENT membership (members: absorbed components' rows dropped)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_challenge_spark.operators.graph import (
        connected_components,
    )
    from data_pipeline_challenge_spark.streaming.components_stream import (
        current_components,
    )

    src_dir = tmp_path / "edges"
    src_dir.mkdir()

    def land(name, pairs):
        s, d = zip(*pairs)
        pq.write_table(
            pa.table(
                {"src": pa.array(s, pa.int64()), "dst": pa.array(d, pa.int64())}
            ),
            str(src_dir / name),
        )

    land("f1.parquet", [(4, 5), (10, 11)])
    land("f2.parquet", [(11, 12), (20, 21)])
    land("f3.parquet", [(5, 10)])  # bridges {4,5} and {10,11,12}

    out = tmp_path / "comp_store"
    ckpt = tmp_path / "comp_ck"

    def run(ck=ckpt):
        q = start_view(
            spark, components_stream.VIEW, src_dir, out, ck, "src long, dst long",
            n_prefix=8, max_files_per_trigger=1, consolidate_every=2,
        )
        q.awaitTermination(240)

    def batch_labels():
        all_e = spark.read.schema("src long, dst long").parquet(str(src_dir))
        return sorted(map(tuple, connected_components(all_e).collect()))

    run()
    view = lambda: sorted(  # noqa: E731
        map(tuple, current_components(spark, out).collect())
    )
    assert view() == batch_labels()
    assert dict(view())[12] == 4  # the bridge really merged the clusters

    # restart with a fourth file that merges into the 20-21 pair
    land("f4.parquet", [(21, 3)])
    run()
    assert view() == batch_labels()
    assert dict(view())[21] == 3

    # fresh-checkpoint crash-replay: everything re-feeds as batch 0+;
    # the min-across-stores guard must skip every renumbered batch
    run(ck=tmp_path / "comp_ck2")
    assert view() == batch_labels()

    # offline compaction: view unchanged, stores collapse to resolved
    compact_view(spark, components_stream.VIEW, out)
    assert view() == batch_labels()
    from data_pipeline_challenge_spark.batchstore import read_batch_store

    labels_rows = read_batch_store(spark, out / "labels").collect()
    verts = {r["vertex"] for r in labels_rows}
    assert len(labels_rows) == len(verts)  # one resolved row per vertex
    members_rows = read_batch_store(spark, out / "members").collect()
    cur = dict(view())
    assert {(r["component"], r["vertex"]) for r in members_rows} == {
        (c, v) for v, c in cur.items()
    }  # absorbed components' member rows are gone


def test_components_fold_cost_bounded_by_touched(spark, tmp_path):
    """VERDICT r15 #1 (done-criterion 3): a batch's increments must
    contain ONLY rows for components it touched — the 20-vertex
    bystander component is never rewritten when an unrelated 3-vertex
    component merges with a fresh vertex. This is the row-count pin on
    the O(touched) contract (the alternative — recomputing labels over
    history — would re-emit every vertex)."""
    from data_pipeline_challenge_spark.streaming.components_stream import (
        current_components,
        fold_batch,
    )

    out = tmp_path / "cost_store"
    big = [(100 + i, 101 + i) for i in range(19)]  # chain 100..119
    fold_batch(
        spark,
        out,
        spark.createDataFrame(big + [(1, 2), (2, 3)], "src long, dst long"),
        0,
        n_prefix=8,
    )
    # batch 1: fresh vertex 0 bridges into {1,2,3} -> relabel 3 members
    fold_batch(
        spark,
        out,
        spark.createDataFrame([(2, 0)], "src long, dst long"),
        1,
        n_prefix=8,
    )
    inc = spark.read.parquet(str(out / "labels" / "ingest_batch=1"))
    rows = {(r["vertex"], r["component"]) for r in inc.collect()}
    assert rows == {(0, 0), (1, 0), (2, 0), (3, 0)}  # touched comp only
    cur = dict(
        (r["vertex"], r["component"])
        for r in current_components(spark, out).collect()
    )
    assert cur[119] == 100 and cur[3] == 0 and cur[1] == 0

    # layout params are baked into the stored partitions: refuse a
    # restart that disagrees
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="layout parameters"):
        fold_batch(
            spark,
            out,
            spark.createDataFrame([(7, 8)], "src long, dst long"),
            2,
            n_prefix=16,
        )

    # the serving probe (the fold's own lookup shape) must prune at
    # PLANNING time: the touched v_prefix literals land in
    # PartitionFilters, so history partitions outside them are never
    # listed, let alone scanned
    from data_pipeline_challenge_spark.streaming.components_stream import (
        component_of,
    )

    probe = component_of(spark, out, [3, 119])
    plan = spark._jvm.PythonSQLUtils.explainString(
        probe._jdf.queryExecution(), "formatted"
    )
    seg = plan.split("PartitionFilters: ")[1].split("\n")[0]
    assert "v_prefix" in seg and "IN" in seg.upper()


def test_components_relabel_audit_observes_adversarial_schedule(spark, tmp_path):
    """VERDICT r16 #2: the min-label scheme's documented worst case —
    an ever-smaller bridging id repeatedly merging into one growing
    component — must be OBSERVABLE: merging batches record exactly one
    (merged_components, members_relabeled) audit row, non-merging
    batches record nothing, and the adversarial schedule produces a
    monotonically growing relabel series."""
    from data_pipeline_challenge_spark.streaming.components_stream import (
        fold_batch,
        read_relabel_audit,
    )

    out = tmp_path / "audit_store"

    def fold(pairs, b):
        fold_batch(
            spark,
            out,
            spark.createDataFrame(pairs, "src long, dst long"),
            b,
            n_prefix=8,
        )

    fold([(100, 101), (101, 102)], 0)  # fresh chain: no stored merge
    assert read_relabel_audit(out) == []
    fold([(200, 201)], 1)  # disjoint fresh pair: still no merge
    assert read_relabel_audit(out) == []
    # adversarial schedule: each batch bridges a SMALLER fresh id into
    # the same component, forcing a full-member relabel every time
    fold([(50, 100)], 2)
    fold([(40, 101)], 3)
    fold([(30, 102)], 4)
    audit = read_relabel_audit(out)
    assert [a["batch_id"] for a in audit] == [2, 3, 4]
    assert all(a["merged_components"] == 1 for a in audit)
    relabeled = [a["members_relabeled"] for a in audit]
    assert relabeled == [3, 4, 5], relabeled  # strictly growing cost
    # replay of a merging batch is a guard-skip: no duplicate audit rows
    fold([(30, 102)], 4)
    assert len(read_relabel_audit(out)) == 3


def test_components_rebuild_for_retractions(spark, tmp_path):
    """VERDICT r16 #3: retracting an edge can SPLIT a component — an
    offline concern by the store's honest scope. rebuild_components_store
    must recompute labels over the RETAINED edge set into a fresh store
    (atomic swap), after which (a) the view equals batch
    connected_components over the retained edges, (b) the serving probe
    still prunes, (c) a FRESH checkpoint folds forward from batch 0, and
    (d) a STALE pre-rebuild checkpoint's numbering is refused loudly."""
    import pytest as _pytest

    from data_pipeline_challenge_spark.operators.graph import (
        connected_components,
    )
    from data_pipeline_challenge_spark.streaming.components_stream import (
        component_of,
        current_components,
        fold_batch,
        rebuild_components_store,
    )

    out = tmp_path / "rb_store"

    def fold(pairs, b, n_prefix=8):
        fold_batch(
            spark,
            out,
            spark.createDataFrame(pairs, "src long, dst long"),
            b,
            n_prefix=n_prefix,
        )

    fold([(1, 2), (2, 3), (10, 11)], 0)
    fold([(3, 10)], 1)  # bridge: everything is one component
    view = lambda: dict(  # noqa: E731
        (r["vertex"], r["component"])
        for r in current_components(spark, out).collect()
    )
    assert view()[11] == 1

    # retract the bridge: retained set splits back into {1,2,3}, {10,11}
    retained = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src long, dst long"
    )
    rebuild_components_store(spark, out, retained, n_prefix=8)
    expected = {
        (r["vertex"], r["component"])
        for r in connected_components(retained).collect()
    }
    assert set(view().items()) == expected
    assert view()[11] == 10  # the split really happened

    # a stale checkpoint resumes the PRE-rebuild numbering: refused
    with _pytest.raises(RuntimeError, match="batch numbering"):
        fold([(5, 6)], 2)

    # a fresh checkpoint starts at 0 and folds forward normally
    fold([(11, 12)], 0)
    assert view()[12] == 10
    probe = dict(
        (r["vertex"], r["component"])
        for r in component_of(spark, out, [3, 12]).collect()
    )
    assert probe == {3: 1, 12: 10}
    # ...and from there the sequential rule applies again
    with _pytest.raises(RuntimeError, match="batch numbering"):
        fold([(7, 8)], 5)

    # a rebuilt store must never be silently overwritten by a backfill
    # (its committed id is -1 but it HOLDS the retraction recompute —
    # code-review r17)
    from data_pipeline_challenge_spark.streaming.components_stream import (
        backfill_components_store,
    )

    with _pytest.raises(RuntimeError, match="already has content"):
        backfill_components_store(spark, out, retained, 5, n_prefix=8)

    # benign ahead case: a BRAND-NEW store attached mid-stream accepts
    # a high starting id as its base
    out2 = tmp_path / "midlife_store"
    fold_batch(
        spark,
        out2,
        spark.createDataFrame([(1, 2)], "src long, dst long"),
        57,
        n_prefix=8,
    )
    assert dict(
        (r["vertex"], r["component"])
        for r in current_components(spark, out2).collect()
    ) == {1: 1, 2: 1}


def test_sessions_stream_equals_python_fold_hypothesis(spark_prop, tmp_path):
    """Maintained session windows (r16): sessionization is a MONOTONE
    merge under inserts (gaps only shrink), so for RANDOM event sets
    split into RANDOM micro-batches the drained store must equal an
    independent pure-Python sessionizer over the union — arbitrary
    arrival grouping, including a late batch that BRIDGES two
    previously-separate sessions."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from data_pipeline_challenge_spark.streaming.sessions_stream import (
        GAP_US,
        fold_batch,
        sessions_report,
    )

    spark = spark_prop
    counter = {"n": 0}
    # timestamps in a few-gap-widths range so merges and splits both occur
    ev_st = st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),            # user_id
            st.integers(min_value=0, max_value=4 * GAP_US),   # t_us
            st.integers(min_value=0, max_value=500),          # cents
        ),
        min_size=1,
        max_size=16,
    )

    def python_sessions(events):
        out = set()
        by_user: dict[int, list[tuple[int, int]]] = {}
        for u, t, c in events:
            by_user.setdefault(u, []).append((t, c))
        for u, rows in by_user.items():
            rows.sort()
            cur = [rows[0]]
            for t, c in rows[1:]:
                if t - cur[-1][0] >= GAP_US:
                    out.add(_sess_row(u, cur))
                    cur = []
                cur.append((t, c))
            out.add(_sess_row(u, cur))
        return out

    def _sess_row(u, rows):
        ts = [t for t, _ in rows]
        cents = sum(c for _, c in rows)
        return (
            u,
            min(ts) // 1_000_000,
            (max(ts) + GAP_US) // 1_000_000,
            len(rows),
            cents / 100.0,
        )

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(events=ev_st, data=st.data())
    def check(events, data):
        n_b = data.draw(st.integers(min_value=1, max_value=3), label="n_batches")
        assign = data.draw(
            st.lists(
                st.integers(min_value=0, max_value=n_b - 1),
                min_size=len(events),
                max_size=len(events),
            ),
            label="batch_of_event",
        )
        counter["n"] += 1
        out = tmp_path / f"hsess{counter['n']}"
        import datetime as _dt

        for b in range(n_b):
            part = [e for e, a in zip(events, assign) if a == b]
            rows = [
                (u, _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=t),
                 c / 100.0)
                for u, t, c in part
            ]
            df = spark.createDataFrame(
                rows or [], "user_id long, ts timestamp_ntz, value double"
            )
            fold_batch(spark, out, df, b)
        rep = sessions_report(spark, out)
        got = set(map(tuple, rep.collect())) if rep is not None else set()
        assert got == python_sessions(events), (events, assign)

    check()


def test_sessions_stream_restart_replay_compaction_and_declared_parity(
    spark, tmp_path
):
    """The real streaming path for the session store: cross-batch
    session stitching (a later file BRIDGES two earlier sessions),
    restart with new data, fresh-checkpoint replay no-op, in-stream +
    offline consolidation (store collapses to one row per resolved
    session) — and the report must reproduce the DECLARED
    (oracle-checked) events_session_windows query exactly on real
    grid-valued events."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_challenge_spark.batchstore import read_batch_store
    from data_pipeline_challenge_spark.streaming.sessions_stream import (
        fold_batch,
        sessions_report,
    )

    src = tmp_path / "sess_src"
    src.mkdir()
    M = 60_000_000  # one minute in micros

    def land(name, rows):
        ids, us, users, vals = zip(*rows)
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(ids, pa.int64()),
                    "ts": pa.array(us, pa.timestamp("us")),
                    "user_id": pa.array(users, pa.int64()),
                    "event_type": pa.array(["click"] * len(rows)),
                    "value": pa.array(vals),
                    "props": pa.array(["{}"] * len(rows)),
                }
            ),
            str(src / name),
        )

    # user 1: events at 0min and 16min -> two sessions (gap >= 10min)...
    land("f1.parquet", [(1, 0, 1, 1.25), (2, 16 * M, 1, 2.0),
                        (3, 0, 2, 0.5)])
    # ...until 8min arrives and BRIDGES them into one (8min gaps each side)
    land("f2.parquet", [(4, 8 * M, 1, 4.25)])

    out = tmp_path / "sess_store"
    ckpt = tmp_path / "sess_ck"

    def run(ck=ckpt):
        q = start_view(
            spark, sessions_stream.VIEW, src, out, ck,
            "event_id long, ts timestamp_ntz, user_id long,"
            " event_type string, value double, props string",
            max_files_per_trigger=1, consolidate_every=2,
        )
        q.awaitTermination(240)

    run()
    view = lambda: sorted(  # noqa: E731
        map(tuple, sessions_report(spark, out).collect())
    )
    got = view()
    # user 1: ONE stitched session 0..16min (+10min gap), 3 events, 7.50
    assert (1, 0, 16 * 60 + 600, 3, 7.5) in got
    assert (2, 0, 600, 1, 0.5) in got
    assert len(got) == 2

    # restart with a third file extending user 2
    land("f3.parquet", [(5, 5 * M, 2, 1.0)])
    run()
    assert (2, 0, 5 * 60 + 600, 2, 1.5) in view()

    # fresh-checkpoint replay: renumbered batches are no-ops
    before = view()
    run(ck=tmp_path / "sess_ck2")
    assert view() == before

    # offline compaction: view unchanged, one row per resolved session
    compact_view(spark, sessions_stream.VIEW, out)
    assert view() == before
    assert read_batch_store(spark, out / "sessions").count() == len(before)

    # declared-query parity on real grid-valued events: fold the whole
    # table as one batch, report == the session_window batch query
    from data_pipeline_challenge_spark.catalog import load_events
    from data_pipeline_challenge_spark.plans import all_queries

    sf = "/root/testdata/sf0.001"
    real_out = tmp_path / "sess_real"
    fold_batch(spark, real_out, load_events(spark, sf), 0)
    mine = sorted(map(tuple, sessions_report(spark, real_out).collect()))
    declared = sorted(
        map(
            tuple,
            all_queries()["events_session_windows"].fn(spark, sf).collect(),
        )
    )
    assert mine == declared

    # ...and the interval-overlap report composes off the same store:
    # parity with the declared events_active_sessions_per_hour too
    from data_pipeline_challenge_spark.streaming.sessions_stream import (
        active_sessions_per_hour_report,
    )

    mine_hours = sorted(
        map(
            tuple,
            active_sessions_per_hour_report(spark, real_out).collect(),
        )
    )
    declared_hours = sorted(
        map(
            tuple,
            all_queries()["events_active_sessions_per_hour"]
            .fn(spark, sf)
            .collect(),
        )
    )
    assert mine_hours == declared_hours


# ---------------------------------------------------------------------------
# r18: family-wide sequential-numbering guard (VERDICT r17 #1)
# ---------------------------------------------------------------------------

_GUARD_FAMILIES = [
    "kmv", "cms", "quantile", "heavy", "sessions", "retention", "paths",
    "transition", "attribution", "dedup_gate", "filter_gate", "near_gate",
    "novelty_gate", "overlap", "retrieval", "resequencer",
]


def _guard_fold_for(spark, tmp_path, family):
    """The real fold entry point for one maintained-store family, bound
    to a fresh store under tmp_path: ``fold(b)`` folds a small NON-EMPTY
    batch under id b. Used by the parametrized guard test below."""
    from data_pipeline_challenge_spark.streaming import (
        attribution_stream,
        cms_stream,
        dedup_stream,
        filter_gate_stream,
        heavy_stream,
        kmv_stream,
        near_dedup_stream,
        novelty_stream,
        overlap_stream,
        paths_stream,
        quantile_stream,
        resequence,
        retention_stream,
        retrieval_stream,
        sessions_stream,
        transition_stream,
    )

    out = tmp_path / f"guard_{family}"

    def items(b):
        return spark.createDataFrame(
            [(f"item_{b}_{i}",) for i in range(3)], "item string"
        )

    def docs(b):
        return spark.createDataFrame(
            [(100 * (b + 1) + i,
              f"unique alpha beta gamma doc number {b} row {i} with "
              "enough words to shingle cleanly")
             for i in range(2)],
            "doc_id long, text string",
        )

    def events(b):
        import datetime as _dt

        t0 = _dt.datetime(2024, 1, 1) + _dt.timedelta(hours=b)
        return spark.createDataFrame(
            [(10 * b + i, t0 + _dt.timedelta(minutes=i), 1 + i, "view", 1.0)
             for i in range(2)],
            "event_id long, ts timestamp_ntz, user_id long,"
            " event_type string, value double",
        )

    if family == "kmv":
        return lambda b: kmv_stream.fold_batch(spark, out, items(b), b, "item")
    if family == "cms":
        return lambda b: cms_stream.fold_batch(spark, out, items(b), b, "item")
    if family == "quantile":
        return lambda b: quantile_stream.fold_batch(
            spark, out, events(b), b, "value"
        )
    if family == "heavy":
        return lambda b: heavy_stream.fold_batch(spark, out, items(b), b, "item", 4)
    if family == "sessions":
        return lambda b: sessions_stream.fold_batch(spark, out, events(b), b)
    if family == "retention":
        return lambda b: retention_stream.fold_batch(spark, out, events(b), b)
    if family == "paths":
        return lambda b: paths_stream.fold_batch(spark, out, events(b), b)
    if family == "transition":
        return lambda b: transition_stream.fold_batch(spark, out, events(b), b)
    if family == "attribution":
        return lambda b: attribution_stream.fold_batch(
            spark,
            out,
            events(b).withColumn("t_us", F.lit(b * 1_000_000_000)),
            b,
        )
    if family == "dedup_gate":
        return lambda b: dedup_stream.fold_batch(
            spark, out, docs(b), b, id_col="doc_id", text_col="text"
        )
    if family == "filter_gate":
        return lambda b: filter_gate_stream.fold_batch(
            spark, out, docs(b), b, F.length("text") > 0
        )
    if family == "near_gate":
        return lambda b: near_dedup_stream.fold_batch(
            spark, out, docs(b), b, id_col="doc_id", text_col="text", n_prefix=8
        )
    if family == "novelty_gate":
        return lambda b: novelty_stream.fold_batch(
            spark, out, docs(b), b, id_col="doc_id", text_col="text",
            shingle_n=3, max_share=0.99,
        )
    if family == "overlap":
        return lambda b: overlap_stream.fold_batch(
            spark, out, docs(b).withColumn("source", F.lit(f"s{b}")),
            b, "source", "text", shingle_n=3,
        )
    if family == "retrieval":
        return lambda b: retrieval_stream.fold_batch(
            spark, out, docs(b), b, "doc_id", "text"
        )
    if family == "resequencer":
        def _fold(released, fold_id):
            pass  # downstream is irrelevant to the arrival-id guard

        return lambda b: resequence.reseq_fold(
            spark, out,
            events(b).withColumn("t_us", F.lit(b * 1_000_000_000)),
            b, _fold, delay_us=10,
        )
    raise AssertionError(family)


@pytest.mark.parametrize("family", _GUARD_FAMILIES)
def test_sequential_numbering_guard_family_wide(spark, tmp_path, family):
    """VERDICT r17 #1: the stale/foreign-checkpoint refusal the
    components store proved in r17, now hoisted into
    ``batchstore.sequential_fold_guard`` and applied by EVERY maintained
    store's fold. Per family: sequential folds work; a replay skips; a
    GAPPED id on a store with history is refused loudly (naming the
    store and ids); a brand-new store still accepts a high first id
    (the mid-life-attach allowance)."""
    fold = _guard_fold_for(spark, tmp_path, family)
    fold(0)
    fold(1)
    fold(1)  # replay: silently skipped, never an error
    with pytest.raises(RuntimeError, match="batch numbering") as ei:
        fold(5)
    msg = str(ei.value)
    assert "batch 5" in msg and "through 1" in msg, msg
    fold(2)  # the real next batch still folds after the refusal

    # brand-new store: first fold may arrive at any id (mid-life attach)
    fresh = _guard_fold_for(spark, tmp_path / "fresh", family)
    fresh(7)
    fresh(8)
    with pytest.raises(RuntimeError, match="batch numbering"):
        fresh(11)


def test_funnel_fully_dropped_batch_keeps_chain_gap_free(spark, tmp_path):
    """ADVICE r17 (high): a micro-batch the quality gate drops ENTIRELY
    must not short-circuit the funnel — every downstream store still
    accounts the batch id (empty-fold sentinels), so the components
    chain's sequential guard keeps folding instead of crashing the
    stream on the next batch with a misleading foreign-checkpoint
    message. The cluster view stays equal to batch components over the
    full pair history throughout."""
    from data_pipeline_challenge_spark.batchstore import last_batch_id
    from data_pipeline_challenge_spark.streaming.corpus_pipeline_stream import (
        current_corpus,
        current_dup_clusters,
        start_corpus_pipeline_stream,
    )

    corpus_dir = tmp_path / "drop_in"
    corpus_dir.mkdir()
    SCHEMA = "doc_id long, text string"
    land = _near_corpus_land(corpus_dir, [1_700_000_000])
    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the late afternoon sun"
    )
    land("a.parquet", [(9, base + " today"), (4, base)])
    land("b.parquet", [(50, "xx"), (51, "yy")])  # ALL quality-rejected
    land("c.parquet", [(12, base + " again tomorrow")])

    out, ck = tmp_path / "drop_out", tmp_path / "drop_ck"
    q = start_corpus_pipeline_stream(
        spark, corpus_dir, out, ck, SCHEMA, "doc_id", "text",
        quality_expr=F.length("text") > 10,
        min_jaccard=0.5, n_prefix=8, max_files_per_trigger=1,
        components=True,
    )
    q.awaitTermination(300)
    assert q.exception() is None  # before r18: guard crash on batch 2

    # every stage — including the derived cluster store — covers all 3 ids
    for store in (
        out / "quality" / "docs", out / "exact" / "docs",
        out / "near" / "docs", out / "near" / "band_index",
        out / "clusters" / "labels", out / "clusters" / "members",
    ):
        assert last_batch_id(store) == 2, store

    # doc 9 lost intra-batch dedup to 4; doc 12 is a near-dup of kept 4
    # (dropped but labeled — exactly the composed view's point)
    kept = {r["doc_id"] for r in current_corpus(spark, out).collect()}
    assert kept == {4}
    labels = {
        r["vertex"]: r["component"]
        for r in current_dup_clusters(spark, out).collect()
    }
    assert labels == {4: 4, 9: 4, 12: 4}

    # and the stream keeps going: another batch folds normally
    land("d.parquet", [(13, base + " yet again next week")])
    q = start_corpus_pipeline_stream(
        spark, corpus_dir, out, ck, SCHEMA, "doc_id", "text",
        quality_expr=F.length("text") > 10,
        min_jaccard=0.5, n_prefix=8, max_files_per_trigger=1,
        components=True,
    )
    q.awaitTermination(300)
    assert q.exception() is None
    labels = {
        r["vertex"]: r["component"]
        for r in current_dup_clusters(spark, out).collect()
    }
    assert labels == {4: 4, 9: 4, 12: 4, 13: 4}


def test_near_dedup_stream_components_late_enable_refused(spark, tmp_path):
    """ADVICE r17 (medium): start_near_dedup_stream(components_out_dir=)
    attached to a gate that already committed batches must refuse (the
    funnel's lateness rule, now shared) — before r18 the mid-life-attach
    allowance silently produced a cluster view missing every earlier
    verified pair. After backfill_dup_clusters seeds it, the continuing
    checkpoint folds forward and labels cover the FULL pair history."""
    from data_pipeline_challenge_spark.batchstore import read_batch_store
    from data_pipeline_challenge_spark.operators.graph import (
        connected_components,
    )
    from data_pipeline_challenge_spark.streaming.components_stream import (
        current_components,
    )
    from data_pipeline_challenge_spark.streaming.near_dedup_stream import (
        backfill_dup_clusters,
        start_near_dedup_stream,
    )

    corpus_dir = tmp_path / "ne_late_in"
    corpus_dir.mkdir()
    SCHEMA = "doc_id long, text string"
    land = _near_corpus_land(corpus_dir, [1_700_000_000])
    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the late afternoon sun"
    )
    land("a.parquet", [(9, base + " today"), (4, base)])

    out, ck = tmp_path / "ne_late_out", tmp_path / "ne_late_ck"
    cl = out / "clusters"

    def run(components, ckpt=ck):
        q = start_near_dedup_stream(
            spark, corpus_dir, out, ckpt, SCHEMA, "doc_id", "text",
            min_jaccard=0.5, n_prefix=8, max_files_per_trigger=1,
            components_out_dir=cl if components else None,
        )
        q.awaitTermination(300)
        assert q.exception() is None

    run(components=False)  # gate commits batch 0 without the view
    land("b.parquet", [(12, base + " again tomorrow")])
    with pytest.raises(RuntimeError, match="backfill_dup_clusters"):
        run(components=True)
    # a lost checkpoint reads -1 too — still refused
    with pytest.raises(RuntimeError, match="backfill_dup_clusters"):
        run(components=True, ckpt=tmp_path / "ne_late_ck_lost")

    backfill_dup_clusters(spark, out, cl, components_n_prefix=64)
    run(components=True)  # continuing checkpoint folds forward

    got = {
        r["vertex"]: r["component"]
        for r in current_components(spark, cl).collect()
    }
    hist = read_batch_store(spark, out / "pairs").select("doc1", "doc2")
    want = {
        r["vertex"]: r["component"]
        for r in connected_components(hist, src="doc1", dst="doc2").collect()
    }
    assert got == want == {4: 4, 9: 4, 12: 4}


def test_rebuild_attribution_store_beyond_delay_repair(spark, tmp_path):
    """VERDICT r17 #2: a touch later than the resequencer's delay is
    dropped + counted — the one documented PERMANENT skew in the store
    family (the counts are irreversible). rebuild_attribution_store
    recomputes the store from retained event history (the declared
    query's exact arithmetic via the shared core) into a fresh store,
    atomically swapped; a STALE pre-rebuild checkpoint is refused
    loudly (plain fold AND resequenced arrival path), and a fresh
    checkpoint folds forward against the rebuilt frontier."""
    from pathlib import Path

    from data_pipeline_challenge_spark.batchstore import read_batch_store
    from data_pipeline_challenge_spark.streaming import attribution_stream

    M = 60_000_000
    src = tmp_path / "rba_in"
    src.mkdir()
    # f1: u1 purchase at minute 20; u2 click at minute 40 (pushes the
    # watermark past the purchase so the 10-minute delay releases it)
    _land_attr_file(
        src / "f1.parquet",
        [(1, 20 * M, 1, "purchase", 10.0), (2, 40 * M, 2, "click", 0.0)],
        1_700_000_000,
    )
    out, ck = tmp_path / "rba_out", tmp_path / "rba_ck"

    def drain(ckpt=ck, source=src):
        q = attribution_stream.start_resequenced_attribution_stream(
            spark, source, out, ckpt, _ATTR_SCHEMA,
            delay_us=10 * M, max_files_per_trigger=1,
        )
        q.awaitTermination(240)

    def report():
        rep = attribution_stream.attribution_report(spark, out)
        return (
            {
                r["attributed"]: (r["n_conversions"], r["attributed_value"])
                for r in rep.collect()
            }
            if rep is not None
            else {}
        )

    drain()
    attribution_stream.flush_resequenced(spark, out)
    # f2: u1's click at minute 5 arrives AFTER the floor passed it —
    # beyond-delay, dropped + counted; the purchase stays 'direct'
    _land_attr_file(
        src / "f2.parquet", [(3, 5 * M, 1, "click", 0.0)], 1_700_000_010
    )
    drain()
    attribution_stream.flush_resequenced(spark, out)
    assert report() == {"direct": (1, 10.0)}  # the documented skew
    late_total = (
        read_batch_store(spark, Path(out) / "reseq" / "wm")
        .agg(F.sum("n_late").alias("s"))
        .collect()[0]["s"]
    )
    assert late_total == 1  # asserted via the drop counter

    # rebuild over the RETAINED full history: the skew is repaired —
    # exactly what the batch query computes over these events
    history = spark.createDataFrame(
        [
            (1, 20 * M, 1, "purchase", 10.0),
            (2, 40 * M, 2, "click", 0.0),
            (3, 5 * M, 1, "click", 0.0),
        ],
        "event_id long, t_us long, user_id long, event_type string,"
        " value double",
    )
    attribution_stream.rebuild_attribution_store(spark, out, history)
    assert report() == {"click": (1, 10.0)}
    # the swap removed the old reseq stores with the rest of the store
    assert not (Path(out) / "reseq").exists()

    # plain-path staleness: a gapped fold id on the rebuilt store refuses
    with pytest.raises(RuntimeError, match="batch numbering"):
        attribution_stream.fold_batch(
            spark, out,
            spark.createDataFrame(
                [(9, 1, "purchase", 1.0, 100 * M)],
                "event_id long, user_id long, event_type string,"
                " value double, t_us long",
            ),
            3,
        )

    # resequenced-path staleness: the OLD checkpoint resumes its arrival
    # numbering against the wiped reseq stores — refused (the parent
    # store's rebuilt marker arms the arrival-id guard), instead of
    # silently losing batches 0..1 from the frontier
    _land_attr_file(
        src / "f3.parquet", [(4, 45 * M, 2, "purchase", 3.0)], 1_700_000_020
    )
    with pytest.raises(Exception, match="batch numbering"):
        drain()

    # fresh checkpoint over POST-rebuild arrivals folds forward against
    # the rebuilt frontier: u2's purchase at minute 45 credits u2's
    # minute-40 click carried by the REBUILT store
    src2 = tmp_path / "rba_in2"
    src2.mkdir()
    _land_attr_file(
        src2 / "f3.parquet", [(4, 45 * M, 2, "purchase", 3.0)], 1_700_000_030
    )
    drain(ckpt=tmp_path / "rba_ck2", source=src2)
    attribution_stream.flush_resequenced(spark, out)
    assert report() == {"click": (2, 13.0)}


def test_rebuild_attribution_store_equals_declared_query(spark, tmp_path):
    """The rebuild's arithmetic IS the oracle-checked declared query's:
    rebuilding from the real sf0.001 events reproduces
    events_attribution_last_touch exactly, column for column."""
    from data_pipeline_challenge_spark.catalog import load_events
    from data_pipeline_challenge_spark.plans import all_queries
    from data_pipeline_challenge_spark.streaming.attribution_stream import (
        attribution_report,
        rebuild_attribution_store,
    )

    sf = "/root/testdata/sf0.001"
    declared = sorted(
        map(
            tuple,
            all_queries()["events_attribution_last_touch"]
            .fn(spark, sf)
            .collect(),
        )
    )
    out = tmp_path / "rba_real"
    rebuild_attribution_store(spark, out, load_events(spark, sf))
    got = sorted(map(tuple, attribution_report(spark, out).collect()))
    assert got == declared
