"""In-stream consolidation (VERDICT r7 next #3): the owning stream's own
foreachBatch folds its stores' accumulated batch dirs every N batches —
no stop-the-stream maintenance window — bounded at the previous,
checkpoint-committed batch so crash-replay read-backs survive.

Every test runs the SAME input through a consolidating stream and a
non-consolidating twin (or the batch operator) and asserts identical
results, plus a directory-count assertion across the fold.
"""

from __future__ import annotations

import os
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_pipeline_challenge_spark.batchstore import (
    append_batch_increment,
    compact_view,
    consolidate_batch_store,
    read_batch_store,
    start_view,
)
from data_pipeline_challenge_spark.streaming import dedup_stream, filter_gate_stream


def _doc_lander(corpus_dir: Path):
    """Parquet writer with forced mtime order (FileStreamSource batches
    by mtime)."""
    box = [1_700_000_000]

    def land(name, rows):
        ids, texts = zip(*rows)
        p = corpus_dir / name
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)}),
            str(p),
        )
        box[0] += 10
        os.utime(p, (box[0], box[0]))

    return land


def _batch_dirs(store: Path) -> list[int]:
    return sorted(
        int(p.name.split("=", 1)[1])
        for p in store.glob("ingest_batch=*")
        if p.is_dir()
    )


def test_consolidate_up_to_excludes_newer_batches(spark, tmp_path):
    """The fold horizon: batches past ``up_to`` keep their own live dirs
    and their rows are NOT absorbed into the consolidated partition
    (absorbing them would double-count under the marker view)."""
    store = tmp_path / "store"
    for b in range(4):
        df = spark.createDataFrame([(b * 10 + i,) for i in range(3)], "v long")
        append_batch_increment(df, store, b)

    folded = consolidate_batch_store(spark, store, up_to=2)
    assert folded >= 3  # batches 0..2 folded
    dirs = _batch_dirs(store)
    # consolidated dir + grace-kept folded dirs + the untouched batch 3
    assert dirs == [-1, 0, 1, 2, 3]
    vals = sorted(r["v"] for r in read_batch_store(spark, store).collect())
    assert vals == sorted(b * 10 + i for b in range(4) for i in range(3))

    # A later unbounded fold absorbs the remainder without double-counting
    # and sweeps the now-expired first generation.
    consolidate_batch_store(spark, store)
    assert _batch_dirs(store) == [-2, -1, 3]
    vals = sorted(r["v"] for r in read_batch_store(spark, store).collect())
    assert vals == sorted(b * 10 + i for b in range(4) for i in range(3))


def test_dedup_stream_consolidates_mid_stream(spark, tmp_path):
    """Exact-dedup gate with ``consolidate_every=2``: five one-file
    micro-batches (with cross-batch duplicates) drain to the SAME kept
    set as the non-consolidating twin, consolidation demonstrably fired
    mid-stream (directory count bounded), and a post-drain restart with
    new files keeps gating correctly against the folded history."""
    from data_pipeline_challenge_spark.streaming.dedup_stream import current_novel_docs

    corpus_dir = tmp_path / "corpus_in"
    corpus_dir.mkdir()
    land = _doc_lander(corpus_dir)
    SCHEMA = "doc_id long, text string"

    texts = {
        0: "alpha document about spark shuffles and partitions",
        1: "beta document concerning parquet row group statistics",
        2: "gamma document on broadcast joins and skew salting",
        3: "delta document regarding watermarks and late data",
        4: "epsilon document about arrow batches and pandas udfs",
        5: "zeta document covering codegen stages and whole stage fusion",
    }
    land("f0.parquet", [(1, texts[0]), (2, texts[1])])
    land("f1.parquet", [(3, texts[0]), (4, texts[2])])  # 3 dups 1
    land("f2.parquet", [(5, texts[3])])
    land("f3.parquet", [(6, texts[1]), (7, texts[4])])  # 6 dups 2
    land("f4.parquet", [(8, texts[3]), (9, texts[5])])  # 8 dups 5, 9 novel

    def run(out, ckpt, every):
        q = start_view(
            spark, dedup_stream.VIEW, corpus_dir, tmp_path / out, tmp_path / ckpt,
            SCHEMA, id_col="doc_id", text_col="text", n_prefix=8,
            max_files_per_trigger=1, consolidate_every=every,
        )
        q.awaitTermination(180)

    run("cons", "ck_cons", 2)
    run("plain", "ck_plain", None)

    def kept(out):
        return sorted(
            r["doc_id"]
            for r in current_novel_docs(spark, tmp_path / out).collect()
        )

    assert kept("cons") == kept("plain") == [1, 2, 4, 5, 7, 9]

    # Directory assertions across the folds: fold@2 folded batches 0-1
    # (grace-kept), fold@4 folded 2-3 and swept the expired 0-1 — so each
    # store holds two consolidated generations, the graced 2-3, and
    # batch 4's live increment.
    for name in ("docs", "fp_index"):
        cons_dirs = _batch_dirs(tmp_path / "cons" / name)
        assert min(cons_dirs) < 0, (name, cons_dirs)
        positives = [d for d in cons_dirs if d >= 0]
        assert 0 not in positives and 1 not in positives, (name, cons_dirs)
        assert 4 in positives, (name, cons_dirs)

    # History survives the fold: a restart sees folded fingerprints and
    # still drops duplicates of batch-0 docs.
    land("f5.parquet", [(10, texts[2]), (11, "eta genuinely novel text here")])
    run("cons", "ck_cons", 2)
    assert kept("cons") == [1, 2, 4, 5, 7, 9, 11]


def test_filter_gate_stream_consolidates_mid_stream(spark, tmp_path):
    """The filter gate's ``start_view`` with ``consolidate_every=2``: three
    one-file micro-batches (the hook first fires at batch 2, folding
    batches 0-1) admit and reject exactly what ``fold_batch`` does over
    the same batches, the runner's in-stream fold leaves each store at
    most two live dirs (the consolidated one and batch 2's increment),
    and offline compaction then brings each store to at most one."""
    import json

    import pyspark.sql.functions as F

    from data_pipeline_challenge_spark.streaming.filter_gate_stream import (
        current_admitted_docs,
        fold_batch,
        rejected_log,
    )

    corpus_dir = tmp_path / "corpus_in"
    corpus_dir.mkdir()
    land = _doc_lander(corpus_dir)
    SCHEMA = "doc_id long, text string"
    files = [
        [(1, "spark shuffles hash partitioned data nicely"), (2, "too short")],
        [(3, "tiny"), (4, "parquet row groups carry min max statistics")],
        [(5, "broadcast joins avoid shuffling the fact side"), (6, "short one")],
    ]
    for i, rows in enumerate(files):
        land(f"f{i}.parquet", rows)
    keep = F.size(F.split(F.col("text"), " ")) >= 5

    out = tmp_path / "gate"
    q = start_view(
        spark, filter_gate_stream.VIEW, corpus_dir, out, tmp_path / "ck", SCHEMA,
        keep_expr=keep, max_files_per_trigger=1, consolidate_every=2,
    )
    q.awaitTermination(180)

    direct = tmp_path / "direct"
    for b, rows in enumerate(files):
        fold_batch(spark, direct, spark.createDataFrame(rows, SCHEMA), b, keep)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(current_admitted_docs(spark, out)) == rows(
        current_admitted_docs(spark, direct)
    )
    assert rows(rejected_log(spark, out)) == rows(rejected_log(spark, direct))
    assert [r[0] for r in rows(current_admitted_docs(spark, out))] == [1, 4, 5]

    def live(store):
        m = json.loads((store / "_consolidated.json").read_text())
        return [
            d for d in _batch_dirs(store)
            if d == m["consolidated"] or d > m["through"]
        ]

    for name in ("docs", "rejected"):
        assert live(out / name) == [-1, 2], name
    admitted, rejected = rows(current_admitted_docs(spark, out)), rows(
        rejected_log(spark, out)
    )
    compact_view(spark, filter_gate_stream.VIEW, out)
    for name in ("docs", "rejected"):
        assert len(live(out / name)) <= 1, name
    assert rows(current_admitted_docs(spark, out)) == admitted
    assert rows(rejected_log(spark, out)) == rejected


def test_corpus_pipeline_consolidates_mid_stream(spark, tmp_path):
    """The composed four-gate funnel with ``consolidate_every=2`` drains
    to the same corpus as the non-consolidating twin; every stage's
    stores show the fold."""
    import pyspark.sql.functions as F

    from data_pipeline_challenge_spark.streaming.corpus_pipeline_stream import (
        current_corpus,
        start_corpus_pipeline_stream,
    )

    corpus_dir = tmp_path / "corpus_in"
    corpus_dir.mkdir()
    land = _doc_lander(corpus_dir)
    SCHEMA = "doc_id long, text string"

    eval_df = spark.createDataFrame(
        [(900, "the benchmark asks which mountain is tallest on earth")],
        "doc_id long, text string",
    )
    leaky = "quiz answer the benchmark asks which mountain is tallest on earth"
    short = "too short"
    good = [
        "spark shuffles hash partitioned data between executor stages nicely",
        "parquet row groups carry min max statistics used for pruning scans",
        "broadcast joins avoid shuffling the large fact side of the query",
        "watermarks bound state retention for event time aggregations here",
    ]
    land("f0.parquet", [(1, good[0]), (2, short)])
    land("f1.parquet", [(3, leaky), (4, good[1])])
    land("f2.parquet", [(5, good[0]), (6, good[2])])  # 5 dups 1
    land("f3.parquet", [(7, good[3])])

    keep = F.size(F.split(F.col("text"), r"\s+")) >= 5

    def run(out, ckpt, every):
        q = start_corpus_pipeline_stream(
            spark, corpus_dir, tmp_path / out, tmp_path / ckpt, SCHEMA,
            "doc_id", "text", quality_expr=keep, eval_df=eval_df,
            n_prefix=8, max_files_per_trigger=1, consolidate_every=every,
        )
        q.awaitTermination(240)

    run("cons", "ck_cons", 2)
    run("plain", "ck_plain", None)

    def corpus(out):
        return sorted(
            r["doc_id"] for r in current_corpus(spark, tmp_path / out).collect()
        )

    assert corpus("cons") == corpus("plain") == [1, 4, 6, 7]

    # The fold fired at batch 2 (up_to=1): every stage store with ≥2
    # live batches below the horizon carries a consolidated dir holding
    # batches 0-1, leaving only 2..3 as live positives.
    folded_somewhere = 0
    for rel in (
        "quality/docs", "quality/rejected", "decontam/docs",
        "decontam/contaminated", "exact/docs", "exact/fp_index",
        "near/docs", "near/band_index",
    ):
        cons_dirs = _batch_dirs(tmp_path / "cons" / rel)
        plain_dirs = _batch_dirs(tmp_path / "plain" / rel)
        if any(d < 0 for d in cons_dirs):
            folded_somewhere += 1
            # folded positives are grace-kept until the next fold, so the
            # dir set is the twin's plus the consolidated generation
            assert set(d for d in cons_dirs if d >= 0) == set(plain_dirs), (
                rel, cons_dirs, plain_dirs,
            )
        else:
            # Fold was a no-op for this store (≤1 batch below the
            # horizon) — its dirs must match the twin's exactly.
            assert cons_dirs == plain_dirs, (rel, cons_dirs, plain_dirs)
    assert folded_somewhere >= 3  # the fold demonstrably ran mid-stream


def test_packing_stream_consolidates_mid_stream(spark, tmp_path):
    """Packing stream with ``consolidate_every=2``: the published packed
    table still equals the batch sharded packer, and the rows store's
    directory count is bounded by the fold."""
    from data_pipeline_challenge_spark.operators.packing import (
        pack_sequences_sharded,
    )
    from data_pipeline_challenge_spark.streaming.packing_stream import (
        current_packed,
        start_packing_stream,
    )

    corpus_dir = tmp_path / "corpus_in"
    corpus_dir.mkdir()
    box = [1_700_000_000]
    SCHEMA = "source string, doc_id long, n_tokens long"

    def land(name, rows):
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
        box[0] += 10
        os.utime(p, (box[0], box[0]))

    land("a.parquet", [("web", 1, 60), ("books", 2, 90)])
    land("b.parquet", [("web", 3, 40), ("books", 4, 30)])
    land("c.parquet", [("web", 5, 55), ("news", 6, 10)])
    land("d.parquet", [("web", 7, 80), ("books", 8, 25)])

    out_dir = tmp_path / "packed"
    q = start_packing_stream(
        spark, corpus_dir, out_dir, tmp_path / "ckpt", SCHEMA,
        "source", "doc_id", "n_tokens", capacity=100, n_shards=4,
        max_files_per_trigger=1, consolidate_every=2,
    )
    q.awaitTermination(180)

    def norm(df):
        return {
            tuple(r)
            for r in df.select(
                "source", "shard", "doc_id", "n_tokens", "bin"
            ).collect()
        }

    full = spark.read.schema(SCHEMA).parquet(str(corpus_dir))
    expected = pack_sequences_sharded(
        full, "source", "doc_id", "n_tokens", capacity=100, n_shards=4
    )
    assert norm(current_packed(spark, out_dir)) == norm(expected)

    rows_dirs = _batch_dirs(out_dir / "rows")
    # Last fold at batch 2 (up_to=1): consolidated dir + grace-kept 0,1 +
    # live 2,3 (the next fold would sweep 0,1).
    assert [d for d in rows_dirs if d >= 0] == [0, 1, 2, 3], rows_dirs
    assert min(rows_dirs) < 0, rows_dirs


def test_index_stream_consolidates_mid_stream(spark, tmp_path):
    """Index maintenance stream with ``consolidate_every=2``: the
    maintained base∪increments view equals an index built from the full
    vector set in one shot, per family, with increment dirs folded."""
    import numpy as np
    import pyspark.sql.functions as F

    from data_pipeline_challenge_spark.operators.similarity import (
        ivf_build_index,
        lsh_build_index,
        pq_build_index,
        _with_increments,
    )
    from data_pipeline_challenge_spark.streaming.index_stream import (
        start_index_stream,
    )

    rng = np.random.default_rng(7)
    all_vecs = [
        (int(i), [float(x) for x in rng.normal(size=8)]) for i in range(60)
    ]
    base, arrivals = all_vecs[:30], all_vecs[30:]
    base_df = spark.createDataFrame(base, "vec_id long, embedding array<float>")

    idx = tmp_path / "idx"
    lsh_build_index(base_df, idx, dim=8, n_planes=4)
    ivf_build_index(base_df, idx, n_clusters=4)
    pq_build_index(base_df, idx, m=4, n_codes=8)

    vec_dir = tmp_path / "vec_in"
    vec_dir.mkdir()
    box = [1_700_000_000]
    for i, chunk_start in enumerate(range(0, 30, 10)):
        chunk = arrivals[chunk_start : chunk_start + 10]
        ids, vecs = zip(*chunk)
        p = vec_dir / f"v{i}.parquet"
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(ids, pa.int64()),
                    "embedding": pa.array(
                        [list(v) for v in vecs], pa.list_(pa.float32())
                    ),
                }
            ),
            str(p),
        )
        box[0] += 10
        os.utime(p, (box[0], box[0]))

    q = start_index_stream(
        spark, vec_dir, idx, tmp_path / "ckpt",
        "vec_id long, embedding array<float>",
        max_files_per_trigger=1, consolidate_every=2,
    )
    q.awaitTermination(180)

    # The fold fired at batch 2 (up_to=1) for every present family:
    # consolidated dir + grace-kept 0,1 + live batch 2.
    for inc in ("bucketed_inc", "assigned_inc", "codes_inc"):
        dirs = _batch_dirs(idx / inc)
        assert [d for d in dirs if d >= 0] == [0, 1, 2], (inc, dirs)
        assert min(dirs) < 0, (inc, dirs)

    # Equality with a one-shot build over all vectors, per family.
    full_df = spark.createDataFrame(
        all_vecs, "vec_id long, embedding array<float>"
    )
    idx_full = tmp_path / "idx_full"
    lsh_build_index(full_df, idx_full, dim=8, n_planes=4)
    ivf_build_index(full_df, idx_full, n_clusters=4)

    maintained = (
        _with_increments(spark, idx / "bucketed", idx / "bucketed_inc")
        .select("vec_id", "bucket")
    )
    fresh = spark.read.parquet(str(idx_full / "bucketed")).select(
        "vec_id", "bucket"
    )
    assert sorted(map(tuple, maintained.collect())) == sorted(
        map(tuple, fresh.collect())
    )
    # IVF centroids differ between builds (different training set), so
    # equality there is vs the maintained view's own completeness: every
    # arrival is present exactly once.
    assigned = _with_increments(
        spark, idx / "assigned", idx / "assigned_inc"
    ).select("vec_id")
    assert sorted(r["vec_id"] for r in assigned.collect()) == list(range(60))


def test_crash_during_in_stream_fold_heals_on_replay(spark, tmp_path, monkeypatch):
    """A crash INSIDE the in-stream fold — after its marker commit,
    before its cleanup — fails the trigger batch; the checkpoint replays
    it, the gate's append guard skips refolding, and the re-run fold
    sweeps the crash leftovers. Result and view equal the no-crash run."""
    from data_pipeline_challenge_spark import batchstore
    from data_pipeline_challenge_spark.streaming import dedup_stream
    from data_pipeline_challenge_spark.streaming.dedup_stream import current_novel_docs

    corpus_dir = tmp_path / "corpus_in"
    corpus_dir.mkdir()
    land = _doc_lander(corpus_dir)
    SCHEMA = "doc_id long, text string"
    land("f0.parquet", [(1, "alpha doc about spark shuffles and joins")])
    land("f1.parquet", [(2, "beta doc about parquet row group statistics")])
    land("f2.parquet", [(3, "gamma doc about broadcast joins and salting")])

    def run(every):
        q = start_view(
            spark, dedup_stream.VIEW, corpus_dir, tmp_path / "out", tmp_path / "ckpt",
            SCHEMA, id_col="doc_id", text_col="text", n_prefix=8,
            max_files_per_trigger=1, consolidate_every=every,
        )
        try:
            q.awaitTermination(180)
        except Exception:
            pass  # injected crash fails the query; replay heals below

    # Crash after the fold's commit point (marker swapped) but before its
    # cleanup: _sweep_stale raises once, leaving stale folded dirs behind.
    real_sweep = batchstore._sweep_stale
    state = {"crashed": False}

    def crashing_sweep(store, marker):
        if not state["crashed"]:
            state["crashed"] = True
            raise RuntimeError("injected crash after marker commit")
        return real_sweep(store, marker)

    monkeypatch.setattr(batchstore, "_sweep_stale", crashing_sweep)
    run(every=2)  # batch 2's fold crashes mid-cleanup → query fails
    assert state["crashed"]

    # Restart on the same checkpoint: batch 2 replays (its appends skip
    # via the guard), the fold re-runs and completes the sweep.
    run(every=2)
    kept = sorted(
        r["doc_id"] for r in current_novel_docs(spark, tmp_path / "out").collect()
    )
    assert kept == [1, 2, 3]
    for name in ("docs", "fp_index"):
        dirs = _batch_dirs(tmp_path / "out" / name)
        # Consolidated dir present; folded 0,1 grace-kept; batch 2 live.
        assert [d for d in dirs if d >= 0] == [0, 1, 2], (name, dirs)
        assert min(dirs) < 0, (name, dirs)


def test_pinned_reader_plan_survives_one_fold(spark, tmp_path):
    """Reader-grace property: a DataFrame whose scan was PLANNED (file
    listing pinned) before a fold must still execute correctly after the
    fold commits — the dirs the fold just excluded are grace-kept, the
    batch-store analog of the versioned tables' pinned-reader retention.
    Only the SECOND fold may remove them."""
    store = tmp_path / "store"
    for b in range(3):
        df = spark.createDataFrame([(b * 10 + i,) for i in range(4)], "v long")
        append_batch_increment(df, store, b)

    pinned = read_batch_store(spark, store)
    pinned.count()  # force planning + file-index materialization
    expected = sorted(b * 10 + i for b in range(3) for i in range(4))

    consolidate_batch_store(spark, store)  # fold 1: excludes 0..2
    # The pre-fold plan still reads its pinned dirs successfully.
    assert sorted(r["v"] for r in pinned.collect()) == expected
    # A fresh plan serves the consolidated view, same rows.
    assert sorted(
        r["v"] for r in read_batch_store(spark, store).collect()
    ) == expected

    # Second fold (new batch arrives first) sweeps the expired dirs.
    append_batch_increment(
        spark.createDataFrame([(99,)], "v long"), store, 3
    )
    consolidate_batch_store(spark, store)
    assert not (store / "ingest_batch=0").exists()
    assert sorted(
        r["v"] for r in read_batch_store(spark, store).collect()
    ) == expected + [99]


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=10,  # each example runs Spark jobs; keep the suite fast
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    batches=st.lists(
        st.integers(min_value=0, max_value=3),  # rows per batch (0 = empty)
        min_size=1,
        max_size=6,
    ),
    fold_mask=st.lists(st.booleans(), min_size=6, max_size=6),
    bounded=st.booleans(),
)
def test_batchstore_view_invariant_under_arbitrary_folds(
    spark_prop, tmp_path_factory, batches, fold_mask, bounded
):
    """Semantics pin: whatever interleaving of appends (including empty
    batches → sentinels) and folds (bounded at the just-written batch or
    unbounded), the store view ALWAYS equals the union of all non-empty
    appended batches, and last_batch_id always equals the highest batch
    ever appended."""
    from data_pipeline_challenge_spark.batchstore import last_batch_id

    spark = spark_prop
    store = tmp_path_factory.mktemp("bs") / "store"
    expected: list[int] = []
    top = -1
    for b, n_rows in enumerate(batches):
        rows = [(b * 10 + i,) for i in range(n_rows)]
        df = spark.createDataFrame(rows, "v long") if rows else (
            spark.createDataFrame([], "v long")
        )
        append_batch_increment(df, store, b)
        expected.extend(v for (v,) in rows)
        top = b
        if fold_mask[b]:
            consolidate_batch_store(
                spark, store, up_to=(b - 1) if bounded else None
            )
        # Caller contract (same guard as every gate's reader): a store
        # holding only empty-fold sentinels has no parquet to read.
        has_data = store.exists() and any(store.glob("ingest_batch=*"))
        got = sorted(
            r["v"] for r in read_batch_store(spark, store).collect()
        ) if has_data else []
        assert got == sorted(expected), (batches, fold_mask, bounded, b)
        assert last_batch_id(store) == top


def test_ann_probe_planned_before_fold_survives_it(spark, tmp_path):
    """Serving-during-maintenance: an ANN probe whose scan was planned
    against base∪increments BEFORE a consolidation executes correctly
    after the fold commits (grace keeps the pinned increment dirs), and
    a post-fold probe serves identical results."""
    import numpy as np

    from data_pipeline_challenge_spark.operators.similarity import (
        append_index_increments,
        compact_index_increments,
        lsh_build_index,
        lsh_topk_indexed,
    )

    rng = np.random.default_rng(11)
    vecs = [(int(i), [float(x) for x in rng.normal(size=8)]) for i in range(40)]
    base_df = spark.createDataFrame(vecs[:20], "vec_id long, embedding array<float>")
    idx = tmp_path / "idx"
    lsh_build_index(base_df, idx, dim=8, n_planes=3)
    for b, lo in enumerate(range(20, 40, 10)):
        inc = spark.createDataFrame(
            vecs[lo : lo + 10], "vec_id long, embedding array<float>"
        )
        append_index_increments(inc, idx, batch_id=b)

    qvec = spark.createDataFrame(
        [(vecs[0][1],)], "embedding array<float>"
    ).select("embedding")
    pinned = lsh_topk_indexed(spark, idx, qvec, k=5, probe_hamming=1)
    before = [(r["vec_id"], round(r["sim"], 9)) for r in pinned.collect()]

    assert compact_index_increments(spark, idx)["bucketed_inc"] == 2
    # The pre-fold plan still executes (its increment dirs are graced)...
    assert [
        (r["vec_id"], round(r["sim"], 9)) for r in pinned.collect()
    ] == before
    # ...and a fresh post-fold plan serves the identical top-k.
    fresh = lsh_topk_indexed(spark, idx, qvec, k=5, probe_hamming=1)
    assert [
        (r["vec_id"], round(r["sim"], 9)) for r in fresh.collect()
    ] == before


def test_pipeline_report_summarizes_stage_health(spark, tmp_path):
    """The one-call health view: per-stage admitted/diverted counts,
    replay horizons, batch-dir counts, and cap pressure — correct
    against the drained pipeline's known outcome, without reading any
    payloads."""
    import pyspark.sql.functions as F

    from data_pipeline_challenge_spark.streaming.corpus_pipeline_stream import (
        pipeline_report,
        start_corpus_pipeline_stream,
    )

    corpus_dir = tmp_path / "corpus_in"
    corpus_dir.mkdir()
    land = _doc_lander(corpus_dir)
    SCHEMA = "doc_id long, text string"
    eval_df = spark.createDataFrame(
        [(900, "the benchmark asks which mountain is tallest on earth")],
        "doc_id long, text string",
    )
    good = "spark shuffles hash partitioned data between executor stages"
    land("f0.parquet", [
        (1, good),
        (2, "short"),                                         # quality reject
        (3, "quiz answer the benchmark asks which mountain is tallest"),  # leaks
        (4, good),                                            # exact dup of 1
    ])
    keep = F.size(F.split(F.col("text"), r"\s+")) >= 5
    q = start_corpus_pipeline_stream(
        spark, corpus_dir, tmp_path / "out", tmp_path / "ck", SCHEMA,
        "doc_id", "text", quality_expr=keep, eval_df=eval_df,
        min_shared=2, n_prefix=8,
    )
    q.awaitTermination(240)

    rep = {
        (r["stage"], r["metric"]): r["value"]
        for r in pipeline_report(spark, tmp_path / "out").collect()
    }
    assert rep[("quality", "admitted")] == 3
    assert rep[("quality", "rejected")] == 1
    assert rep[("decontam", "clean")] == 2
    assert rep[("decontam", "contaminated")] == 1
    assert rep[("exact", "novel")] == 1
    assert rep[("near", "kept")] == 1
    assert rep[("near", "cap_rows_dropped")] == 0  # healthy: cap never bound
    # Every populated store reports a replay horizon of batch 0 and at
    # least one batch dir.
    for stage, store in (
        ("quality", "docs"), ("quality", "rejected"),
        ("decontam", "docs"), ("decontam", "contaminated"),
        ("exact", "docs"), ("exact", "fp_index"),
        ("near", "docs"), ("near", "band_index"),
    ):
        assert rep[(stage, f"{store}_last_batch")] == 0, (stage, store)
        assert rep[(stage, f"{store}_batch_dirs")] >= 1, (stage, store)
    # Input-parallelism audit: without the min_input_partitions opt-in
    # the per-batch file-count job is skipped (ADVICE r10 — it was an
    # unconditional full-batch scan), recorded as -1 = not measured; the
    # free partition counts are still there. The guard-enabled twin
    # (test_min_input_partitions_guard) asserts the measured path.
    assert rep[("input", "last_batch_files")] == -1
    assert rep[("input", "single_file_batches")] == 0  # unmeasured ≠ starved
    assert rep[("input", "min_batch_partitions")] >= 1


def test_min_input_partitions_guard(spark, tmp_path):
    """A micro-batch landing as ONE parquet file arrives with one input
    partition and would run the transform+quality scan near-serially
    (the r9 throughput measurement: 140s vs 14s). With
    ``min_input_partitions`` set, the batch is repartitioned BEFORE the
    Catalyst stages — the executed partition count is recorded in the
    input audit and the report — and the funnel's verdicts are
    unchanged (the guard is a physical-layout no-op)."""
    import pyspark.sql.functions as F

    from data_pipeline_challenge_spark.streaming.corpus_pipeline_stream import (
        current_corpus,
        pipeline_report,
        read_input_audit,
        start_corpus_pipeline_stream,
    )

    corpus_dir = tmp_path / "corpus_in"
    corpus_dir.mkdir()
    land = _doc_lander(corpus_dir)
    SCHEMA = "doc_id long, text string"
    land("one_big.parquet", [
        (i, f"document number {i} with enough words to pass the simple gate")
        for i in range(1, 41)
    ])
    keep = F.size(F.split(F.col("text"), r"\s+")) >= 5
    q = start_corpus_pipeline_stream(
        spark, corpus_dir, tmp_path / "out", tmp_path / "ck", SCHEMA,
        "doc_id", "text", quality_expr=keep, n_prefix=8,
        min_input_partitions=4,
    )
    q.awaitTermination(240)

    audit = read_input_audit(tmp_path / "out")
    assert len(audit) == 1
    assert audit[0]["input_files"] == 1
    assert audit[0]["input_partitions"] < 4  # the starvation shape
    assert audit[0]["partitions_after_guard"] == 4  # executed plan lifted
    rep = {
        (r["stage"], r["metric"]): r["value"]
        for r in pipeline_report(spark, tmp_path / "out").collect()
    }
    assert rep[("input", "last_batch_partitions_after_guard")] == 4
    assert rep[("input", "last_batch_files")] == 1
    # Semantics untouched: every doc admitted exactly once.
    assert sorted(
        r["doc_id"] for r in current_corpus(spark, tmp_path / "out").collect()
    ) == list(range(1, 41))


def test_quality_drift_monitor(spark, tmp_path):
    """drift_score_expr turns on the funnel's per-batch drift monitor:
    each micro-batch's score histogram lands in drift_audit/ (pure
    function of the batch — replay-idempotent), quality_drift_report
    computes the latest-vs-reference PSI, and pipeline_report surfaces
    it. A deliberate distribution shift between batches must read as a
    LARGE PSI; a same-shape batch as a small one."""
    import time

    import pyspark.sql.functions as F

    from data_pipeline_challenge_spark.streaming.corpus_pipeline_stream import (
        pipeline_report,
        quality_drift_report,
        read_drift_audit,
        start_corpus_pipeline_stream,
    )

    corpus_dir = tmp_path / "corpus_in"
    corpus_dir.mkdir()
    land = _doc_lander(corpus_dir)
    SCHEMA = "doc_id long, text string"
    long_doc = "a reasonably long document " * 8  # ~32 tokens -> bin 5
    short_doc = "tiny text"  # 2 tokens -> bin 1
    score = F.log(F.lit(1) + F.size(F.split(F.col("text"), r"\s+")))

    def run():
        q = start_corpus_pipeline_stream(
            spark, corpus_dir, tmp_path / "out", tmp_path / "ck", SCHEMA,
            "doc_id", "text", n_prefix=8, max_files_per_trigger=1,
            drift_score_expr=score,
        )
        q.awaitTermination(240)

    land("f0.parquet", [(i, long_doc + str(i)) for i in range(1, 21)])
    time.sleep(1.1)
    land("f1.parquet", [(100 + i, long_doc + "x" + str(i)) for i in range(1, 21)])
    run()
    rep = quality_drift_report(tmp_path / "out")
    assert rep is not None and rep["latest_batch"] == 1
    assert rep["psi"] < 0.1, rep  # same shape: stable

    # A shifted batch (all short docs) must read as large drift.
    time.sleep(1.1)
    land("f2.parquet", [(200 + i, short_doc + " " + str(i)) for i in range(1, 21)])
    run()
    audit = read_drift_audit(tmp_path / "out")
    assert [r["batch_id"] for r in audit] == [0, 1, 2]
    rep = quality_drift_report(tmp_path / "out")
    assert rep["latest_batch"] == 2
    assert rep["psi"] > 0.2, rep  # conventional "re-fit" threshold
    prep = {
        (r["stage"], r["metric"]): r["value"]
        for r in pipeline_report(spark, tmp_path / "out").collect()
    }
    assert prep[("drift", "latest_psi_e6")] > 200_000
    assert prep[("drift", "batches_recorded")] == 3


def test_quality_drift_excludes_other_score_expressions(tmp_path):
    """The drift monitor's score expression is restart-reconfigurable by
    design, so each drift_audit record carries its canonical expression
    string, and quality_drift_report compares the latest batch ONLY
    against same-expression history — a reference window silently mixing
    histograms of two different scores would make the PSI meaningless
    (ADVICE r10)."""
    import json

    from data_pipeline_challenge_spark.streaming.corpus_pipeline_stream import (
        quality_drift_report,
    )

    d = tmp_path / "out" / "drift_audit"
    d.mkdir(parents=True)

    def rec(bid, hist, expr):
        (d / f"b{bid}.json").write_text(
            json.dumps({"batch_id": bid, "hist": hist, "expr": expr})
        )

    flat = [10] * 10
    rec(0, flat, "old_score")
    rec(1, flat, "old_score")
    rec(2, flat, "new_score")
    # first batch under the new expression: NO comparable history → no PSI
    assert quality_drift_report(tmp_path / "out") is None
    rec(3, flat, "new_score")
    rep = quality_drift_report(tmp_path / "out")
    assert rep["reference_batches"] == [2]
    assert rep["reference_excluded"] == [0, 1]
    assert rep["psi"] < 0.01  # identical shape within the new expression


def test_pipeline_doctor_cli(spark, tmp_path):
    """tools/pipeline_doctor.py: exit 0 + 'healthy' on a clean funnel
    warehouse; exit 1 with targeted alerts once drift PSI crosses the
    threshold (injected histograms — the readers are already unit-tested,
    this pins the CLI wiring and alert logic)."""
    import json
    import subprocess
    import sys

    import pyspark.sql.functions as F

    from data_pipeline_challenge_spark.streaming.corpus_pipeline_stream import (
        start_corpus_pipeline_stream,
    )

    corpus_dir = tmp_path / "corpus_in"
    corpus_dir.mkdir()
    land = _doc_lander(corpus_dir)
    SCHEMA = "doc_id long, text string"
    doc = "a reasonably long document with plenty of words in it "
    land("f0.parquet", [(i, doc + str(i)) for i in range(1, 11)])
    land("f1.parquet", [(100 + i, doc + "x" + str(i)) for i in range(1, 11)])
    q = start_corpus_pipeline_stream(
        spark, corpus_dir, tmp_path / "out", tmp_path / "ck", SCHEMA,
        "doc_id", "text", n_prefix=8,  # one 2-file batch: no starvation
    )
    q.awaitTermination(240)

    def doctor():
        return subprocess.run(
            [sys.executable, "tools/pipeline_doctor.py", str(tmp_path / "out")],
            capture_output=True, text=True, cwd="/root/repo", timeout=600,
        )

    r = doctor()
    assert r.returncode == 0, r.stdout + r.stderr
    assert "healthy: no alerts" in r.stdout

    # Inject a drifting histogram pair: the CLI must alert and exit 1.
    d = tmp_path / "out" / "drift_audit"
    d.mkdir()
    (d / "b0.json").write_text(json.dumps(
        {"batch_id": 0, "hist": [0, 0, 0, 0, 0, 20, 0, 0, 0, 0]}))
    (d / "b1.json").write_text(json.dumps(
        {"batch_id": 1, "hist": [20, 0, 0, 0, 0, 0, 0, 0, 0, 0]}))
    r = doctor()
    assert r.returncode == 1, r.stdout + r.stderr
    assert "drift PSI" in r.stdout
    assert "batch stores swept" in r.stdout  # the r18 invariant sweep ran

    # a deliberately gapped store is flagged by the sweep (VERDICT r17
    # #6): land an increment far past the committed frontier, as a
    # foreign checkpoint's silent fold would
    from data_pipeline_challenge_spark.batchstore import (
        append_batch_increment as _app,
    )

    exact = tmp_path / "out" / "exact" / "docs"
    _app(
        spark.createDataFrame([(999, "x")], "doc_id long, text string"),
        exact,
        3,
    )
    r = doctor()
    assert r.returncode == 1, r.stdout + r.stderr
    assert "store invariant" in r.stdout and "gapped batch ids" in r.stdout


def test_store_invariant_sweep(spark, tmp_path):
    """batchstore.audit_warehouse_stores (VERDICT r17 #6): zero
    violations on healthy stores; a deliberately gapped id sequence, a
    malformed marker, and a corrupt sidecar are each flagged; a
    resequencer-fed downstream store's doubled (legitimately gapped)
    ids are NOT flagged while the reseq arrival stores stay checked."""
    import json
    import shutil

    from data_pipeline_challenge_spark.batchstore import (
        append_batch_increment,
        audit_batch_store,
        audit_warehouse_stores,
        consolidate_batch_store,
        find_batch_stores,
    )

    root = tmp_path / "wh"
    store = root / "gate" / "docs"

    def df(b):
        return spark.createDataFrame([(b, f"d{b}")], "id long, text string")

    for b in range(4):
        append_batch_increment(df(b), store, b)
    # an empty fold leaves a sentinel — still contiguous
    append_batch_increment(df(4).limit(0), store, 4)
    append_batch_increment(df(5), store, 5)
    assert find_batch_stores(root) == [store]
    assert audit_warehouse_stores(root) == []

    # consolidation keeps it healthy
    consolidate_batch_store(spark, store, up_to=3)
    assert audit_warehouse_stores(root) == []

    # a deliberately gapped store (simulating a foreign checkpoint that
    # folded past missing history) is flagged
    shutil.rmtree(store / "ingest_batch=5")
    append_batch_increment(df(7), store, 7)
    probs = audit_warehouse_stores(root)
    assert len(probs) == 1 and "gapped batch ids" in probs[0], probs
    assert "5" in probs[0] and "6" in probs[0]

    # the operator-acknowledged repair: record the known-empty gap ids
    # as sentinels — applied to the ROOT the guard message prints (the
    # helper recurses into the batch stores beneath), writing strictly
    # BELOW the refused batch id so an overshoot can never convert a
    # real future batch into a guard-skipped replay — then the audit
    # goes clean and the guard accepts the refused id as committed+1
    import pytest as _pytest

    from data_pipeline_challenge_spark.batchstore import (
        backfill_empty_sentinels,
        last_batch_id,
        sequential_fold_guard,
    )

    with _pytest.raises(RuntimeError, match="no batch store"):
        backfill_empty_sentinels(root / "nowhere", 8)
    assert backfill_empty_sentinels(root / "gate", 8) == [5, 6]
    assert last_batch_id(store) == 7  # never advanced past real history
    assert audit_warehouse_stores(root) == []
    assert sequential_fold_guard(8, 7, store) is True

    # malformed marker and corrupt sidecar are flagged
    (store / "_consolidated.json").write_text("{not json")
    (root / "gate" / "_gate_params.json").write_text("also not json")
    probs = audit_warehouse_stores(root)
    assert any("malformed _consolidated" in p for p in probs)
    assert any("JSON sidecar" in p for p in probs)

    # resequencer-fed downstream store: doubled ids are by design
    att = tmp_path / "att"
    (att / "reseq").mkdir(parents=True)
    for fold_id in (0, 2, 6):  # 2B ids, one batch released nothing
        append_batch_increment(df(fold_id), att / "attrib", fold_id)
    for b in range(3):  # arrival ids stay gap-free and checked
        append_batch_increment(df(b), att / "reseq" / "wm", b)
    assert audit_batch_store(att / "attrib") == []
    assert audit_warehouse_stores(att) == []
    shutil.rmtree(att / "reseq" / "wm" / "ingest_batch=1")
    probs = audit_warehouse_stores(att)
    assert len(probs) == 1 and "wm" in probs[0] and "gapped" in probs[0]
    # backfill on a reseq-bearing root refuses: buffer/wm ids are the
    # ARRIVAL space, the siblings the downstream fold space
    from data_pipeline_challenge_spark.batchstore import (
        backfill_empty_sentinels as _bes,
    )

    with _pytest.raises(RuntimeError, match="resequencer"):
        _bes(att, 8)
    # targeting the sub-store explicitly repairs it
    assert _bes(att / "reseq" / "wm", 3) == [1]
    assert audit_warehouse_stores(att) == []

    # crash-leftover tmp dirs are surfaced ONLY once stale (a live
    # stream's in-flight write must not page the operator)
    import os as _os
    import time as _time

    leftover = tmp_path / "lw" / "s"
    append_batch_increment(df(0), leftover, 0)
    tmpdir = leftover / ".consolidate.1.tmp"
    tmpdir.mkdir()
    assert audit_warehouse_stores(tmp_path / "lw") == []  # fresh: in-flight
    old = _time.time() - 7200
    _os.utime(tmpdir, (old, old))
    probs = audit_warehouse_stores(tmp_path / "lw")
    assert len(probs) == 1 and "consolidation tmp" in probs[0]

    # a crashed rebuild_swap's aside/tmp trees: excluded from the store
    # listing (a dead copy must not shadow-audit) and flagged once stale
    rw = tmp_path / "rw"
    live = rw / "gate"
    append_batch_increment(df(0), live / "docs", 0)
    aside = rw / ".gate.pre-rebuild"
    append_batch_increment(df(0), aside / "docs", 0)
    append_batch_increment(df(3), aside / "docs", 3)  # gapped, but dead
    from data_pipeline_challenge_spark.batchstore import find_batch_stores

    assert find_batch_stores(rw) == [live / "docs"]
    assert audit_warehouse_stores(rw) == []  # fresh leftover: in-flight
    # staleness is judged by the NEWEST mtime anywhere in the tree (an
    # in-flight rebuild touches deep files while the root mtime
    # freezes), so aging only the top dir must NOT flag it...
    _os.utime(aside, (old, old))
    assert audit_warehouse_stores(rw) == []
    # ...while aging the whole tree does
    for dpath, dnames, fnames in _os.walk(aside):
        for name in dnames + fnames:
            _os.utime(Path(dpath) / name, (old, old))
    probs = audit_warehouse_stores(rw)
    assert len(probs) == 1 and "rebuild" in probs[0], probs
