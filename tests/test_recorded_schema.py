"""Recorded read schemas of the batch stores and ANN index tables.

Every store and index writer records the schema Spark would infer for
its data (``batchstore.SCHEMA_FILE``), and the readers use it instead of
running a parquet schema-inference job. These tests pin that the
recorded schema IS the inferred one for every store a small funnel, its
retrieval index and the three ANN indexes write; that a store written
without the file still reads; and that an append which disagrees with
the recorded schema is refused.
"""

from __future__ import annotations

import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest


def _land(corpus_dir, name, rows, mtime):
    import os

    ids, texts = zip(*rows)
    p = corpus_dir / name
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)}), str(p)
    )
    os.utime(p, (mtime, mtime))


def test_recorded_schema_equals_inferred(spark, tmp_path):
    from data_pipeline_challenge_spark.batchstore import (
        SCHEMA_FILE,
        audit_batch_store,
        find_batch_stores,
        has_data,
        read_store,
        read_table,
        recorded_schema,
    )
    from data_pipeline_challenge_spark.operators import similarity as sim
    from data_pipeline_challenge_spark.streaming import corpus_pipeline_stream as cps
    from data_pipeline_challenge_spark.streaming.filter_gate_stream import gopher_keep

    rng = random.Random(5)
    vocab = [f"word{i}" for i in range(80)]
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    for f in range(2):
        rows = [(f * 100 + i, " ".join(rng.sample(vocab, 30))) for i in range(8)]
        rows.append((f * 100 + 50, rows[0][1]))  # an exact duplicate
        rows.append((f * 100 + 60, "too short"))  # a quality reject
        _land(corpus, f"f{f}.parquet", rows, 1_700_000_000 + 10 * f)
        if f == 0:
            contaminated = rows[1][1]
    eval_df = spark.createDataFrame([(-1, contaminated)], "doc_id long, text string")
    out, idx = tmp_path / "out", tmp_path / "idx"
    cps.start_corpus_pipeline_stream(
        spark, corpus, out, tmp_path / "ck", "doc_id long, text string",
        "doc_id", "text",
        quality_expr=gopher_keep("text", min_tokens=5, max_tokens=80),
        eval_df=eval_df, max_files_per_trigger=1, n_prefix=8,
        retrieval_index_dir=idx,
    ).awaitTermination(240)

    dim = 8
    vecs = [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(60)]
    emb = spark.createDataFrame(list(enumerate(vecs)), "vec_id long, embedding array<float>")
    ann = tmp_path / "ann"
    sim.lsh_build_index(emb.filter("vec_id < 40"), ann, dim=dim, n_planes=3)
    sim.ivf_build_index(emb.filter("vec_id < 40"), ann, n_clusters=4)
    sim.pq_build_index(emb.filter("vec_id < 40"), ann, m=2, n_codes=4)
    sim.append_index_increments(emb.filter("vec_id >= 40"), ann, 0)

    stores = [
        s
        for root in (out, idx, ann)
        for s in find_batch_stores(root)
        if has_data(s)
    ]
    names = {s.relative_to(tmp_path).as_posix() for s in stores}
    for expected in ("idx/postings", "idx/doclen", "ann/bucketed_inc", "ann/assigned_inc", "ann/codes_inc"):
        assert expected in names, sorted(names)
    assert len([n for n in names if n.startswith("out/")]) >= 5, sorted(names)
    for store in stores:
        recorded = recorded_schema(store)
        assert recorded is not None, store
        assert read_store(spark, store).schema == recorded
        # names, order, types, nullability and partition columns
        assert recorded == spark.read.parquet(str(store)).schema, store
        assert audit_batch_store(store) == [], store
    for table in ("bucketed", "assigned", "codes"):
        recorded = recorded_schema(ann / table)
        assert recorded is not None, table
        assert read_table(spark, ann / table).schema == recorded
        assert recorded == spark.read.parquet(str(ann / table)).schema, table

    # A store written before schemas were recorded reads by inference,
    # with the same rows, and the doctor names it.
    legacy = tmp_path / "legacy_postings"
    shutil.copytree(idx / "postings", legacy)
    (legacy / SCHEMA_FILE).unlink()
    assert recorded_schema(legacy) is None
    cols = ["doc_id", "term", "tf", "dl", "ingest_batch", "term_bucket"]
    assert sorted(read_store(spark, legacy).select(cols).collect()) == sorted(
        read_store(spark, idx / "postings").select(cols).collect()
    )
    assert any(SCHEMA_FILE in p for p in audit_batch_store(legacy))

    # A schema file that disagrees with a data file's footer is reported.
    bad = tmp_path / "bad_doclen"
    shutil.copytree(idx / "doclen", bad)
    (bad / SCHEMA_FILE).write_text(
        (bad / SCHEMA_FILE).read_text().replace('"long"', '"string"')
    )
    assert any("disagrees" in p for p in audit_batch_store(bad))


def test_append_with_another_schema_is_refused(spark, tmp_path):
    from data_pipeline_challenge_spark.batchstore import (
        append_batch_increment,
        read_store,
        recorded_schema,
    )

    store = tmp_path / "s"
    append_batch_increment(
        spark.createDataFrame([(1, "a", 2)], "k long, v string, w int"), store, 0,
        partition_by="k",
    )
    recorded = "struct<v:string,w:int,ingest_batch:int,k:int>"
    assert recorded_schema(store).simpleString() == recorded
    with pytest.raises(ValueError) as err:
        append_batch_increment(
            spark.createDataFrame([(2, 7, 2)], "k long, v long, w int"), store, 1,
            partition_by="k",
        )
    assert "struct<v:bigint,w:int,ingest_batch:int,k:int>" in str(err.value)
    assert recorded in str(err.value)
    # the refused batch left nothing behind
    assert not (store / "ingest_batch=1").exists()
    assert not list(tmp_path.glob(".s.b1.tmp"))
    assert [tuple(r) for r in read_store(spark, store).collect()] == [("a", 2, 0, 1)]

    # a batch that leaves a data column out is read with it as null
    append_batch_increment(
        spark.createDataFrame([(3, 4)], "k long, w int"), store, 1, partition_by="k"
    )
    assert {tuple(r) for r in read_store(spark, store).collect()} == {
        ("a", 2, 0, 1), (None, 4, 1, 3),
    }
