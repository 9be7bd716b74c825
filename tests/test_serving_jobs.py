"""Spark-job budget of the serving probes.

Each probe kind runs under its own job group and its jobs are counted
with ``statusTracker``. Jobs are fixed latency (~0.1–0.3 s each on a
small box), so a probe should launch only the jobs its query needs: the
BM25 probe hashes its terms without a job and lists only the query's
postings leaves (no listing job, even over an index with far more than
Spark's 32-path parallel-discovery threshold of bucket dirs), every
store and index is read with its recorded schema (no footer-read job),
and an ANN probe evaluates the caller's query frame once.
"""

from __future__ import annotations

import random
import uuid

#: jobs per probe, pinned. bm25: four query jobs. lsh / ivf: query
#: vector, query. pq: one more job for the rerank's keyed join. hybrid:
#: bm25 + lsh, less the one job their fused plan shares.
BUDGET = {"bm25": 4, "lsh": 2, "ivf": 2, "pq": 3, "hybrid": 5}


def _jobs(spark, fn):
    """(job ids, stage names) of the jobs ``fn()`` launches."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    ids = sorted(tracker.getJobIdsForGroup(group))
    names = [
        tracker.getStageInfo(s).name
        for j in ids
        for s in tracker.getJobInfo(j).stageIds
    ]
    return ids, names


def test_probe_job_budget(spark, tmp_path):
    from data_pipeline_challenge_spark.operators import similarity as sim
    from data_pipeline_challenge_spark.streaming import retrieval_stream as rs

    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(300)]
    docs = [(i, " ".join(rng.choice(vocab) for _ in range(12))) for i in range(200)]
    idx = tmp_path / "idx"
    for b in range(2):
        batch = spark.createDataFrame(docs[b * 100 : (b + 1) * 100], "doc_id long, text string")
        rs.fold_batch(spark, idx, batch, b, "doc_id", "text")
    leaves = list((idx / "postings").glob("ingest_batch=*/term_bucket=*"))
    assert len(leaves) > 2 * 32  # a whole-store read would list them in a job

    dim = 8
    vecs = [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(200)]
    spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<float>"
    ).write.parquet(str(tmp_path / "emb"))
    emb = spark.read.parquet(str(tmp_path / "emb"))
    ann = tmp_path / "ann"
    sim.lsh_build_index(emb, ann / "lsh", dim=dim, n_planes=3)
    sim.ivf_build_index(emb, ann / "ivf", n_clusters=4)
    sim.pq_build_index(emb, ann / "pq", m=2, n_codes=4)

    def query():
        # list-backed, like a client's query: each evaluation is a job
        return spark.createDataFrame([(vecs[5],)], "embedding array<float>")

    terms = ["w1", "w2", "w3"]
    probes = {
        "bm25": lambda: rs.bm25_search(spark, idx, terms, k=5).collect(),
        "lsh": lambda: sim.lsh_topk_indexed(
            spark, ann / "lsh", query(), k=5, probe_hamming=1
        ).collect(),
        "ivf": lambda: sim.ivf_topk_indexed(
            spark, ann / "ivf", query(), k=5, n_probe=2
        ).collect(),
        "pq": lambda: sim.pq_topk_indexed(
            spark, ann / "pq", query(), emb, k=5
        ).collect(),
        "hybrid": lambda: rs.hybrid_search_indexed(
            spark, idx, terms, ann / "lsh", query(), k=5, depth=10,
            ann_probe="lsh", probe_hamming=1,
        ).collect(),
    }
    for fn in probes.values():
        fn()  # first plans and reads are not what the budget pins

    counts = {}
    for kind, fn in probes.items():
        ids, names = _jobs(spark, fn)
        counts[kind] = len(ids)
        # every store and index is read with its recorded schema
        assert not any(n.startswith("parquet at") for n in names), (kind, names)
        if kind != "bm25":
            # the query frame is evaluated by one action of the probe
            # and then scored as a literal, not broadcast again
            assert sum("similarity.py" in n for n in names) == 1, (kind, names)
    assert counts == BUDGET, counts

    # With revocations, the hybrid probe reads the revoked store with its
    # recorded schema and takes its counts from the committed record.
    rs.revoke_docs(spark, idx, spark.createDataFrame([(0,)], "doc_id long"))
    probes["hybrid"]()
    _, names = _jobs(spark, probes["hybrid"])
    assert not any(
        n.startswith("parquet at") or n.startswith("first at retrieval_stream.py")
        for n in names
    ), names

    # Building a store's view runs no job once its schema is recorded
    # (a whole-store read of fewer than 32 leaves: more are listed by a
    # job of their own, which is what ``partition=`` avoids).
    from data_pipeline_challenge_spark.batchstore import read_store

    for store in ("doclen", "revoked"):
        ids, names = _jobs(spark, lambda: read_store(spark, idx / store))
        assert ids == [], (store, names)


def test_lsh_probe_lists_only_probed_buckets(spark, tmp_path):
    """On an LSH index with 64 buckets (more leaves than Spark's 32-path
    parallel-discovery threshold), in the base and in a live increment,
    a probe hands Spark only its probed ``bucket=`` leaves: no listing
    job, and the answer equals the in-flight ``ann_topk``."""
    from data_pipeline_challenge_spark.operators import similarity as sim
    from data_pipeline_challenge_spark.session import local_frame

    rng = random.Random(11)
    dim = 8
    vecs = [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(600)]
    emb = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<float>"
    )
    index = tmp_path / "lsh"
    sim.lsh_build_index(emb.filter("vec_id < 400"), index, dim=dim, n_planes=6)
    sim.append_index_increments(emb.filter("vec_id >= 400"), index, 0)
    assert len(list((index / "bucketed").glob("bucket=*"))) > 32
    assert len(list((index / "bucketed_inc").glob("ingest_batch=0/bucket=*"))) > 32

    # a LocalRelation query: collecting its vector launches no job
    query = local_frame(spark, [(vecs[7],)], "embedding array<float>")
    probe = lambda: sim.lsh_topk_indexed(  # noqa: E731
        spark, index, query, k=5, probe_hamming=1
    ).collect()
    probe()
    ids, names = _jobs(spark, probe)
    assert len(ids) == 1, names  # the query's own job, no listing job
    expect = sim.ann_topk(emb, query, dim=dim, k=5, n_planes=6, probe_hamming=1)
    assert probe() == expect.collect()
