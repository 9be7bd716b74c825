"""Workload ``corpus``: the screening funnel, then search over its output.

Set-up writes one seeded micro-batch of synthetic documents (planted
quality rejects, eval-set contamination, exact and near duplicates) and
builds the LSH, IVF and PQ indexes over the seeded embeddings. The timed
part runs ``start_corpus_pipeline_stream`` (scrub → quality → decontam
→ exact → near → retrieval index) over the batch, then a closed loop of
in-process search probes: ``bm25_search`` over the funnel's own
retrieval index, ``lsh_/ivf_/pq_topk_indexed`` and
``hybrid_search_indexed``.
"""

from __future__ import annotations

import os
import statistics
import time

import checks
import harness
import inputs

DOCS = 1200
FILES = 4
#: Prefix partitions of the dedup stores. The default (256) is sized for
#: a very large history; on a 1200-doc batch it writes hundreds of tiny
#: files and doubles the funnel's wall time.
N_PREFIX = 16
#: timed probe rounds after the funnel; each round runs every probe kind
#: once. One untimed round before them plans each kind's queries and
#: reads its index for the first time.
PROBE_ROUNDS = 2
K, DEPTH = 10, 50
#: probe kind -> span name (the layer it calls into)
PROBES = {"bm25": "retrieval.bm25", "lsh": "similarity.lsh", "ivf": "similarity.ivf",
          "pq": "similarity.pq", "hybrid": "retrieval.hybrid"}
STAGES = ("quality", "decontam", "exact", "near", "retrieval")


def _write_inputs(run_dir, data) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    corpus = run_dir / "corpus"
    corpus.mkdir()
    docs = data["docs"]
    per = -(-len(docs) // FILES)
    for f in range(FILES):
        chunk = docs[f * per : (f + 1) * per]
        p = corpus / f"part_{f}.parquet"
        pq.write_table(pa.table({"doc_id": pa.array([d[0] for d in chunk], pa.int64()),
                                 "text": pa.array([d[1] for d in chunk])}), str(p))
        os.utime(p, (1_700_000_000, 1_700_000_000))  # one micro-batch
    emb = run_dir / "embeddings.parquet"
    pq.write_table(pa.table({"vec_id": pa.array(range(len(docs)), pa.int64()),
                             "embedding": pa.array(data["embeddings"], pa.list_(pa.float32()))}), str(emb))
    return {"corpus": corpus, "embeddings": emb}


def _build_indexes(emb_df, root, dim):
    from data_pipeline_challenge_spark.operators import similarity as sim

    root.mkdir()
    n = emb_df.count()
    sim.lsh_build_index(emb_df, root / "lsh", dim=dim, n_planes=sim.lsh_planes_for_corpus(n, k=K))
    sim.ivf_build_index(emb_df, root / "ivf", n_clusters=16)
    sim.pq_build_index(emb_df, root / "pq")


def install_tracing(tracer: harness.Tracer) -> None:
    from data_pipeline_challenge_spark.streaming import corpus_pipeline_stream as cps
    from data_pipeline_challenge_spark.streaming import retrieval_stream

    stage_mods = {
        "quality": cps.filter_gate_stream, "decontam": cps.decontam_stream,
        "exact": cps.dedup_stream, "near": cps.near_dedup_stream, "retrieval": retrieval_stream,
    }
    for name, mod in stage_mods.items():
        tracer.wrap(mod, "fold_batch", f"funnel.{name}")
    tracer.wrap(cps, "maybe_consolidate_in_stream", "batchstore.consolidate")


def _probe(spark, kind, q, idx, ann, emb_df):
    """Run one probe to completion (plan and collect); returns its rows."""
    from data_pipeline_challenge_spark.operators import similarity as sim
    from data_pipeline_challenge_spark.streaming import retrieval_stream as rs

    qdf = spark.createDataFrame([(q["vec"],)], "embedding array<float>")
    if kind == "bm25":
        return rs.bm25_search(spark, idx, q["terms"], k=K).collect()
    if kind == "lsh":
        return sim.lsh_topk_indexed(spark, ann / "lsh", qdf, k=K, probe_hamming=1).collect()
    if kind == "ivf":
        return sim.ivf_topk_indexed(spark, ann / "ivf", qdf, k=K, n_probe=4).collect()
    if kind == "pq":
        return sim.pq_topk_indexed(spark, ann / "pq", qdf, emb_df, k=K).collect()
    return rs.hybrid_search_indexed(
        spark, idx, q["terms"], ann / "lsh", qdf, k=K, depth=DEPTH, ann_probe="lsh", probe_hamming=1
    ).collect()


def _check_probe(kind, rows, q, kept_texts, vecs):
    if kind == "bm25":
        got = [(r["doc_id"], r["bm25"]) for r in rows]
        return checks.check_ranked(got, checks.bm25_reference(kept_texts, q["terms"], K), "bm25")
    if kind == "hybrid":
        ranked = [d for d, _ in checks.bm25_reference(kept_texts, q["terms"], DEPTH)]
        return checks.check_hybrid([r.asDict() for r in rows], ranked, K, DEPTH)
    return checks.check_ann([(r["vec_id"], r["sim"]) for r in rows], vecs, q["vec"], K, kind)


def run(run: harness.Run, seed: int, seconds: float, tracer: harness.Tracer) -> dict:
    import pyspark.sql.functions as F

    from data_pipeline_challenge_spark.functions.textfn import scrub_pii
    from data_pipeline_challenge_spark.streaming import corpus_pipeline_stream as cps
    from data_pipeline_challenge_spark.streaming.filter_gate_stream import gopher_keep

    spark = run.start_spark()
    tracer.attach(spark)
    install_tracing(tracer)
    data = inputs.corpus_inputs(seed, DOCS)
    paths = _write_inputs(run.dir, data)
    emb_df = spark.read.parquet(str(paths["embeddings"]))

    # set-up: the three ANN indexes. It runs once: it is also the JVM's
    # warm-up, and repeating it would not fit the run's time budget.
    ann = run.dir / "ann"
    t0 = time.perf_counter()
    _build_indexes(emb_df, ann, data["dim"])
    setup_s = time.perf_counter() - t0
    eval_df = spark.createDataFrame([(-1 - i, t) for i, t in enumerate(data["eval"])], "doc_id long, text string")
    out, idx = run.dir / "funnel", run.dir / "retrieval_index"

    t_start = time.time()
    t0 = time.perf_counter()
    stream = cps.start_corpus_pipeline_stream(
        spark, paths["corpus"], out, run.dir / "checkpoint", "doc_id long, text string",
        "doc_id", "text",
        quality_expr=gopher_keep("text", min_tokens=20, max_tokens=80),
        eval_df=eval_df,
        transform_exprs={"text": scrub_pii(F.col("text"))},
        max_files_per_trigger=FILES,
        min_shared=8,
        n_prefix=N_PREFIX,
        retrieval_index_dir=idx,
    )
    stream.awaitTermination()
    batch_s = time.perf_counter() - t0
    funnel_end = time.time()

    warm = data["queries"][-1]  # not one of the timed rounds' queries
    for kind in PROBES:
        _probe(spark, kind, warm, idx, ann, emb_df)
    probes = []
    rounds = 0
    while rounds < PROBE_ROUNDS or time.perf_counter() - t0 < seconds:
        q = data["queries"][rounds % len(data["queries"])]
        for kind, span in PROBES.items():
            p0 = time.perf_counter()
            with tracer.span(span):
                rows = _probe(spark, kind, q, idx, ann, emb_df)
            probes.append({"kind": kind, "s": time.perf_counter() - p0, "rows": rows, "q": q})
        rounds += 1
    t_end = time.time()
    wall = time.perf_counter() - t0

    # checks, outside the timed region
    errors = []
    failed = 0
    kept_df = cps.current_corpus(spark, out)
    kept = {row["doc_id"]: row["text"] for row in kept_df.collect()} if kept_df is not None else {}
    errs = checks.check_kept(set(kept), checks.expected_kept(data["docs"]))
    errors += errs
    failed += int(bool(errs))
    vecs = data["embeddings"]
    recalls = {k: [] for k in ("lsh", "ivf", "pq")}
    for p in probes:
        try:
            errs = _check_probe(p["kind"], p["rows"], p["q"], kept, vecs)
        except Exception as exc:  # noqa: BLE001 - a malformed answer is a failed op
            errs = [f"{p['kind']} check raised {exc!r}"]
        errors += errs
        failed += int(bool(errs))
        if p["kind"] in recalls:
            truth = checks.true_topk(vecs, p["q"]["vec"], K)
            recalls[p["kind"]].append(checks.recall([row["vec_id"] for row in p["rows"]], truth))

    input_bytes = harness.dir_bytes(paths["corpus"])
    stored = harness.dir_bytes(out) + harness.dir_bytes(idx)
    read_ms = [p["s"] * 1000.0 for p in probes]
    metrics = {
        "setup_s": setup_s,
        "items_per_s": DOCS / batch_s,
        "write_p50_s": batch_s,
        "write_max_s": batch_s,
        "read_mean_ms": statistics.mean(read_ms),
        "stored_bytes_per_input_byte": stored / input_bytes,
    }
    detail = {"recalls": recalls, "stored_bytes": stored, "funnel_end": funnel_end, "n_in": DOCS}
    if tracer.enabled:
        detail["store_rows"] = _store_rows(spark, out, idx)
    return {
        "metrics": metrics, "errors": errors, "attempted": 1 + len(probes), "failed": failed, "read_ms": read_ms,
        "window": (t_start, t_end), "wall": wall, "detail": detail,
    }


def _store_rows(spark, out, idx) -> dict:
    from data_pipeline_challenge_spark.batchstore import read_batch_store

    stores = {"quality": out / "quality" / "docs", "decontam": out / "decontam" / "docs",
              "exact": out / "exact" / "docs", "near": out / "near" / "docs", "retrieval": idx / "doclen"}
    return {k: read_batch_store(spark, p).count() for k, p in stores.items()}


def layer_metrics(res: dict, tracer: harness.Tracer, log, jobs_by_span: dict) -> dict:
    t_start, t_end = res["window"]
    det = res["detail"]
    inside = [s for s in tracer.spans if s.t1 and t_start <= s.t0 <= t_end]
    out = {}
    rows = det["store_rows"]
    prev = det["n_in"]
    stage_total = 0.0
    for st in STAGES:
        spans = [s for s in inside if s.name == f"funnel.{st}" and s.t0 <= det["funnel_end"]]
        secs = sum(s.seconds for s in spans)
        stage_total += secs
        out[f"funnel.{st}_s"] = secs
        out[f"funnel.{st}_jobs"] = sum(len(jobs_by_span.get(s.id, [])) for s in spans)
        out[f"funnel.{st}_keep_ratio"] = rows[st] / prev if prev else 0.0
        prev = rows[st]
    consolidate = [s for s in inside if s.name == "batchstore.consolidate"]
    out["batchstore.consolidate_s"] = sum(s.seconds for s in consolidate)
    out["funnel.overhead_s"] = res["metrics"]["write_p50_s"] - stage_total - out["batchstore.consolidate_s"]
    out["batchstore.stored_mb"] = det["stored_bytes"] / (1 << 20)

    def med_ms(name):
        return harness.median([s.seconds * 1000.0 for s in inside if s.name == name and s.parent is None])

    out["retrieval.bm25_ms"] = med_ms("retrieval.bm25")
    out["retrieval.hybrid_ms"] = med_ms("retrieval.hybrid")
    top = [s for s in inside if s.parent is None and s.name.startswith(("retrieval.", "similarity."))]
    out["retrieval.jobs_per_probe"] = harness.median([len(jobs_by_span.get(s.id, [])) for s in top])
    for kind in ("lsh", "ivf", "pq"):
        out[f"similarity.{kind}_ms"] = med_ms(f"similarity.{kind}")
    out["similarity.recall_at_10"] = harness.median([r for v in det["recalls"].values() for r in v])
    return out
