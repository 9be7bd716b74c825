"""Self-tests of the benchmark (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import itertools
import json
import re

import checks
import eventlog
import harness
import inputs
import run


# ------------------------------------------------------------------ inputs


def _deliveries(seed, n_records, n):
    return list(itertools.islice(inputs.product_deliveries(seed, n_records), n))


def test_same_seed_gives_identical_inputs():
    assert _deliveries(7, 400, 3) == _deliveries(7, 400, 3)
    a, b = inputs.corpus_inputs(7, 300), inputs.corpus_inputs(7, 300)
    assert json.dumps(a, sort_keys=True) == json.dumps(b, sort_keys=True)


def test_different_seed_gives_different_inputs():
    assert _deliveries(7, 400, 3) != _deliveries(8, 400, 3)
    a, b = inputs.corpus_inputs(7, 300), inputs.corpus_inputs(8, 300)
    assert json.dumps(a, sort_keys=True) != json.dumps(b, sort_keys=True)


def test_deliveries_mix_updates_new_and_invalid_records():
    base, second = _deliveries(3, 1000, 2)
    base_codes = {r["code"] for r in json.loads(base) if checks.record_valid(r)}
    recs = json.loads(second)
    valid = [r for r in recs if checks.record_valid(r)]
    updates = sum(r["code"] in base_codes for r in valid)
    assert 450 <= updates <= 560 and len(valid) - updates >= 450
    assert len(recs) - len(valid) == int(1000 * inputs.INVALID_SHARE)


def test_corpus_plants_every_kind_and_keeps_eval_words_out_of_clean_docs():
    data = inputs.corpus_inputs(5, 1000)
    kinds = [k for _, _, k in data["docs"]]
    for kind, share in inputs.CORPUS_SHARES.items():
        assert kinds.count(kind) == int(1000 * share)
    eval_words = {w for t in data["eval"] for w in t.split()}
    texts = {i: t for i, t, _ in data["docs"]}
    for i, text, kind in data["docs"]:
        words = set(text.split())
        assert bool(words & eval_words) == (kind == "contaminated")
        if kind == "near":
            orig = next(j for j, t in texts.items() if j < i and text.startswith(t + " "))
            assert checks.expected_kept(data["docs"]) >= {orig}


# ------------------------------------------------------------ output schema


def test_benchmark_json_is_well_formed():
    spec = run.SPEC
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert spec["command"] == ["python3", "perfbench/run.py"] and spec["paths"] == ["perfbench"]
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    for name in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", name), name
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert {f"trace.{n}" for n in run.TRACED_E2E} <= set(run.PER_LAYER)


def test_output_schema_is_pinned():
    values = {n: 1.5 for n in run.END_TO_END}
    line = json.loads(run.result_line(True, 10, 0, values, run.END_TO_END))
    assert list(line) == ["correct", "attempted", "failed", "metrics"]
    assert line["correct"] is True and line["attempted"] == 10 and line["failed"] == 0
    assert list(line["metrics"]) == list(run.END_TO_END)
    for name, m in line["metrics"].items():
        assert m == {"value": 1.5, "unit": run.END_TO_END[name]}


# ------------------------------------------------------- product checks


def _model():
    model = checks.ProductModel()
    model.apply(json.dumps([
        {"code": "001", "product_name": "sweet oat 1", "brands": "A", "id": "x"},
        {"code": "002", "product_name": "dark cocoa 2", "nutriments": {"fat_100g": 1.5}},
        {"code": 3, "product_name": "bad"},
    ]).encode(), "f1")
    status = model.apply(json.dumps([{"code": "001", "product_name": "sweet oat 9"}]).encode(), "f2")
    return model, status


def test_model_follows_set_semantics():
    model, status = _model()
    assert model.expected_product("001") == {
        "code": "001", "product_name": "sweet oat 9", "file_id": "f2", "brands": "A"}
    assert status == {"total_records": 1, "records_processed": 1, "records_failed": 0,
                      "status": "processed"}
    assert model.by_name["sweet oat 9"] == {"001"} and not model.by_name["sweet oat 1"]


def test_find_code_check_catches_a_stale_product_name():
    model, _ = _model()
    right = model.expected_product("001")
    assert checks.check_find_code(200, dict(right, last_modified_at_company="t"), right) == []
    stale = dict(right, product_name="sweet oat 1")
    assert checks.check_find_code(200, stale, right)
    assert checks.check_find_code(200, right, None)  # a miss answered as a hit


def test_name_checks_catch_wrong_answers():
    model, _ = _model()
    good = {"products": [model.expected_product("001")]}
    assert checks.check_find_exact(200, good, "sweet oat 9", model) == []
    assert checks.check_find_exact(200, {"products": []}, "sweet oat 9", model)
    assert checks.check_find_partial(200, good, "OAT", model) == []
    wrong = {"products": [model.expected_product("002")]}
    assert checks.check_find_partial(200, wrong, "oat", model)


def test_status_and_table_checks_catch_wrong_counts():
    model, status = _model()
    body = {"status": "processed", "total_records": 1, "records_processed": 1, "records_failed": 0}
    assert checks.check_status(200, body, status) == []
    assert checks.check_status(200, dict(body, records_failed=1), status)
    rows = [model.expected_product("001")]
    assert checks.check_table(rows, model, 2) == []
    assert checks.check_table(rows, model, 3)


# -------------------------------------------------------- corpus checks


def test_kept_check_catches_a_dropped_doc():
    docs = inputs.corpus_inputs(2, 200)["docs"]
    want = checks.expected_kept(docs)
    assert checks.check_kept(set(want), want) == []
    assert checks.check_kept(set(want) - {min(want)}, want)


def test_bm25_check_catches_changed_scores_and_docs():
    texts = {1: "a b c", 2: "a a d", 3: "d e f", 4: "b b b a"}
    ref = checks.bm25_reference(texts, ["a", "b"], 3)
    assert [d for d, _ in ref] == [4, 1, 2]
    assert checks.check_ranked(list(ref), ref, "bm25") == []
    assert checks.check_ranked([(ref[0][0], ref[0][1] + 0.01), *ref[1:]], ref, "bm25")
    assert checks.check_ranked([ref[0], (3, ref[1][1]), ref[2]], ref, "bm25")


def test_ann_and_hybrid_checks_catch_wrong_answers():
    vecs = [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]]
    q = [1.0, 0.2]
    top = checks.true_topk(vecs, q, 2)
    got = [(i, checks.cosine(vecs[i], q)) for i in top]
    assert checks.check_ann(got, vecs, q, 2, "lsh") == []
    assert checks.check_ann([(top[0], 0.5), got[1]], vecs, q, 2, "lsh")
    assert checks.recall([top[0]], top) == 0.5
    rows = [{"doc_id": 7, "rrf_score": 1 / 61 + 1 / 62, "rank_1": 1, "rank_2": 2},
            {"doc_id": 8, "rrf_score": 1 / 62, "rank_1": 2, "rank_2": None}]
    assert checks.check_hybrid(rows, [7, 8], 10, 50) == []
    assert checks.check_hybrid([dict(rows[0], rank_1=2), rows[1]], [7, 8], 10, 50)


# --------------------------------------------------------------- event log


def _events():
    def job(jid, t0, t1, span, site, stages):
        # a job Spark runs on a helper thread has no callSite.short
        # property; its first stage's name carries the call site
        props = {"perfbench.span": span, **({"callSite.short": site} if jid == 0 else {})}
        return [
            {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t0, "Stage IDs": stages,
             "Stage Infos": [{"Stage ID": stages[0], "Stage Name": site}], "Properties": props},
            {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t1,
             "Job Result": {"Result": "JobSucceeded"}},
        ]

    def task(stage, run_ms, sw=0, ok=True):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
                "Task Metrics": {"Executor Run Time": run_ms,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
                                 "Output Metrics": {"Bytes Written": 1 << 20}}}

    site = "collect at /x/data_pipeline_challenge_spark/sources/ledger.py:503"
    lines = job(0, 1000, 2000, "0", site, [0, 1]) + job(1, 3000, 3500, "1", "call at /x/py4j/clientserver.py:644", [2])
    lines += [task(0, 400, sw=2 << 20), task(0, 600, ok=False), task(2, 500)]
    return [json.dumps(e) for e in lines]


def test_event_log_attributes_jobs_to_modules_and_spans():
    log = eventlog.EventLog.parse(_events())
    jobs = log.jobs_between(0.5, 4.0)
    assert [j.id for j in jobs] == [0, 1]
    assert log.by_group(jobs)["sources"] == 1 and log.by_group(jobs)["other"] == 1
    by_span = log.by_span(jobs, {0: None, 1: 0})
    assert [j.id for j in by_span[0]] == [0, 1] and [j.id for j in by_span[1]] == [1]
    s = log.summary(jobs, cores=2, t0=0.5, t1=4.5)
    assert s["jobs"] == 2 and s["stages"] == 2 and s["tasks"] == 3 and s["failed_tasks"] == 1
    assert s["executor_run_s"] == 1.5 and s["shuffle_write_mb"] == 2.0 and s["output_mb"] == 3.0
    assert abs(s["driver_gap_s"] - 2.5) < 1e-9 and abs(s["busy_core_share"] - 1.5 / 8) < 1e-9


def test_event_log_counts_a_reused_stage_once():
    # AQE: job 0 runs the shuffle map stage 5; result job 1 lists it
    # again (skipped) and runs stage 6
    start = [{"Event": "SparkListenerJobStart", "Job ID": j, "Submission Time": 1000 * (j + 1),
              "Stage IDs": ids, "Properties": {}} for j, ids in ((0, [5]), (1, [5, 6]))]
    tasks = [{"Event": "SparkListenerTaskEnd", "Stage ID": st, "Task End Reason": {"Reason": "Success"},
              "Task Metrics": {"Executor Run Time": 100,
                               "Shuffle Write Metrics": {"Shuffle Bytes Written": (1 << 20) * (st == 5)},
                               "Shuffle Read Metrics": {"Local Bytes Read": (1 << 20) * (st == 6)}}}
             for st in (5, 5, 6)]
    log = eventlog.EventLog.parse([json.dumps(e) for e in start + tasks])
    jobs = log.jobs_between(0, 5)
    s = log.summary(jobs, cores=1, t0=0, t1=5)
    assert s["stages"] == 2 and s["tasks"] == 3 and s["executor_run_s"] == 0.3
    assert s["shuffle_write_mb"] == 2.0 and s["shuffle_read_mb"] == 1.0
    # the result job alone ran only stage 6
    assert [st.tasks for st in log.ran_stages([log.jobs[1]])] == [1]


def test_callsite_group():
    assert eventlog.callsite_group("count at /a/data_pipeline_challenge_spark/pipeline.py:9") == "pipeline"
    assert eventlog.callsite_group("x at /a/data_pipeline_challenge_spark/streaming/dedup_stream.py:1") == "streaming"
    assert eventlog.callsite_group("call at /x/py4j/clientserver.py:644") == "other"


# ------------------------------------------------------------------ tracer


class _Box:
    def f(self, x):
        return x + 1


def test_tracer_nests_spans_and_restores_wrapped_functions():
    tracer = harness.Tracer(True)
    orig = _Box.f
    tracer.wrap(_Box, "f", "box.f")
    with tracer.span("outer"):
        assert _Box().f(1) == 2
    tracer.unwrap_all()
    assert _Box.f is orig
    outer, inner = tracer.spans
    assert inner.parent == outer.id and inner.name == "box.f" and outer.t1 >= inner.t1
    off = harness.Tracer(False)
    off.wrap(_Box, "f", "box.f")
    assert _Box.f is orig and not off.spans


def test_percentile_is_nearest_rank():
    xs = list(range(1, 11))
    assert harness.percentile(xs, 90) == 9 and harness.percentile(xs, 50) == 5
    assert harness.percentile([3.0], 90) == 3.0

