"""Workload ``deliveries``: the paper's design point on one warehouse.

One closed-loop client against an in-process ``api.ApiServer``. Each
step uploads one seeded openfoodfacts-style delivery (``POST /upload``,
multipart) and runs ``POST /admin/ingest``, then issues one
reference-route read of each kind over HTTP (code hit, code miss, exact
name, partial name, upload status; the seed picks codes and names).
Set-up brings a fresh warehouse to base + 1 delta and reads once of
each kind, so no timed step is the first of its kind. The timed loop
runs at least one whole fold cycle and until ``--seconds`` have passed,
so it crosses one merge-on-read fold and reads see every pending-delta
depth of the cycle.
"""

from __future__ import annotations

import http.client
import itertools
import json
import os
import random
import statistics
import time
import uuid
from pathlib import Path
from urllib.parse import quote

import checks
import harness
import inputs

RECORDS_PER_DELIVERY = 30_000
#: Merge-on-read fold cadence of the benchmark's warehouse (the engine
#: default is 8): a cycle of FOLD_EVERY deliveries ends in one fold.
FOLD_EVERY = 3
#: untimed deltas set-up ingests after the base: the first delta runs
#: code paths the base does not, cold
WARMUP = 1


class Client:
    def __init__(self, port: int, tracer: harness.Tracer):
        self.port = port
        self.tracer = tracer
        self._next_request = 0

    def _request(self, method: str, path: str, body: bytes | None = None, headers=None):
        self._next_request += 1
        self.tracer.request = self._next_request
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=170)
        try:
            t0 = time.perf_counter()
            conn.request(method, path, body=body, headers=headers or {})
            resp = conn.getresponse()
            data = resp.read()
            elapsed = time.perf_counter() - t0
        finally:
            conn.close()
            self.tracer.request = None
        return resp.status, json.loads(data), elapsed, self._next_request

    def upload(self, name: str, payload: bytes):
        boundary = uuid.uuid4().hex
        body = (
            f"--{boundary}\r\nContent-Disposition: form-data; name=\"file\"; "
            f"filename=\"{name}\"\r\nContent-Type: application/json\r\n\r\n"
        ).encode() + payload + f"\r\n--{boundary}--\r\n".encode()
        return self._request(
            "POST", "/upload", body,
            {"Content-Type": f"multipart/form-data; boundary={boundary}",
             "Content-Length": str(len(body))},
        )

    def ingest(self):
        return self._request("POST", "/admin/ingest", b"", {"Content-Length": "0"})

    def get(self, path: str):
        return self._request("GET", path)


def _products_version(wh_dir: Path) -> str | None:
    link = wh_dir / "products"
    return os.readlink(link) if link.is_symlink() else None


def _deliver(client: Client, model: checks.ProductModel, k: int, payload: bytes) -> dict:
    """Upload + ingest one delivery; returns timings and the expected
    ledger row of the file."""
    status, body, up_s, _ = client.upload(f"delivery_{k:03d}.json", payload)
    if status != 200:
        raise RuntimeError(f"upload answered {status}: {body}")
    file_id = body["file_id"]
    status, body, ing_s, _ = client.ingest()
    if status != 200:
        raise RuntimeError(f"ingest answered {status}: {body}")
    want = model.apply(payload, file_id)
    got = body["files"].get(file_id, {})
    errs = [f"ingest report {k}: {key} {got.get(key)!r}, expected {v!r}"
            for key, v in want.items() if got.get(key) != v]
    return {"file_id": file_id, "want": want, "upload_s": up_s, "ingest_s": ing_s, "errors": errs}


def _read(client: Client, model: checks.ProductModel, kind: str, rng: random.Random, last: dict):
    """One reference-route read; returns (kind, seconds, request id, errors)."""
    if kind == "code_hit":
        code = rng.choice(list(model.rows))
        status, body, s, rid = client.get(f"/product/find/code/{code}")
        return s, rid, checks.check_find_code(status, body, model.expected_product(code))
    if kind == "code_miss":
        code = inputs.MISS_PREFIX + "".join(rng.choice("0123456789") for _ in range(12))
        status, body, s, rid = client.get(f"/product/find/code/{code}")
        return s, rid, checks.check_find_code(status, body, None)
    if kind == "exact":
        term = model.rows[rng.choice(list(model.rows))]["product_name"]
        status, body, s, rid = client.get(f"/product/find/name/exact/{quote(term)}")
        return s, rid, checks.check_find_exact(status, body, term, model)
    if kind == "partial":
        term = rng.choice(inputs.partial_terms())
        status, body, s, rid = client.get(f"/product/find/name/partial/{quote(term)}")
        return s, rid, checks.check_find_partial(status, body, term, model)
    status, body, s, rid = client.get(f"/upload/status/{last['file_id']}")
    return s, rid, checks.check_status(status, body, last["want"])


def _check_table(spark, wh, model: checks.ProductModel, rng: random.Random) -> list[str]:
    """Row count plus every field of a seeded sample of 2000 codes."""
    from data_pipeline_challenge_spark.api import _product_dict

    sample = rng.sample(sorted(model.rows), min(2000, len(model.rows)))
    products = wh.products()
    codes = spark.createDataFrame([(c,) for c in sample], "code string")
    rows = [_product_dict(r) for r in products.join(codes, "code", "left_semi").collect()]
    errs = checks.check_table(rows, model, products.count())
    if len(rows) != len(sample):
        errs.append(f"sample: {len(rows)} of {len(sample)} codes found")
    return errs


def install_tracing(tracer: harness.Tracer) -> None:
    from data_pipeline_challenge_spark.api import ApiServer
    from data_pipeline_challenge_spark.pipeline import ProductWarehouse
    from data_pipeline_challenge_spark.sources.ledger import LedgerStore

    for route in ("do_upload", "do_ingest", "do_status", "do_find_code", "do_find_exact", "do_find_partial"):
        tracer.wrap(ApiServer, route, f"api.{route}")
    tracer.wrap(ProductWarehouse, "ingest", "pipeline.ingest")
    tracer.wrap(ProductWarehouse, "products", "pipeline.products")
    tracer.wrap(LedgerStore, "append", "sources.ledger.append")
    tracer.wrap(LedgerStore, "status_of", "sources.ledger.status_of")


def run(run: harness.Run, seed: int, seconds: float, tracer: harness.Tracer) -> dict:
    from data_pipeline_challenge_spark.api import ApiServer
    from data_pipeline_challenge_spark.sources import json_ingest

    spark = run.start_spark()
    tracer.attach(spark)
    install_tracing(tracer)
    payloads = inputs.product_deliveries(seed, RECORDS_PER_DELIVERY)
    sent: list[bytes] = []
    rng = random.Random(f"client:{seed}")

    # set-up: a fresh warehouse holding the base delivery, then the
    # warm-up delta and one read of each kind. It runs once: it is also
    # the JVM's warm-up, and a second one would not fit the run's time
    # budget.
    wh_dir = run.dir / "warehouse"
    t0 = time.perf_counter()
    server = ApiServer(spark, wh_dir, run.dir / "landing")
    server.warehouse.delta_fold_threshold = FOLD_EVERY
    server.start()
    client = Client(server.port, tracer)
    model = checks.ProductModel()
    errors, failed = [], 0
    for k in range(1 + WARMUP):
        sent.append(next(payloads))
        last = _deliver(client, model, k, sent[-1])
        errors += last["errors"]
        failed += int(bool(last["errors"]))
    for kind in inputs.READ_KINDS:
        errs = _read(client, model, kind, rng, last)[2]
        errors += errs
        failed += int(bool(errs))
    setup_s = time.perf_counter() - t0

    # the timed loop: at least one whole cycle of FOLD_EVERY deliveries
    # (so exactly one fold), each followed by one read of every kind
    deliveries, reads = [], []
    convert_s = 0.0
    attempted = 1 + WARMUP + len(inputs.READ_KINDS)  # the set-up's operations
    folded = False
    t_start = time.time()
    t0 = time.perf_counter()
    try:
        for k in itertools.count(1 + WARMUP):
            if len(deliveries) >= FOLD_EVERY and time.perf_counter() - t0 >= seconds:
                break
            sent.append(next(payloads))
            before = _products_version(wh_dir)
            attempted += 1
            d = _deliver(client, model, k, sent[-1])
            d["fold"] = _products_version(wh_dir) != before
            folded |= d["fold"]
            d["records"] = d["want"]["records_processed"]
            convert_s += sum(c["seconds"] for c in json_ingest.LAST_CONVERSION_STATS.values())
            errors += d["errors"]
            failed += int(bool(d["errors"]))
            deliveries.append(d)
            for kind in inputs.READ_KINDS:
                attempted += 1
                try:
                    s, rid, errs = _read(client, model, kind, rng, d)
                except Exception as exc:  # noqa: BLE001 - a failed read is counted, not fatal
                    errs, s, rid = [f"{kind} read raised {exc!r}"], None, None
                errors += errs
                failed += int(bool(errs))
                if s is not None:
                    reads.append({"kind": kind, "s": s, "request": rid})
        t_end = time.time()
        wall = time.perf_counter() - t0
        if not folded:
            errors.append("the timed loop crossed no merge-on-read fold")
        attempted += 1
        table_errors = _check_table(spark, server.warehouse, model, rng)
        errors += table_errors
        failed += int(bool(table_errors) or not folded)
    finally:
        server.stop()

    input_bytes = sum(len(p) for p in sent)
    stored = harness.dir_bytes(wh_dir)
    delivery_s = [d["upload_s"] + d["ingest_s"] for d in deliveries]
    read_ms = [r["s"] * 1000.0 for r in reads]
    metrics = {
        "setup_s": setup_s,
        "items_per_s": sum(d["records"] for d in deliveries) / sum(delivery_s),
        "write_p50_s": harness.median(delivery_s),
        "write_max_s": max(delivery_s),
        "read_mean_ms": statistics.mean(read_ms),
        "stored_bytes_per_input_byte": stored / input_bytes,
    }
    return {
        "metrics": metrics,
        "errors": errors,
        "attempted": attempted,
        "failed": failed,
        "read_ms": read_ms,
        "window": (t_start, t_end),
        "wall": wall,
        "detail": {"deliveries": deliveries, "reads": reads, "convert_s": convert_s,
                   "stored_bytes": stored},
    }


def layer_metrics(res: dict, tracer: harness.Tracer, log, jobs_by_span: dict) -> dict:
    """Per-layer numbers of the timed window from the spans and the
    event log (``jobs_by_span`` is inclusive of child spans)."""
    t_start, t_end = res["window"]
    inside = [s for s in tracer.spans if s.t1 and t_start <= s.t0 <= t_end]

    def spans(name):
        return [s for s in inside if s.name == name]

    def jobs(sp):
        return jobs_by_span.get(sp.id, [])

    def med_ms(name):
        return harness.median([s.seconds * 1000.0 for s in spans(name)])

    def med_jobs(names):
        return harness.median([len(jobs(s)) for n in names for s in spans(n)])

    det = res["detail"]
    ingests = spans("pipeline.ingest")
    folds = [s for s, d in zip(ingests, det["deliveries"]) if d["fold"]]
    fold_jobs = [j for s in folds for j in jobs(s)]
    server_s = {s.request: s.seconds for s in inside if s.name.startswith("api.do_") and s.request}
    overhead = [r["s"] - server_s[r["request"]] for r in det["reads"] if r["request"] in server_s]
    finds = ("api.do_find_code", "api.do_find_exact", "api.do_find_partial")
    return {
        "api.upload_s": med_ms("api.do_upload") / 1000.0,
        "api.overhead_ms": harness.median(overhead) * 1000.0,
        "pipeline.ingest_s": med_ms("pipeline.ingest") / 1000.0,
        "pipeline.jobs_per_delivery": med_jobs(["pipeline.ingest"]),
        "pipeline.stages_per_delivery": harness.median([len(log.ran_stages(jobs(s))) for s in ingests]),
        "pipeline.fold_jobs": len(fold_jobs),
        "pipeline.fold_write_mb": sum(st.output for st in log.ran_stages(fold_jobs)) / (1 << 20),
        "pipeline.products_ms": med_ms("pipeline.products"),
        "pipeline.stored_mb": det["stored_bytes"] / (1 << 20),
        "sources.jsonl.convert_s": det["convert_s"],
        "sources.ledger.append_s": med_ms("sources.ledger.append") / 1000.0,
        "sources.ledger.jobs_per_append": med_jobs(["sources.ledger.append"]),
        "sources.ledger.status_ms": med_ms("sources.ledger.status_of"),
        "sources.ledger.jobs_per_status": med_jobs(["sources.ledger.status_of"]),
        "find.code_ms": med_ms("api.do_find_code"),
        "find.exact_ms": med_ms("api.do_find_exact"),
        "find.partial_ms": med_ms("api.do_find_partial"),
        "find.jobs_per_lookup": med_jobs(finds),
    }
