"""The repo benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload deliveries --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints, as its last stdout line, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` every end-to-end metric, with ``--trace 1`` every
per-layer metric (layers a workload does not exercise report 0). The
line before it stamps the run with box contention. See README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import sys
from pathlib import Path

# the benchmark modules, then the repository (the package and bench.py)
sys.path[:0] = [str(Path(__file__).resolve().parent)]
sys.path.append(str(Path(__file__).resolve().parent.parent))

import harness  # noqa: E402

WORKLOADS = {"deliveries": "wl_deliveries", "corpus": "wl_corpus"}

SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
#: metric name -> unit, in BENCHMARK.json's order
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
#: end-to-end figures the traced run reports again as ``trace.<name>``:
#: minus the untraced run's figures of the same seed, they are the
#: tracing overhead
TRACED_E2E = ("items_per_s", "write_p50_s", "read_mean_ms")


def result_line(correct: bool, attempted: int, failed: int, values: dict, units: dict) -> str:
    """The pinned output schema: exactly these four keys, each metric a
    ``{"value", "unit"}`` pair."""
    metrics = {n: {"value": float(values[n]), "unit": unit} for n, unit in units.items()}
    return json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics})


def _traced_layers(mod, res: dict, run: harness.Run, tracer: harness.Tracer) -> dict:
    from eventlog import EventLog, find_log

    log = EventLog.read(find_log(run.event_log_dir))
    t0, t1 = res["window"]
    jobs = log.jobs_between(t0, t1)
    parent_of = {s.id: s.parent for s in tracer.spans}
    out = {f"spark.{k}": v for k, v in log.summary(jobs, run.cores, t0, t1).items()}
    out.update({f"spark.callsite.{g}.jobs": n for g, n in log.by_group(jobs).items()})
    out.update(mod.layer_metrics(res, tracer, log, log.by_span(jobs, parent_of)))
    for name in TRACED_E2E:
        out[f"trace.{name}"] = res["metrics"][name]
    out["trace.read_p50_ms"] = harness.median(res["read_ms"])
    out["trace.read_p90_ms"] = harness.percentile(res["read_ms"], 90)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    mod = importlib.import_module(WORKLOADS[args.workload])
    meter = harness.contention_meter()
    load_start = harness.load1()
    run = harness.Run(args.workload, args.seed, bool(args.trace))
    tracer = harness.Tracer(bool(args.trace))
    try:
        try:
            res = mod.run(run, args.seed, args.seconds, tracer)
            peak_rss_mb = run.peak_rss_mb()
            # read while the JVM is alive: the meter counts only live
            # processes of this tree as its own
            box = {
                "foreign_cores": meter.foreign_cores_avg() or 0.0,
                "load1_start": load_start,
                "load1_end": harness.load1(),
            }
        finally:
            tracer.unwrap_all()
            run.stop_spark()
        if args.trace:
            values = _traced_layers(mod, res, run, tracer)
            values["driver.peak_rss_mb"] = peak_rss_mb
            units = PER_LAYER
        else:
            values = res["metrics"]
            units = END_TO_END
        if args.trace:
            values.update({f"box.{k}": v for k, v in box.items()})
            values = {n: values.get(n, 0.0) for n in units}
    finally:
        run.cleanup()
    for err in res["errors"][:20]:
        print(f"perfbench: {err}", file=sys.stderr)
    print(json.dumps({"context": {"workload": args.workload, "seed": args.seed, "cores": run.cores,
                                  "timed_wall_s": res["wall"], "box": box}}))
    print(result_line(res["failed"] == 0, res["attempted"], res["failed"], values, units))
    return 0


if __name__ == "__main__":
    sys.exit(main())
