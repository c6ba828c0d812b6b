"""Per-layer metrics of the traced run.

A workload's own traced passes measure the layers on its path. The
layers it does not reach are measured by a probe: one batch-sized slice
of the same seed's records through that layer, warmed up, then traced
(the typed lane and the side store take the median of several traced
repetitions). So every traced run reports every layer, and a metric
compares between runs of one workload. Which layers each workload
measures on its own passes is listed in :data:`ON_PATH`.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import checks
import gen
from cdk_dynamodb_cdc_spark import CdcPipeline
from cdk_dynamodb_cdc_spark.functions.diff import compare_images
from cdk_dynamodb_cdc_spark.functions.dynamo import dumps_canonical, unmarshall
from cdk_dynamodb_cdc_spark.operators.claim_check import write_side_store
from cdk_dynamodb_cdc_spark.schemas import CDC_RECORD_SCHEMA
from telemetry import STAGE_COUNTERS
from workloads import drain, event_rows, noop_write, write_shards

BENCHMARK_JSON = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"
)
PROBE_RECORDS = 600  # one micro-batch of cdc_stream_drain
PROBE_SHARDS = 3
SIDE_STORE_REPS = 3
# planning the typed lane's generated expression tree keeps getting
# faster for several writes as the JIT compiles the optimizer
TYPED_WARM_UPS = 3
TYPED_REPS = 3
STREAM_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                 "walCommit", "commitOffsets")
EVENTS = "operators.pipeline.events"
QUARANTINE = "operators.pipeline.quarantine"
TYPED = "operators.typed_diff.events"
SIDE_STORE = "operators.claim_check.write_side_store"
DRAIN = "streaming.drain"
SPANS = (EVENTS, QUARANTINE, TYPED, SIDE_STORE, DRAIN)
ON_PATH = {
    "cdc_batch_dynamic": (EVENTS, QUARANTINE),
    "cdc_stream_drain": (DRAIN,),
}
_COUNTER_UNITS = {"jobs": "count", "stages": "count", "tasks": "count",
                  "executor_cpu_s": "s", "executor_run_s": "s", "gc_s": "s",
                  "input_bytes": "bytes", "shuffle_bytes": "bytes"}


def declared(trace: bool) -> list[str]:
    """Metric names BENCHMARK.json declares for this kind of run."""
    with open(BENCHMARK_JSON) as fh:
        bench = json.load(fh)
    return [m["name"] for m in bench["per_layer" if trace else "end_to_end"]]


def functions_probe(min_seconds: float = 0.5) -> float:
    """In-process ``unmarshall`` + ``compare_images`` +
    ``dumps_canonical`` in microseconds per record, on a fixed sample
    (seed 0, the same for every run) of well-formed records."""
    records, _ = gen.generate(0, PROBE_RECORDS)
    images = []
    for r in records:
        try:
            docs = tuple(json.loads(x) if x else None for x in (r[7], r[6]))
            for doc in docs:
                unmarshall(doc)
        except ValueError:
            continue  # malformed rows are not part of the sample
        images.append(docs)

    def one_pass() -> None:
        for new_raw, old_raw in images:
            new = unmarshall(new_raw)
            old = unmarshall(old_raw)
            _, before, after = compare_images(new, old)
            for doc in (before, after, new, old):
                if doc is not None:
                    dumps_canonical(doc)

    reps = []
    deadline = time.perf_counter() + min_seconds
    while len(reps) < 3 or time.perf_counter() < deadline:
        t0 = time.perf_counter()
        one_pass()
        reps.append((time.perf_counter() - t0) / len(images) * 1e6)
    return statistics.median(reps)


def _slice(wl, name: str, records):
    root = os.path.join(wl.work, name)
    os.makedirs(root)
    src = os.path.join(root, "records.jsonl")
    with open(src, "wb") as fh:
        fh.write(gen.to_json_lines(records))
    out = os.path.join(root, "records.parquet")
    wl.spark.read.schema(CDC_RECORD_SCHEMA).json(src).write.parquet(out)
    return wl.spark.read.parquet(out)


def _probe_dynamic(wl, tracer) -> None:
    df = _slice(wl, "probe_dynamic", wl.records[:PROBE_RECORDS])
    pipe = CdcPipeline()
    noop_write(pipe.events(df))
    with tracer.span("probe"):
        with tracer.span(EVENTS):
            noop_write(pipe.events(df))
        with tracer.span(QUARANTINE):
            noop_write(pipe.quarantine(df))


def _probe_typed(wl, tracer) -> list[str]:
    """Trace the typed lane on in-domain records of the run's seed;
    returns the mismatches of its output against the generator's."""
    records, expected = gen.generate(wl.seed, PROBE_RECORDS, typed=True)
    df = _slice(wl, "probe_typed", records)
    pipe = CdcPipeline(item_schema=gen.ITEM_SCHEMA)
    for _ in range(TYPED_WARM_UPS):
        noop_write(pipe.events(df))
    for _ in range(TYPED_REPS):
        with tracer.span("probe"):
            with tracer.span(TYPED):
                noop_write(pipe.events(df))
    events = checks.summarize_events(event_rows(pipe.events(df)))
    return [f"typed lane: {p}" for p in checks.reconcile_batch(expected, events, None)]


def _probe_side_store(wl, tracer) -> None:
    df = _slice(wl, "probe_side", wl.records[:PROBE_RECORDS])
    path = os.path.join(wl.work, "probe_side", "store")
    write_side_store(df, path, batch_id=0)
    for k in range(SIDE_STORE_REPS):
        with tracer.span("probe"):
            with tracer.span(SIDE_STORE):
                write_side_store(df, path, batch_id=k + 1)


def _probe_stream(wl, tracer):
    """Drain PROBE_SHARDS micro-batches; returns (progress, unaccounted)."""
    n = PROBE_RECORDS * PROBE_SHARDS
    records, expected = gen.generate(wl.seed, n)
    src = os.path.join(wl.work, "probe_shards")
    write_shards(src, [records[i:i + PROBE_RECORDS] for i in range(0, n, PROBE_RECORDS)])
    tracer.enabled = False  # warm-up drain
    drain(wl.spark, src, os.path.join(wl.work, "probe_drain0"), tracer)
    tracer.enabled = True
    with tracer.span("probe"):
        progress, sink, _ = drain(
            wl.spark, src, os.path.join(wl.work, "probe_drain1"), tracer
        )
    return progress, checks.unaccounted(expected, wl.spark.read.parquet(sink).count())


def _groups(spans: list[dict]) -> dict[str, list[dict]]:
    """For each span name, one total per parent span (a pass or a
    probe): summed duration and Spark counters of its spans."""
    totals: dict[tuple, dict] = {}
    for s in spans:
        if s["name"] not in SPANS:
            continue
        t = totals.setdefault((s["name"], s["parent"]),
                              {"s": 0.0, **dict.fromkeys(STAGE_COUNTERS, 0)})
        t["s"] += s["end"] - s["start"]
        for c in STAGE_COUNTERS:
            t[c] += s["spark"][c]
    out: dict[str, list[dict]] = {}
    for (name, _), t in totals.items():
        out.setdefault(name, []).append(t)
    return out


def per_layer(wl, tracer, untraced: dict, traced: dict):
    """Every per-layer metric as ``name -> (value, unit)``, and the
    mismatches of the probes' outputs."""
    path = ON_PATH[wl.name]
    if EVENTS not in path:
        _probe_dynamic(wl, tracer)
    problems = _probe_typed(wl, tracer)
    _probe_side_store(wl, tracer)
    if DRAIN in path:
        progress = wl.progress
        lost = checks.unaccounted(wl.expected, wl.events_out)
    else:
        progress, lost = _probe_stream(wl, tracer)

    med = statistics.median
    groups = _groups(tracer.spans)
    m = {"functions.unmarshall_diff_us_per_record": (functions_probe(), "us")}
    for name in (EVENTS, QUARANTINE, TYPED, SIDE_STORE):
        m[f"{name}_s"] = (med(g["s"] for g in groups[name]), "s")
    by_parent = {}
    for s in tracer.spans:
        if s["name"] in (EVENTS, QUARANTINE):
            c = s["spark"]
            by_parent[s["parent"]] = (by_parent.get(s["parent"], 0.0)
                                      + c["executor_run_s"] - c["executor_cpu_s"])
    m["operators.pipeline.python_worker_s"] = (med(by_parent.values()), "s")

    for phase in STREAM_PHASES:
        m[f"streaming.{phase}_ms"] = (
            med(p.durationMs.get(phase, 0) for p in progress), "ms")
    drains = groups[DRAIN]
    m["streaming.jobs_per_batch"] = (
        sum(g["jobs"] for g in drains) / len(progress), "count")
    m["streaming.input_bytes_per_batch"] = (
        sum(g["input_bytes"] for g in drains) / len(progress), "bytes")
    m["streaming.input_rows_per_batch"] = (
        med(p.numInputRows for p in progress), "count")
    m["streaming.unaccounted_records"] = (lost, "count")

    for name in SPANS:
        for c in STAGE_COUNTERS:
            m[f"{name}.spark.{c}"] = (med(g[c] for g in groups[name]), _COUNTER_UNITS[c])
    m["trace.overhead_s"] = (med(traced["walls"]) - med(untraced["walls"]), "s")
    m["trace.spans"] = (len(tracer.spans), "count")
    return m, problems
