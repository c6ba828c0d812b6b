"""The benchmark's workloads.

Every workload is a closed loop with one client: a pass processes the
seed's whole input as a sequence of batches, and the next batch starts
when the previous one has finished. An operation is one batch:

* cdc_batch_dynamic -- ``CdcPipeline().events(slice)`` then
  ``.quarantine(slice)``, each written to the noop sink;
* cdc_stream_drain  -- one micro-batch (one JSON-lines shard) of
  ``CdcPipeline.run_stream`` with a side store, draining the backlog
  with ``available_now``.

All calls go through the engine's public functions; the spans around
them are recorded here, not inside the engine.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import types as T

import checks
import gen
from cdk_dynamodb_cdc_spark import CdcPipeline
from cdk_dynamodb_cdc_spark.schemas import CDC_RECORD_SCHEMA
from cdk_dynamodb_cdc_spark.streaming.stream import read_cdc_stream

# Input sizes. A dynamic slice is stored as SLICE_FILES parquet files,
# so its mapInPandas runs on that many cores. On 4 cores a slice's events
# + quarantine writes cost ~0.9 s fixed plus ~0.21 ms per record, so at
# 12,000 records the per-record work is ~3/4 of the time. A stream batch
# costs a fixed ~0.7 s on top of its per-record work.
BATCH_RECORDS = {"cdc_batch_dynamic": 12000, "cdc_stream_drain": 600}
BATCHES = {"cdc_batch_dynamic": 1, "cdc_stream_drain": 3}
SLICE_FILES = 4
WARM_UP_SEED = 0
# passes until a pass's time has mostly stopped falling (JIT); the
# stream's many small jobs take longest to settle
WARM_UP_PASSES = {"cdc_batch_dynamic": 2, "cdc_stream_drain": 4}


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def event_rows(df):
    return df.select(
        "event_id", "attributes_changed", "images_url", "operation"
    ).collect()


class Workload:
    """Inputs and passes of one workload; ``work`` is its scratch dir."""

    def __init__(self, name: str, spark, work: str, seed: int, tracer):
        self.name = name
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.batch_records = BATCH_RECORDS[name]
        self.n_batches = BATCHES[name]
        self.records, self.expected = gen.generate(
            seed, self.batch_records * self.n_batches
        )
        self.n_records = len(self.records)
        self._loads = 0

    def _batches(self, records):
        b = self.batch_records
        return [records[i:i + b] for i in range(0, len(records), b)]

    def _write_input(self, name: str, records):
        """Write ``records`` where the workload's source reads them;
        returns what :meth:`_pass` takes."""
        raise NotImplementedError

    def _pass(self, source) -> list[float]:
        """Process ``source`` batch by batch; returns each batch's ms."""
        raise NotImplementedError

    def load(self) -> None:
        """Set-up: write the seed's input (timed, repeated)."""
        self._loads += 1
        self.source = self._write_input(f"input{self._loads}", self.records)

    def warm_up(self) -> None:
        """Untimed: passes over the same fixed records in every run, so
        the JVM's JIT profile does not depend on the seed."""
        records, _ = gen.generate(WARM_UP_SEED, self.n_records)
        source = self._write_input("warm_up", records)
        for _ in range(WARM_UP_PASSES[self.name]):
            self._pass(source)

    def run_pass(self) -> list[float]:
        """One timed pass over the seed's input."""
        return self._pass(self.source)

    def check(self) -> list[str]:
        """Mismatches between the engine's output and the generator's
        expected results (untimed)."""
        raise NotImplementedError


class BatchDynamic(Workload):
    def __init__(self, *a):
        super().__init__(*a)
        self.pipe = CdcPipeline()

    def _write_input(self, name: str, records) -> list[str]:
        root = os.path.join(self.work, name)
        os.makedirs(root)
        src = os.path.join(root, "records.jsonl")
        with open(src, "wb") as fh:
            for i, batch in enumerate(self._batches(records)):
                fh.write(gen.to_json_lines(batch, batch=i))
        out = os.path.join(root, "records.parquet")
        schema = T.StructType(
            CDC_RECORD_SCHEMA.fields + [T.StructField("batch", T.IntegerType())]
        )
        # round-robin: each task writes an equal share of every slice
        (self.spark.read.schema(schema).json(src).repartition(SLICE_FILES)
         .write.partitionBy("batch").parquet(out))
        slices = [os.path.join(out, f"batch={i}") for i in range(self.n_batches)]
        for path in slices:
            n = self.spark.read.parquet(path).rdd.getNumPartitions()
            if n != SLICE_FILES:
                raise RuntimeError(f"{path} reads as {n} partitions, not {SLICE_FILES}")
        return slices

    def _pass(self, slices) -> list[float]:
        ops = []
        for i, path in enumerate(slices):
            df = self.spark.read.parquet(path)
            t0 = time.perf_counter()
            with self.tracer.span("operators.pipeline.events", batch=i):
                noop_write(self.pipe.events(df))
            with self.tracer.span("operators.pipeline.quarantine", batch=i):
                noop_write(self.pipe.quarantine(df))
            ops.append((time.perf_counter() - t0) * 1e3)
        return ops

    def check(self) -> list[str]:
        df = self.spark.read.parquet(*self.source)
        events = checks.summarize_events(event_rows(self.pipe.events(df)))
        return checks.reconcile_batch(
            self.expected, events, self.pipe.quarantine(df).count()
        )


def write_shards(src: str, batches) -> None:
    """One JSON-lines file per micro-batch (the stream reads one file
    per trigger)."""
    os.makedirs(src)
    for i, batch in enumerate(batches):
        with open(os.path.join(src, f"shard-{i:04d}.json"), "wb") as fh:
            fh.write(gen.to_json_lines(batch))


def drain(spark, src: str, root: str, tracer):
    """Drain the backlog in ``src`` through ``CdcPipeline.run_stream``
    into ``root/{sink,ckpt,side}``; returns the progress of each data
    micro-batch and the sink and side-store paths."""
    sink, ckpt, side = (os.path.join(root, d) for d in ("sink", "ckpt", "side"))
    with tracer.span("streaming.drain") as rec:
        stream = read_cdc_stream(
            spark, src, starting_position="trim_horizon", max_files_per_trigger=1
        )
        q = CdcPipeline().run_stream(
            stream, sink_path=sink, checkpoint_path=ckpt,
            side_store_path=side, available_now=True,
        )
        q.awaitTermination()
    if rec is not None:
        # the query runs its micro-batch jobs under its own run id
        rec["stream_run_id"] = str(q.runId)
        rec["spark"] = tracer.group_totals(str(q.runId))
    return [p for p in q.recentProgress if p.numInputRows > 0], sink, side


class StreamDrain(Workload):
    def __init__(self, *a):
        super().__init__(*a)
        self.passes = 0
        self.progress = []  # data micro-batches of the traced passes

    def _write_input(self, name: str, records) -> str:
        src = os.path.join(self.work, name)
        write_shards(src, self._batches(records))
        # the source's schema-on-read parse of the backlog, once
        self.spark.read.schema(CDC_RECORD_SCHEMA).json(src).count()
        return src

    def _pass(self, src: str) -> list[float]:
        # keep only the latest drain on disk
        shutil.rmtree(os.path.join(self.work, f"drain{self.passes}"), ignore_errors=True)
        self.passes += 1
        progress, self.sink, self.side = drain(
            self.spark, src, os.path.join(self.work, f"drain{self.passes}"),
            self.tracer,
        )
        if len(progress) != self.n_batches:
            raise RuntimeError(
                f"drained {len(progress)} micro-batches, expected {self.n_batches}"
            )
        if self.tracer.enabled:
            self.progress.extend(progress)
        return [float(p.batchDuration) for p in progress]

    def check(self) -> list[str]:
        rows = event_rows(self.spark.read.parquet(self.sink))
        self.events_out = len(rows)
        side_rows = self.spark.read.parquet(self.side).count()
        return checks.reconcile_stream(
            self.expected, checks.summarize_events(rows), side_rows
        )


WORKLOADS = {
    "cdc_batch_dynamic": BatchDynamic,
    "cdc_stream_drain": StreamDrain,
}
