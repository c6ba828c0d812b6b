"""CDC-engine benchmark: one workload, one seed, one run.

    python3 cdcbench/run.py --workload cdc_batch_dynamic --seed 1 \
        --seconds 15 --trace 0

Run from the repository root. The run starts a ``local[N]`` Spark
session (N = usable cores), generates the seed's input, loads it three
times (set-up), warms up on fixed seed-0 records, then repeats passes
over the seed's input until ``--seconds`` have passed (at least
MIN_PASSES). It checks the engine's output against the generator's
expected results and prints every metric, one per line, followed by a
last line of JSON:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones. With
``--trace 1`` every other pass is traced, and the metrics are the
per-layer ones; spans are written to ``.cdcbench_out/``. Scratch files
live in ``.cdcbench_work/`` and are removed at exit. See
cdcbench/README.md for what each name means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_PASSES = 5  # in each half of a traced run, too
LOADS = 3
RUN_LIMIT_S = 175


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _start_spark(work: str):
    from cdk_dynamodb_cdc_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        "cdcbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # first job: executor threads, codegen
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _measure(wl, tracer, seconds: float, me: int, alternate: bool = False):
    """Repeat passes for ``seconds`` (at least MIN_PASSES each); returns
    (untraced, traced) samples. With ``alternate`` every other pass is
    traced, so both halves see the same warm-up and host load."""
    from telemetry import tree_cpu_s

    halves = ({"walls": [], "cpus": [], "ops": []},
              {"walls": [], "cpus": [], "ops": []})
    end = time.perf_counter() + seconds
    k = 0
    while (min(len(h["walls"]) for h in halves[:1 + alternate]) < MIN_PASSES
           or time.perf_counter() < end):
        tracer.enabled = alternate and k % 2 == 1
        half = halves[tracer.enabled]
        c0 = tree_cpu_s(me)
        t0 = time.perf_counter()
        with tracer.span("pass"):
            half["ops"].extend(wl.run_pass())
        half["walls"].append(time.perf_counter() - t0)
        half["cpus"].append(tree_cpu_s(me) - c0)
        k += 1
    tracer.enabled = alternate
    return halves


def main(argv=None) -> int:
    args = _parse(argv)
    # A run takes under two minutes; one that hangs (e.g. a JVM that
    # never connects back) is killed rather than left running.
    signal.alarm(RUN_LIMIT_S)
    sys.path[:0] = [HERE, ROOT]
    # Import the engine before touching the disk: without it there is
    # nothing to measure.
    import cdk_dynamodb_cdc_spark  # noqa: F401

    import layers
    from telemetry import RssSampler, Tracer, steal_jiffies
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".cdcbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # keep every scratch file of Python, the JVM and Spark in the checkout
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    me = os.getpid()
    steal0 = steal_jiffies()
    spark = None
    try:
        with RssSampler(me) as rss:
            t0 = time.perf_counter()
            spark = _start_spark(work)
            session_s = time.perf_counter() - t0
            tracer = Tracer(spark)
            wl = WORKLOADS[args.workload](args.workload, spark, work, args.seed, tracer)
            loads = []
            for _ in range(LOADS):
                t0 = time.perf_counter()
                wl.load()
                loads.append(time.perf_counter() - t0)
            wl.warm_up()
            untraced, traced = _measure(wl, tracer, args.seconds, me, bool(args.trace))
            timed = traced if args.trace else untraced
            problems = wl.check()
            if args.trace:
                metrics, probe_problems = layers.per_layer(wl, tracer, untraced, traced)
                problems += probe_problems
                out_dir = os.path.join(ROOT, ".cdcbench_out")
                os.makedirs(out_dir, exist_ok=True)
                tracer.write(os.path.join(
                    out_dir, f"trace-{args.workload}-{args.seed}.jsonl"))
        walls = timed["walls"]
        if not args.trace:
            metrics = {
                "setup_s": (session_s + _median(loads), "s"),
                "wall_s": (_median(walls), "s"),
                "records_per_s": (wl.n_records / _median(walls), "rec/s"),
                "cpu_s": (_median(timed["cpus"]), "s"),
                "batch_p50_ms": (_median(timed["ops"]), "ms"),
                "peak_rss_mb": (rss.peak_mb, "MB"),
            }
        metrics["host.steal_jiffies"] = (steal_jiffies() - steal0, "count")
        metrics["session_start_s"] = (session_s, "s")
        metrics["input_load_s"] = (_median(loads), "s")
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    ops = untraced["ops"] + traced["ops"]
    attempted = len(ops) + 1  # every batch, plus the output check
    failed = attempted if problems else 0
    for p in problems:
        print(f"INCORRECT: {p}")
    print(f"workload {args.workload}  seed {args.seed}  timed passes {len(walls)}  "
          f"batches {len(timed['ops'])}  records/pass {wl.n_records}")
    print("pass walls (s): " + " ".join(f"{w:.3f}" for w in walls))
    print(f"{'failed_frac':56s} {failed / attempted:14.6g} ratio")
    for name, (value, unit) in metrics.items():
        print(f"{name:56s} {value:14.6g} {unit}")
    declared = layers.declared(trace=bool(args.trace))
    missing = set(declared) - set(metrics)
    if missing:
        raise RuntimeError(f"declared metrics not measured: {sorted(missing)}")
    result = {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": metrics[k][0], "unit": metrics[k][1]} for k in declared
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
