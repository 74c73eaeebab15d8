"""Clickstream benchmark runner.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. Generates the workload's inputs
from the seed, starts a Spark session through the package's `get_spark`,
warms up, measures for `--seconds`, checks every result, and prints one
JSON object as the last line of standard output: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. Everything it
writes stays under the checkout (`.perfbench_work/`, `.perfbench_out/`).
Workloads, metrics and what each layer metric should move: README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

WORKLOADS = ("dashboard", "stream_features", "stream_raw")

#: generated input sizes
DASHBOARD_EVENTS = 500_000
DASHBOARD_DAYS = 30
DASHBOARD_ROW_GROUP = 100_000
CHUNK_EVENTS = 10_000
LOG_CHUNKS = {"stream_features": 3, "stream_raw": 10}
WARM_CHUNKS = 1
#: the reference's producer rates, events + page_views topics (BASELINE.md);
#: a chunk spans the event time that feed takes to send CHUNK_EVENTS,
#: about 18.7 s, so a 5-minute window takes rows from ~16 batches
FEED_PER_S = 7.421892360339542 + 528.3542953646505
CHUNK_SPAN_US = round(CHUNK_EVENTS / FEED_PER_S * 1e6)
#: the measured log starts 4.5 minutes into a window, so a window closes
#: in its second chunk and its state is evicted while the next one fills;
#: the warm-up log starts 10 s before a window ends, so its one chunk
#: crosses the boundary too, and the warm-up evicts a window and merges
#: into an existing table (a warm-up that did neither left the first
#: measured drain about twice as slow as the next)
LOG_START_US = 270_000_000
WARM_START_US = 290_000_000
#: share of each chunk's events the next chunk redelivers (FP1's keyed
#: upsert makes redelivery idempotent; FP2 counts every delivery)
REDELIVER = {"stream_features": 0.0, "stream_raw": 0.01}

#: driver JVM heap, fixed-size and touched in full at start, so peak RSS
#: does not depend on when the collector chose to grow or touch it
HEAP = "2g"

#: per-layer metrics every workload reports in a traced run; each
#: workload adds its own (`layer_metrics`), the rest read 0
COMMON_LAYER_METRICS = (
    "session.start_ms",
    "memory.python_peak_mib",
    "memory.jvm_rss_peak_mib",
    "memory.heap_retained_peak_mib",
    "trace.overhead_ms",
    "trace.overhead_share",
)


class Ctx:
    """What a workload reads (settings) and fills in (counts, metrics)."""

    def __init__(self, work: str, tracer) -> None:
        self.work, self.tracer = work, tracer
        self.attempted = self.failed = self.samples = 0
        #: the workload's note for the summary line
        self.summary = ""
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}

    def fail(self, msg: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {msg}", file=sys.stderr)

    def overhead(self, traced: dict, untraced: dict) -> None:
        """Tracing overhead from latencies keyed by operation (the query,
        or the batch's place in its drain): the median over keys of the
        traced minus the untraced median, so both sides share one mix."""
        med = statistics.median
        d = med(med(traced[k]) - med(untraced[k]) for k in traced.keys() & untraced.keys())
        self.layer["trace.overhead_ms"] = d
        self.layer["trace.overhead_share"] = d / med(v for vs in untraced.values() for v in vs)


def generate(workload: str, seed: int, root: str) -> dict:
    import numpy as np

    import gen

    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    if workload == "dashboard":
        inputs = {
            "dashboard": gen.write_dashboard(
                rng, f"{root}/dashboard", DASHBOARD_EVENTS, DASHBOARD_DAYS, DASHBOARD_ROW_GROUP
            )
        }
    else:
        logs = {"warm": (WARM_CHUNKS, WARM_START_US), "log": (LOG_CHUNKS[workload], LOG_START_US)}
        inputs = {
            name: gen.write_log(
                rng,
                f"{root}/{name}",
                n,
                CHUNK_EVENTS,
                gen.START_US + start,
                CHUNK_SPAN_US,
                REDELIVER[workload],
            )
            for name, (n, start) in logs.items()
        }
    gen.write_manifest(root, {"workload": workload, "seed": seed, **inputs})
    return inputs


def _stop(spark) -> None:
    """Stop the session and the JVM this process launched; wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(60)
        SparkContext._gateway = SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        from kafka_flink_streaming_pipeline_spark import get_spark
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    import tracing as tr

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # keep every file Spark and Python write inside the checkout
    os.environ.update(
        TMPDIR=str(work / "tmp"),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_DRIVER_MEM=HEAP,
    )
    spark = None
    try:
        t = time.perf_counter()
        inputs = generate(args.workload, args.seed, str(work / "inputs"))
        gen_s = time.perf_counter() - t

        tracer = tr.Tracer(enabled=bool(args.trace))
        ctx = Ctx(str(work), tracer)
        if args.workload == "dashboard":
            from dashboard import Dashboard

            wl = Dashboard(ctx, inputs)
        else:
            from streams import Stream

            wl = Stream(ctx, inputs, args.workload)

        # the generator and the oracle ran above; count only what follows
        tr.reset_peak_rss()
        t0 = time.perf_counter()
        spark = get_spark(
            f"perfbench-{args.workload}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": str(work / "warehouse"),
                # a fixed set of JIT compiler threads, which tracing.CpuClock
                # leaves out of the CPU time
                "spark.driver.extraJavaOptions": (
                    f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UseDynamicNumberOfCompilerThreads "
                    f"-Djava.io.tmpdir={work / 'tmp'}"
                ),
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        ctx.layer["session.start_ms"] = (time.perf_counter() - t0) * 1e3
        wl.warm_up(spark)
        ctx.e2e["setup_s"] = time.perf_counter() - t0

        t = time.perf_counter()
        wl.measure(spark, args.seconds)
        measure_s = time.perf_counter() - t
        mem = {
            "memory.python_peak_mib": tr.peak_rss_mib(),
            "memory.jvm_rss_peak_mib": tr.peak_rss_mib(spark.sparkContext._gateway.proc.pid),
            "memory.heap_retained_peak_mib": tr.heap_retained_peak_mib(spark),
        }
        ctx.layer.update(mem)
        ctx.e2e["peak_rss_mib"] = mem["memory.python_peak_mib"] + mem["memory.jvm_rss_peak_mib"]
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    # the metric names and units are BENCHMARK.json's
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    if args.trace:
        out = ROOT / ".perfbench_out"
        out.mkdir(exist_ok=True)
        tracer.write(str(out / f"spans-{args.workload}-{args.seed}.jsonl"))
        used = COMMON_LAYER_METRICS + wl.layer_metrics
        missing = [n for n in used if n not in ctx.layer]
        if missing:
            print(f"perfbench: {args.workload} did not report {missing}", file=sys.stderr)
            return 1
        # a layer the workload does not use did no work: 0
        metrics = {
            m["name"]: (ctx.layer[m["name"]] if m["name"] in used else 0.0, m["unit"])
            for m in spec["per_layer"]
        }
    else:
        metrics = {m["name"]: (ctx.e2e[m["name"]], m["unit"]) for m in spec["end_to_end"]}
    print(
        f"perfbench: workload={args.workload} seed={args.seed} gen_s={gen_s:.2f} "
        f"setup_s={ctx.e2e['setup_s']:.2f} measure_s={measure_s:.2f} samples={ctx.samples} "
        f"{ctx.summary} attempted={ctx.attempted} failed={ctx.failed} "
        + " ".join(f"{k}={ctx.layer[k]:.0f}" for k in COMMON_LAYER_METRICS if k.startswith("memory."))
    )
    print(
        json.dumps(
            {
                "correct": ctx.failed == 0,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
