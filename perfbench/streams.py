"""Stream workloads: drain a staged replay log with an `availableNow`
query, start to termination, on a fresh checkpoint and output table.

- `stream_features` (FP2): `streaming.jobs.feature_stream_job` — the
  stateful 5-minute window plus a small keyed upsert. The final table
  must equal the batch plan `fp2_user_features_5m` over the same events.
- `stream_raw` (FP1): `streaming.jobs.raw_sink_job` — stateless, with an
  upsert whose table grows batch by batch. The final table must hold one
  row per `event_id`, with content equal to the input.

`maxFilesPerTrigger=1`, so each chunk file is one micro-batch. Event
counts come from the generator's manifest, never from the progress
events' `numInputRows` (see README.md).
"""

from __future__ import annotations

import functools
import os
import shutil
import statistics
import time
from datetime import datetime

from pyspark.sql import functions as F

import kafka_flink_streaming_pipeline_spark.streaming.upsert as upsert
from kafka_flink_streaming_pipeline_spark.plans.clickstream import QUERIES, TS_FMT
from kafka_flink_streaming_pipeline_spark.sources.streaming import replay_stream
from kafka_flink_streaming_pipeline_spark.streaming.jobs import (
    feature_stream_job,
    raw_sink_job,
)

import tracing as tr
from sparkhash import spark_hash

RAW_COLS = ("event_id", "user_id", "event_type", "ts", "value", "props")

#: per-layer metrics both stream workloads must report in a traced run
LAYER_METRICS = (
    "streaming.add_batch_ms",
    "streaming.trigger_overhead_ms",
    "streaming.trigger_self_ms",
    "streaming.jobs_per_batch",
    "streaming.tasks_per_batch",
    "sources.offset_ms",
    "streaming.empty_batches",
    "streaming.input_rows_per_event",
    "upsert.merge_ms",
    "upsert.merge_growth",
    "upsert.bytes_written_per_input_byte",
    "upsert.table_bytes_per_row",
)
#: ... and those only the stateful FP2 job has; it alone runs a final
#: no-data batch, to evict state once the watermark has passed a window
STATE_METRICS = (
    "streaming.empty_batch_ms",
    "streaming.state_commit_ms",
    "streaming.state_update_ms",
    "streaming.state_rows",
    "streaming.state_memory_bytes",
    "streaming.watermark_dropped_rows",
)


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class Stream:
    def __init__(self, ctx, inputs: dict, kind: str) -> None:
        self.ctx, self.kind = ctx, kind
        self.warm_log = inputs["warm"]
        self.log = inputs["log"]
        self.job = feature_stream_job if kind == "stream_features" else raw_sink_job
        self.listener = tr.ProgressListener()
        self.layer_metrics = LAYER_METRICS + (STATE_METRICS if kind == "stream_features" else ())
        self._drains = 0

    # -- one drain -----------------------------------------------------

    def _drain(self, spark, log: dict) -> tuple[float, float, list[dict], str]:
        self._drains += 1
        base = os.path.join(self.ctx.work, f"drain{self._drains}")
        table = base + "_table"
        cpu_s = tr.CpuClock(spark.sparkContext._gateway.proc.pid)
        t0, c0 = time.perf_counter(), cpu_s()
        q = self.job(replay_stream(spark, log["chunk_dir"]), table, base + "_ckpt")
        if not q.awaitTermination(150):
            q.stop()
            raise TimeoutError(f"{self.kind}: drain did not finish in 150 s")
        wall, cpu = time.perf_counter() - t0, cpu_s() - c0
        if q.exception() is not None:
            raise RuntimeError(f"{self.kind}: query failed: {q.exception()}")
        return wall, cpu, self.listener.batches(str(q.runId)), table

    def _table_hash(self, spark, table: str) -> tuple[int, int]:
        t = spark.read.parquet(table)
        if self.kind == "stream_features":
            # same columns and formatting as the batch plan's output
            t = t.select(
                "uuid",
                F.date_format("window_end", TS_FMT).alias("window_end"),
                "click5m",
                "view5m",
                "redis_key",
            )
            return spark_hash(t)
        n_ids = t.select("event_id").distinct().count()
        n, h = spark_hash(t.withColumnRenamed("event_time", "ts").select(*RAW_COLS))
        # one row per event_id, or the count cannot match
        return (n if n_ids == n else -1), h

    def _expected_hash(self, spark) -> tuple[int, int]:
        if self.kind == "stream_features":
            return spark_hash(QUERIES["fp2_user_features_5m"].build(spark, self.log["dir"]))
        # the log's distinct events; chunks also hold redelivered copies
        return spark_hash(spark.read.parquet(self.log["dir"] + "/events.parquet").select(*RAW_COLS))

    # -- phases --------------------------------------------------------

    def warm_up(self, spark) -> None:
        spark.streams.addListener(self.listener)
        self._drain(spark, self.warm_log)

    def measure(self, spark, seconds: float) -> None:
        ctx, tracer = self.ctx, self.ctx.tracer
        traced_run = tracer.enabled
        counter = tr.JobCounter(spark) if traced_run else None
        if traced_run:
            merges = self._wrap_merge(tracer)
        lat: dict[bool, dict[int, list[float]]] = {True: {}, False: {}}
        events = drain_s = drain_cpu_s = 0.0
        drains = []
        results: list[tuple[tuple[int, int], int]] = []
        start = time.perf_counter()
        # a traced run alternates untraced and traced drains (at least one
        # of each), so the difference between the two is the tracing overhead
        while time.perf_counter() - start < seconds or (traced_run and len(drains) < 2):
            traced = traced_run and len(drains) % 2 == 1
            tracer.enabled = traced
            if counter:
                counter.mark()
            with tracer.span("streaming.drain", trace_id=f"drain{len(drains)}") as span:
                wall, cpu, batches, table = self._drain(spark, self.log)
            # the drain's own jobs, before the gate below adds its own
            jobs = counter.since() if traced else None
            data = [b for b in batches if b["numInputRows"] > 0]
            ctx.attempted += len(data)
            got = self._table_hash(spark, table)
            results.append((got, len(data)))
            events += self.log["events"]
            drain_s += wall
            drain_cpu_s += cpu
            for i, b in enumerate(data):
                lat[traced].setdefault(i, []).append(b["durationMs"]["triggerExecution"])
            if traced:
                drains.append(self._drain_layers(span, batches, table, got[0], jobs))
            else:
                drains.append(None)
            shutil.rmtree(table, ignore_errors=True)
            shutil.rmtree(table + ".tmp", ignore_errors=True)
        tracer.enabled = traced_run
        # a wrong final table fails every batch of its drain
        want = self._expected_hash(spark)
        for got, n_batches in results:
            if got != want:
                ctx.fail(f"{self.kind}: final table {got} != expected {want}")
                ctx.failed += n_batches - 1
        all_lat = [v for side in lat.values() for vs in side.values() for v in vs]
        ctx.samples = len(all_lat)
        # CPU time, not wall time: see "Why CPU time" in README.md
        ctx.e2e.update(
            op_cpu_ms=drain_cpu_s * 1e3 / len(all_lat),
            events_per_cpu_s=events / drain_cpu_s,
        )
        ctx.summary = (
            f"wall: batch_p50_ms={statistics.median(all_lat):.0f} "
            f"batch_p90_ms={tr.p90(all_lat):.0f} events_per_s={events / drain_s:.0f}"
        )
        if traced_run:
            upsert.merge_upsert = merges
            self._layers([d for d in drains if d is not None])
            ctx.overhead(lat[True], lat[False])

    # -- tracing -------------------------------------------------------

    def _wrap_merge(self, tracer):
        """Span every `merge_upsert` call; `upsert_sink` looks the module
        attribute up at call time, so patching it reaches the sink."""
        orig = upsert.merge_upsert

        @functools.wraps(orig)
        def merge_upsert(spark, batch, table_path, keys, order_col):
            with tracer.span("upsert.merge_upsert") as s:
                orig(spark, batch, table_path, keys, order_col)
                if s is not None:
                    s["bytes_written"] = tr.dir_bytes(table_path) + tr.dir_bytes(
                        table_path.rstrip("/") + ".tmp"
                    )

        upsert.merge_upsert = merge_upsert
        return orig

    def _drain_layers(self, drain_span, batches, table, rows, jobs) -> dict:
        """Per-drain layer figures; trigger spans are rebuilt from the
        progress events and the merge spans that ran inside them are
        parented to them, so trigger self time excludes the upsert."""
        tracer = self.ctx.tracer
        merges = [
            s
            for s in tracer.spans
            if s["name"] == "upsert.merge_upsert"
            and drain_span["start"] <= s["start"] <= drain_span["end"]
        ]
        for b in batches:
            t0 = _epoch(b["timestamp"])
            trig = {
                "id": -len(tracer.spans) - 1,
                "parent": drain_span["id"],
                "trace": drain_span["trace"],
                "name": "streaming.trigger",
                "start": t0,
                "end": t0 + b["durationMs"]["triggerExecution"] / 1e3,
                "batch_id": b["batchId"],
            }
            tracer.spans.append(trig)
            for m in merges:
                if trig["start"] <= m["start"] <= trig["end"]:
                    m["parent"], m["trace"] = trig["id"], trig["trace"]
        return {
            "batches": batches,
            "merge_ms": [(m["end"] - m["start"]) * 1e3 for m in merges],
            "bytes_written": sum(m["bytes_written"] for m in merges),
            "table_bytes": tr.dir_bytes(table),
            "rows": rows,
            "jobs": jobs,
        }

    def _layers(self, drains: list[dict]) -> None:
        """Layer figures over the traced drains. A figure whose source is
        missing (no state operator, no merge span) is left out, so run.py
        fails the run if the workload should have produced it."""
        batches = [b for d in drains for b in d["batches"]]
        data = [b for b in batches if b["numInputRows"] > 0]
        empty = [b for b in batches if b["numInputRows"] == 0]
        dur = [b["durationMs"] for b in data]
        state = [b["stateOperators"][0] for b in data if b["stateOperators"]]
        merge_ms = [m for d in drains for m in d["merge_ms"]]
        med = statistics.median
        layer = self.ctx.layer
        layer.update(
            {
                "streaming.add_batch_ms": med(d["addBatch"] for d in dur),
                "streaming.trigger_overhead_ms": med(
                    d["triggerExecution"] - d["addBatch"] for d in dur
                ),
                "streaming.jobs_per_batch": sum(d["jobs"]["jobs"] for d in drains)
                / len(batches),
                "streaming.tasks_per_batch": sum(d["jobs"]["tasks"] for d in drains)
                / len(batches),
                "sources.offset_ms": med(
                    d.get("latestOffset", 0) + d.get("getBatch", 0) for d in dur
                ),
                "streaming.empty_batches": len(empty) / len(drains),
                "streaming.input_rows_per_event": sum(b["numInputRows"] for b in batches)
                / (self.log["events"] * len(drains)),
                "streaming.trigger_self_ms": self.ctx.tracer.self_ms()["streaming.trigger"]
                / len(batches),
            }
        )
        if empty:
            layer["streaming.empty_batch_ms"] = med(
                b["durationMs"]["triggerExecution"] for b in empty
            )
        if state:
            layer.update(
                {
                    "streaming.state_commit_ms": med(s["commitTimeMs"] for s in state),
                    "streaming.state_update_ms": med(s["allUpdatesTimeMs"] for s in state),
                    "streaming.state_rows": max(s["numRowsTotal"] for s in state),
                    "streaming.state_memory_bytes": max(s["memoryUsedBytes"] for s in state),
                    "streaming.watermark_dropped_rows": sum(
                        s["numRowsDroppedByWatermark"] for s in state
                    ),
                }
            )
        if merge_ms:
            layer.update(
                {
                    "upsert.merge_ms": med(merge_ms),
                    "upsert.merge_growth": med(tr.quarter_growth(d["merge_ms"]) for d in drains),
                    "upsert.bytes_written_per_input_byte": sum(
                        d["bytes_written"] for d in drains
                    )
                    / (self.log["bytes"] * len(drains)),
                    "upsert.table_bytes_per_row": med(
                        d["table_bytes"] / d["rows"] for d in drains
                    ),
                }
            )
