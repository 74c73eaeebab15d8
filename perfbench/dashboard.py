"""`dashboard`: one closed-loop client runs the nine reference queries
round-robin against the generated `events` table.

Each operation is `QuerySpec.build` plus one action that hashes the whole
result (`count(*)`, `bit_xor(xxhash64(*))`). Each query's DuckDB oracle
runs once per run, before the session starts; its rows are hashed the way
Spark hashes them (`sparkhash`), and the warm-up rounds and every timed
execution must return that count and hash.
"""

from __future__ import annotations

import statistics
import time

from kafka_flink_streaming_pipeline_spark.plans.clickstream import QUERIES

import tracing as tr
from sparkhash import result_hash, spark_hash

WARM_ROUNDS = 2
MEASURE_ROUNDS = 3

#: per-layer metrics this workload must report in a traced run
LAYER_METRICS = (
    "plans.build_ms",
    "plans.exec_ms",
    "plans.jobs_per_query",
    "plans.tasks_per_query",
    "plans.shuffle_bytes_per_query",
    "sources.scan_rows",
    "dashboard.query_self_ms",
)

QUERY_NAMES = (
    "q1_events_per_min",
    "q2_top_docs_6h",
    "q3_geo_pv_24h",
    "q4_traffic_source_24h",
    "q5_session_stats_12h",
    "q6_avg_delay_5m",
    "q7_heatmap_7d",
    "q8_hourly_top20_24h",
    "q9_retention_d7",
)


def oracle_results(table_dir: str) -> dict[str, tuple[list[str], list[tuple]]]:
    """Every query's DuckDB oracle over the generated table: (columns, rows)."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        con.execute(
            "CREATE VIEW events AS SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) "
            f"FROM read_parquet('{table_dir}/events.parquet')"
        )
        out = {}
        for name in QUERY_NAMES:
            res = con.execute(QUERIES[name].oracle)
            out[name] = ([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


class Dashboard:
    def __init__(self, ctx, inputs: dict) -> None:
        self.ctx = ctx
        self.table_dir = inputs["dashboard"]["dir"]
        self.table_rows = inputs["dashboard"]["events"]
        self.oracle = oracle_results(self.table_dir)
        self.expected: dict[str, tuple[int, int]] = {}
        self.layer_metrics = LAYER_METRICS

    def warm_up(self, spark) -> None:
        """WARM_ROUNDS rounds, each checked against the oracle. The JVM
        keeps compiling for a few rounds more, so the measured rounds
        still speed up; each query's least CPU time mostly comes from
        the last of them."""
        for name in QUERY_NAMES * WARM_ROUNDS:
            self.ctx.attempted += 1
            df = QUERIES[name].build(spark, self.table_dir)
            cols, rows = self.oracle[name]
            if sorted(cols) != sorted(df.columns):
                self.ctx.fail(f"{name}: columns {df.columns} != oracle {cols}")
                continue
            order = [cols.index(c) for c in df.columns]
            want = result_hash(df.schema, [[r[i] for i in order] for r in rows])
            self.expected[name] = want
            if spark_hash(df) != want:
                self.ctx.fail(f"{name}: result differs from its DuckDB oracle")

    def measure(self, spark, seconds: float) -> None:
        ctx, tracer = self.ctx, self.ctx.tracer
        traced_run = tracer.enabled
        counter = tr.JobCounter(spark) if traced_run else None
        lat: dict[bool, dict[str, list[float]]] = {True: {}, False: {}}
        counts: list[dict[str, int]] = []
        cpu: dict[str, list[float]] = {}
        cpu_s = tr.CpuClock(spark.sparkContext._gateway.proc.pid)
        i, start = 0, time.perf_counter()
        # whole rounds keep the query mix of every run the same, and at
        # least MEASURE_ROUNDS of them, so each query has several tries;
        # a traced run then covers every query both traced and untraced
        n = len(QUERY_NAMES)
        min_ops = MEASURE_ROUNDS * n
        while i < min_ops or i % n or time.perf_counter() - start < seconds:
            name, rnd = QUERY_NAMES[i % n], i // n
            i += 1
            # a traced run alternates traced and untraced queries, so the
            # difference between the two is the tracing overhead
            traced = traced_run and i % 2 == 1
            tracer.enabled = traced
            ctx.attempted += 1
            if counter:
                counter.mark()
            t0 = time.perf_counter()
            c0 = cpu_s()
            try:
                with tracer.span("dashboard.query", trace_id=f"{rnd}:{name}", query=name):
                    with tracer.span("plans.build"):
                        df = QUERIES[name].build(spark, self.table_dir)
                    with tracer.span("plans.exec"):
                        got = spark_hash(df)
            except Exception as e:  # a failing query is a failed operation
                ctx.fail(f"{name}: {e!r}")
                continue
            lat[traced].setdefault(name, []).append((time.perf_counter() - t0) * 1e3)
            cpu.setdefault(name, []).append((cpu_s() - c0) * 1e3)
            if got != self.expected.get(name):
                ctx.fail(f"{name}: (count, hash) {got} != oracle {self.expected.get(name)}")
            if traced:
                counts.append(counter.since())
        loop_s = time.perf_counter() - start
        tracer.enabled = traced_run
        all_lat = [v for side in lat.values() for vs in side.values() for v in vs]
        ctx.samples = len(all_lat)
        # CPU time, not wall time (see "Why CPU time" in README.md): each
        # query's least CPU time over its tries; each metric then
        # combines all nine (a query that failed every try is in `failed`)
        best = [min(cpu[q]) for q in QUERY_NAMES if q in cpu]
        ctx.e2e.update(
            op_cpu_ms=statistics.geometric_mean(best),
            events_per_cpu_s=self.table_rows * len(best) / (sum(best) / 1e3),
        )
        ctx.summary = (
            f"wall: query_p50_ms={statistics.median(all_lat):.0f} "
            f"query_p90_ms={tr.p90(all_lat):.0f} "
            f"events_per_s={self.table_rows * len(all_lat) / loop_s:.0f} "
            f"cpu: query_best_ms={','.join(f'{b:.0f}' for b in best)}"
        )
        if traced_run:
            k = len(counts)
            ctx.layer.update(
                {
                    "plans.build_ms": statistics.median(tracer.durations_ms("plans.build")),
                    "plans.exec_ms": statistics.median(tracer.durations_ms("plans.exec")),
                    "plans.jobs_per_query": sum(c["jobs"] for c in counts) / k,
                    "plans.tasks_per_query": sum(c["tasks"] for c in counts) / k,
                    "plans.shuffle_bytes_per_query": sum(c["shuffle_bytes"] for c in counts) / k,
                    "sources.scan_rows": sum(c["scan_rows"] for c in counts) / k,
                    "dashboard.query_self_ms": tracer.self_ms()["dashboard.query"] / k,
                }
            )
            ctx.overhead(lat[True], lat[False])
