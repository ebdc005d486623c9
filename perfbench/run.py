"""Benchmark runner for the CDC engine and its batch query surface.

Usage (from the repository root):

    python3 perfbench/run.py --workload cdc_stream --seed 1 --seconds 10 --trace 0

Workloads (see ``perfbench/README.md`` for why each exists):

- ``cdc_stream``: an open loop. A generator process writes Canal JSONL
  files on a fixed tick at a fixed rate; ``run_cdc_stream`` runs
  continuously into a ``KeyedParquetUpsertSink``.
- ``cdc_drain``: a pre-generated backlog drained by ``run_cdc_stream``
  with ``available_now=True`` into an empty sink, repeated for the run.

A traced run also sweeps a frozen set of ``bench``-tagged registry
queries over the vendored fixture tables, for the plans-layer metrics.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics, and the spans and a
per-layer self-time summary are written under ``.perfbench_traces/``.
Every output is checked against an independent reference; a mismatch
counts as a failed operation. All scratch files live under
``.perfbench_work/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import itertools
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURE_DIR = os.path.join(HERE, "fixtures", "sf0.01")
TRACE_DIR = os.path.join(ROOT, ".perfbench_traces")

# The frozen query set of the traced plans sweep: bench-tagged registry
# queries whose warm pass takes about 8 s for all fifteen on 4 cores.
SUITE_QUERIES = (
    "asof_latest_order",
    "exact_dup_groups",
    "flagship_enrich",
    "knn_pandas_topk",
    "occupancy_rate_by_region",
    "q12_priority_shipping_counts",
    "q13_order_count_distribution",
    "q18_large_orders",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "sessionize_events",
    "text_quality_stats",
    "token_frequency_top100",
)
FIXTURE_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

SIZES = {
    "full": {
        # envelopes/s: a quarter of the measured knee (10k-20k), so the
        # stream keeps up while the machine runs twice as slow
        "rate": 2500,
        "tick_s": 0.2,
        "warm_s": 5.0,
        "grace_s": 20.0,
        "key_space": 20_000,
        "stream_max_rows": 2,
        "drain_envelopes": 60_000,
        "drain_files": 8,
        "drain_key_space": 3_000_000,
        "drain_max_rows": 3,
        # untimed drains before the window: a JVM's first drains run
        # slower (class loading, JIT); after three the rate is flat
        "drain_warm": 3,
        "warm_envelopes": 5_000,
        "suite": SUITE_QUERIES,
    },
    "tiny": {
        "rate": 500,
        "tick_s": 0.2,
        "warm_s": 1.0,
        "grace_s": 20.0,
        "key_space": 2_000,
        "stream_max_rows": 2,
        "drain_envelopes": 5_000,
        "drain_files": 2,
        "drain_key_space": 100_000,
        "drain_max_rows": 3,
        "drain_warm": 1,
        "warm_envelopes": 500,
        "suite": SUITE_QUERIES[:3],
    },
}
LATENESS_LIMIT_P99_S = 0.25  # a cdc_stream run whose generator ran later is invalid
KEY, ORDER = ["meeting_id"], ["_es", "_ts"]

E2E_UNITS = {"setup_s": "s", "latency_p50_ms": "ms", "ops_per_s": "1/s", "peak_rss_mb": "MB"}


def prepare_environment(work: str) -> None:
    """Confine the engine to the checkout and pin its size, before
    pyspark is imported: Python workers import the engine from ROOT,
    temporary files and Spark's local dirs live under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Xms2g -XX:-UsePerfData -Djava.io.tmpdir={tmp}' --conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ.pop("SPARK_GRAFT_ON_CLUSTER", None)
    sys.path.insert(0, ROOT)


def pct(values, q: float) -> float:
    """Linear-interpolated percentile ``q`` (0-100) of ``values``."""
    import numpy as np

    return float(np.percentile(np.asarray(values, dtype=float), q))


class TimedSink:
    """Delegating foreachBatch target: times each ``process_batch`` of the
    wrapped sink and records when each batch's call returned."""

    def __init__(self, inner, tracer, parent=None):
        self.inner = inner
        self.tracer = tracer
        self.parent = parent  # the span process_batch spans nest under
        self.done: dict[int, float] = {}
        self.seconds: dict[int, float] = {}

    def process_batch(self, batch_df, batch_id: int) -> None:
        t0 = time.time()
        with self.tracer.span("streaming.sinks.process_batch", parent=self.parent):
            self.inner.process_batch(batch_df, batch_id)
        t1 = time.time()
        self.done[batch_id] = t1
        self.seconds[batch_id] = t1 - t0


class Run:
    """One invocation: the session, the tracer and the work directory."""

    def __init__(self, args, size: dict, work: str, tracer):
        self.args = args
        self.size = size
        self.work = work
        self.tracer = tracer
        self.spark = None
        self.notes: list[str] = []
        self.layers: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- session -------------------------------------------------------
    def set_up(self) -> float:
        """One cold session set-up: JVM launch and ``get_spark``, then a
        read of a small fixed backlog. Returns seconds."""
        from flinkstreametl_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(f"perfbench-{self.args.workload}")
        self.layers["session.start_s"] = time.perf_counter() - t0
        self.warm_cdc()
        return time.perf_counter() - t0

    def peak_rss_mb(self) -> float:
        """Peak resident set of the JVM (the gateway process is the JVM)."""
        from pyspark import SparkContext

        with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def shut_down(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    # -- checks --------------------------------------------------------
    def check_sink(self, sink, expected: dict, label: str) -> int:
        """Compare the sink table with ``expected``; returns the number of
        keys that are missing, extra, duplicated or different."""
        table = sink.read(self.spark)
        if table is None:
            return len(expected)
        cols = table.toArrow().to_pydict()
        names = ("meeting_id", "meeting_code", "meetingroom_id", "meetingroom_name",
                 "location_name", "city", "_es", "_ts", "_op")
        rows = list(zip(*(cols[n] for n in names)))
        actual = {}
        bad = 0
        for r in rows:
            if r[0] in actual:
                bad += 1
            actual[r[0]] = r
        bad += sum(1 for k in expected.keys() | actual.keys() if expected.get(k) != actual.get(k))
        if bad:
            self.notes.append(f"{label}: {bad} of {len(expected)} keys differ from the expected table")
        return bad

    def inject_wrong_row(self, sink, seed: int) -> None:
        """Fault injection for the self-check: rewrite one row of the sink
        table with a wrong city."""
        from pyspark.sql import functions as F

        table = sink.read(self.spark)
        keys = sorted(r[0] for r in table.select("meeting_id").collect())
        victim = keys[seed % len(keys)]
        bad = table.withColumn("city", F.when(F.col("meeting_id") == victim, F.lit("WRONG")).otherwise(F.col("city")))
        tmp = sink.path + ".fault"
        bad.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(sink.path)
        os.rename(tmp, sink.path)

    # -- CDC building blocks --------------------------------------------
    def drain(self, src: str, name: str):
        """One ``available_now`` drain of ``src`` into a fresh sink.
        Returns ``(t_start, sink, recorder, checkpoint_dir)``."""
        from flinkstreametl_spark.streaming.monitor import ProgressRecorder
        from flinkstreametl_spark.streaming.pipeline import run_cdc_stream
        from flinkstreametl_spark.streaming.sinks import KeyedParquetUpsertSink

        ckpt = self.path(name + "-ckpt")
        recorder = ProgressRecorder()
        self.spark.streams.addListener(recorder)
        with self.tracer.span("streaming.query") as qspan:
            sink = TimedSink(KeyedParquetUpsertSink(self.path(name + "-sink"), KEY, ORDER), self.tracer, qspan)
            t_start = time.time()
            with self.tracer.span("streaming.pipeline.run_cdc_stream"):
                query = run_cdc_stream(self.spark, src, sink, ckpt, available_now=True)
            query.awaitTermination()
        wait_for_progress(recorder, query)
        self.spark.streams.removeListener(recorder)
        return t_start, sink, recorder, ckpt

    def warm_cdc(self) -> None:
        """Light set-up warm-up: read a small fixed backlog once."""
        from cdcgen import generate, write_jsonl

        from flinkstreametl_spark.sources.cdc import read_cdc_file_batch

        src = self.path("warm-src")
        os.makedirs(src)
        write_jsonl(os.path.join(src, "warm.jsonl"), generate(0, self.size["warm_envelopes"], 10_000, 2))
        with self.tracer.span("sources.read_cdc_file_batch"):
            read_cdc_file_batch(self.spark, src).count()

    def ramp_cdc(self) -> float:
        """Ramp: two streaming drains of the warm-up backlog into one sink,
        the second of them merging into the stored table, so the first
        timed micro-batch does not pay code generation. Returns seconds."""
        from cdcgen import generate, write_jsonl

        t0 = time.perf_counter()
        src = self.path("warm-src")
        with self.tracer.paused():
            self.drain(src, "ramp")
            n = self.size["warm_envelopes"]
            write_jsonl(os.path.join(src, "warm-2.jsonl"), generate(1, n, 10_000, 2, first_seq=n + 1))
            _t, sink, _rec, ckpt = self.drain(src, "ramp")
        sink.inner.read(self.spark).count()
        shutil.rmtree(sink.inner.path)
        shutil.rmtree(ckpt)
        return time.perf_counter() - t0

    def operators_probe(self, src: str) -> None:
        """Per-layer probe: noop-sink writes of the public chains over the
        files in ``src``, plus the F1 keep and enrich-miss ratios."""
        from pyspark.sql import functions as F

        from flinkstreametl_spark.operators.cdc import ingest_meeting_stream, latest_by_key
        from flinkstreametl_spark.sources.cdc import meeting_address_dim, read_cdc_file_batch
        from flinkstreametl_spark.streaming.pipeline import enriched_meetings

        def noop(df) -> None:
            df.write.format("noop").mode("overwrite").save()

        with self.tracer.span("sources.read_cdc_file_batch"):
            raw = read_cdc_file_batch(self.spark, src)
        with self.tracer.span("sources.scan"):
            noop(raw)
        chains = {
            "ingest": lambda: ingest_meeting_stream(raw, types=("INSERT", "UPDATE")),
            "enrich": lambda: enriched_meetings(raw, meeting_address_dim(self.spark), types=("INSERT", "UPDATE")),
            "dedup": lambda: latest_by_key(
                enriched_meetings(raw, meeting_address_dim(self.spark), types=("INSERT", "UPDATE")), KEY, ORDER
            ),
        }
        for name, build in chains.items():
            t0 = time.perf_counter()
            with self.tracer.span(f"operators.{name}"):
                noop(build())
            self.layers[f"operators.{name}_s"] = time.perf_counter() - t0
        envelopes = raw.count()
        agg = chains["enrich"]().agg(
            F.count(F.lit(1)).alias("rows"), F.sum(F.col("city").isNull().cast("int")).alias("miss")
        ).first()
        self.layers["operators.f1_keep_ratio"] = agg["rows"] / envelopes
        self.layers["operators.enrich_miss_ratio"] = agg["miss"] / agg["rows"]

    def streaming_layers(self, batches: list[int], recorder, sink: TimedSink, envelopes_by_batch: dict, ckpt: str) -> None:
        """Per-layer streaming and source metrics over ``batches``."""
        progress = {p["batchId"]: p for p in recorder.progress}
        got = [b for b in batches if b in progress]

        def dur(key: str) -> float:
            return statistics.median(progress[b]["durationMs"].get(key, 0) for b in got)

        delivered = sum(envelopes_by_batch.get(b, 0) for b in got)
        self.layers.update(
            {
                "sources.latest_offset_ms": dur("latestOffset"),
                "sources.get_batch_ms": dur("getBatch"),
                "sources.read_amplification": sum(progress[b]["numInputRows"] for b in got) / delivered,
                "streaming.batches": len(got),
                "streaming.batch_envelopes_p50": statistics.median(envelopes_by_batch.get(b, 0) for b in got),
                "streaming.trigger_ms": dur("triggerExecution"),
                "streaming.add_batch_ms": dur("addBatch"),
                "streaming.query_planning_ms": dur("queryPlanning"),
                "streaming.wal_commit_ms": dur("walCommit"),
                "streaming.commit_offsets_ms": dur("commitOffsets"),
                "streaming.sinks.process_batch_ms": 1000 * statistics.median(sink.seconds[b] for b in got),
            }
        )
        self.layers["streaming.callback_gap_ms"] = (
            self.layers["streaming.add_batch_ms"] - self.layers["streaming.sinks.process_batch_ms"]
        )
        self.layers["streaming.sinks.table_rows"] = sink.inner.read(self.spark).count()
        self.layers["streaming.sinks.table_bytes"] = tree_bytes(sink.inner.path)
        self.layers["streaming.checkpoint_files"] = sum(len(files) for _d, _s, files in os.walk(ckpt))

    # -- plans ---------------------------------------------------------
    def suite_pass(self, queries, counts: dict[str, int], jobs: bool, drop: str | None = None) -> dict:
        """One pass over ``queries``: build then count each. Returns
        ``{name: (build_s, run_s)}`` for the queries that ran and matched
        their oracle row count; mismatches and errors count as failed."""
        from flinkstreametl_spark.plans import REGISTRY

        sc = self.spark.sparkContext
        out = {}
        self.layers.setdefault("plans.build_jobs", 0)
        self.layers.setdefault("plans.run_jobs", 0)
        for name in queries:
            self.attempted += 1
            try:
                if jobs:
                    sc.setJobGroup(f"perfbench-{name}-build", name)
                t0 = time.perf_counter()
                with self.tracer.span(f"plans.{name}.build"):
                    df = REGISTRY[name].fn(self.spark, FIXTURE_DIR)
                t1 = time.perf_counter()
                if name == drop:
                    df = df.limit(0)
                if jobs:
                    sc.setJobGroup(f"perfbench-{name}-run", name)
                with self.tracer.span(f"plans.{name}.run"):
                    n = df.count()
                t2 = time.perf_counter()
            except Exception as exc:  # a query that raises is a failed operation; keep measuring
                self.failed += 1
                self.notes.append(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
                continue
            finally:
                if jobs:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            if jobs:
                tracker = sc.statusTracker()
                self.layers["plans.build_jobs"] += len(tracker.getJobIdsForGroup(f"perfbench-{name}-build"))
                self.layers["plans.run_jobs"] += len(tracker.getJobIdsForGroup(f"perfbench-{name}-run"))
            if n != counts[name]:
                self.failed += 1
                self.notes.append(f"{name}: {n} rows, oracle has {counts[name]}")
                continue
            out[name] = (t1 - t0, t2 - t1)
        return out

    def plans_layers(self, timings: dict) -> None:
        for name, (build_s, run_s) in timings.items():
            self.layers[f"plans.{name}.build_s"] = build_s
            self.layers[f"plans.{name}.run_s"] = run_s


def wait_for_progress(recorder, query, timeout_s: float = 10.0) -> None:
    """Wait until the listener has seen the query's last progress event."""
    last = query.lastProgress
    if last is None:
        return
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if any(p["batchId"] == last["batchId"] for p in recorder.progress):
            return
        time.sleep(0.05)


def tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _s, files in os.walk(path) for f in files)


def source_log(ckpt: str) -> dict[str, int]:
    """File name -> batchId, from the file source's metadata log
    (``<ckpt>/sources/0/<batchId>`` and its ``.compact`` files)."""
    out = {}
    log_dir = os.path.join(ckpt, "sources", "0")
    if not os.path.isdir(log_dir):
        return out
    for entry in os.listdir(log_dir):
        if entry.startswith(".") or entry.endswith(".tmp"):
            continue
        with open(os.path.join(log_dir, entry)) as fh:
            for line in fh:
                if line.startswith("{"):
                    rec = json.loads(line)
                    out[os.path.basename(rec["path"])] = rec["batchId"]
    return out


def envelopes_by_batch(ckpt: str, envelopes_by_file: dict[str, int]) -> dict[int, int]:
    out: dict[int, int] = {}
    for name, batch in source_log(ckpt).items():
        out[batch] = out.get(batch, 0) + envelopes_by_file.get(name, 0)
    return out


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------


def cdc_stream(run: Run) -> dict:
    """Open loop: generator process -> file source -> run_cdc_stream ->
    KeyedParquetUpsertSink. Freshness of an envelope is the time from its
    tick's due time to the return of the process_batch that committed it."""
    import cdcgen
    from flinkstreametl_spark.streaming.monitor import ProgressRecorder
    from flinkstreametl_spark.streaming.pipeline import run_cdc_stream
    from flinkstreametl_spark.streaming.sinks import KeyedParquetUpsertSink

    sz, args = run.size, run.args
    setup_s = run.set_up() + run.ramp_cdc()
    tick = sz["tick_s"]
    per_tick = int(sz["rate"] * tick)
    n_warm = round(sz["warm_s"] / tick)
    n_win = round(args.seconds / tick)
    windows = 2 if args.trace else 1  # a traced run measures an untraced window, then a traced one
    n_ticks = n_warm + windows * n_win
    src, ckpt = run.path("stream-src"), run.path("stream-ckpt")
    os.makedirs(src)
    recorder = ProgressRecorder()
    run.spark.streams.addListener(recorder)
    # Only the traced window is traced. The query is busy for all of it,
    # so a span around the window would only measure the window: the
    # streaming spans here are the process_batch calls inside it.
    traced, run.tracer.enabled = run.tracer.enabled, False
    sink = TimedSink(KeyedParquetUpsertSink(run.path("stream-sink"), KEY, ORDER), run.tracer)
    query = run_cdc_stream(run.spark, src, sink, ckpt, available_now=False)
    ready, stats = run.path("gen-ready.json"), run.path("gen-stats.json")
    gen = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "cdcgen.py"), "--src", src, "--seed", str(args.seed),
         "--ticks", str(n_ticks), "--per-tick", str(per_tick), "--tick-s", str(tick),
         "--key-space", str(sz["key_space"]), "--max-rows", str(sz["stream_max_rows"]),
         "--ready", ready, "--stats", stats]
    )
    try:
        t0 = wait_for_file(ready, gen, 60)["t0"]
        win_start = [t0 + (n_warm + w * n_win) * tick for w in range(windows)]
        if traced:
            time.sleep(max(0.0, win_start[1] - time.time()))
            run.tracer.enabled = True
            time.sleep(max(0.0, win_start[1] + n_win * tick - time.time()))
            run.tracer.enabled = False
        gen.wait(timeout=(n_ticks * tick) + 60)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    all_files = {cdcgen.tick_file(i) for i in range(n_ticks)}
    deadline = time.time() + sz["grace_s"]
    while time.time() < deadline:
        log = source_log(ckpt)
        if all(f in log and log[f] in sink.done for f in all_files):
            break
        time.sleep(0.1)
    query.stop()
    run.tracer.enabled = traced
    wait_for_progress(recorder, query)
    run.spark.streams.removeListener(recorder)

    with open(stats) as fh:
        late = json.load(fh)["late_s"]
    late_p99, late_max = pct(late, 99), max(late)
    valid = late_p99 <= LATENESS_LIMIT_P99_S
    run.notes.append(
        f"generator lateness p99 {1000 * late_p99:.1f} ms, max {1000 * late_max:.1f} ms "
        f"(limit p99 {1000 * LATENESS_LIMIT_P99_S:.0f} ms): {'valid' if valid else 'INVALID run'}"
    )
    log = source_log(ckpt)
    commit = {f: sink.done.get(b) for f, b in log.items()}
    uncommitted = sum(per_tick for f in all_files if commit.get(f) is None)
    run.attempted += n_ticks * per_tick
    run.failed += uncommitted
    if uncommitted:
        run.notes.append(f"{uncommitted} envelopes uncommitted after the {sz['grace_s']} s grace")

    def window(w: int):
        lo = n_warm + w * n_win
        fresh = [
            commit[cdcgen.tick_file(i)] - (t0 + i * tick)
            for i in range(lo, lo + n_win)
            if commit.get(cdcgen.tick_file(i)) is not None
        ]
        return fresh

    by_batch = envelopes_by_batch(ckpt, {f: per_tick for f in all_files})
    fresh = window(0)
    samples = len(fresh) * per_tick
    metrics = {
        "setup_s": setup_s,
        "latency_p50_ms": 1000 * pct(fresh, 50),
        "ops_per_s": committed_rate(sink.done, by_batch, win_start[0], win_start[0] + n_win * tick),
    }
    run.notes.append(
        f"freshness over {samples} envelopes due in a {args.seconds} s window at {sz['rate']} envelopes/s, "
        f"{sz['key_space']} keys: p99 {1000 * pct(fresh, 99):.1f} ms"
    )
    if args.trace:
        run.layers["trace.overhead_ms"] = 1000 * pct(window(1), 50) - metrics["latency_p50_ms"]
        lo, hi = win_start[1], win_start[1] + n_win * tick
        batches = sorted(b for b, t in sink.done.items() if lo <= t < hi)
        run.streaming_layers(batches, recorder, sink, by_batch, ckpt)
    expected = cdcgen.expected_table(env for t in cdcgen.stream_ticks(
        args.seed, n_ticks, per_tick, sz["key_space"], sz["stream_max_rows"]) for env in t)
    if args.fault == "wrong_row":
        run.inject_wrong_row(sink.inner, args.seed)
    run.failed += run.check_sink(sink.inner, expected, "cdc_stream")
    if args.trace:
        run.operators_probe(src)
        plans_sweep(run)
    metrics["peak_rss_mb"] = run.peak_rss_mb()
    return {"metrics": metrics, "valid": valid}


def committed_rate(done: dict[int, float], by_batch: dict[int, int], lo: float, hi: float) -> float:
    """Envelopes committed per second while ``[lo, hi)`` ran: envelopes of
    the batches that returned after the last return before ``lo`` and no
    later than ``hi``, over the time between those returns."""
    times = sorted((t, b) for b, t in done.items())
    before = [t for t, _b in times if t < lo]
    inside = [(t, b) for t, b in times if lo <= t < hi]
    if not inside:
        raise RuntimeError("no batch committed during the timed window")
    start = before[-1] if before else lo
    return sum(by_batch.get(b, 0) for _t, b in inside) / (inside[-1][0] - start)


def cdc_drain(run: Run) -> dict:
    """A seeded backlog drained with available_now into an empty sink,
    repeated for ``--seconds`` after ``drain_warm`` untimed drains; every
    envelope is due when the drain starts."""
    import cdcgen

    sz, args = run.size, run.args
    setup_s = run.set_up()
    envs = cdcgen.generate(args.seed, sz["drain_envelopes"], sz["drain_key_space"], sz["drain_max_rows"])
    src = run.path("drain-src")
    os.makedirs(src)
    per_file = -(-len(envs) // sz["drain_files"])
    files = {}
    for i in range(sz["drain_files"]):
        part = envs[i * per_file : (i + 1) * per_file]
        cdcgen.write_jsonl(os.path.join(src, f"part-{i:03d}.jsonl"), part)
        files[f"part-{i:03d}.jsonl"] = len(part)
    expected = cdcgen.expected_table(envs)

    def one(name: str):
        t_start, sink, recorder, ckpt = run.drain(src, name)
        by_batch = envelopes_by_batch(ckpt, files)
        fresh = [sink.done[b] - t_start for b, n in by_batch.items() for _ in range(n)]
        run.attempted += len(envs)
        return t_start, sink, recorder, ckpt, by_batch, fresh

    t_ramp = time.perf_counter()
    for i in range(sz["drain_warm"]):
        with run.tracer.paused():
            _t, sink, _rec, ckpt, _bb, _f = one(f"ramp{i}")
        run.failed += check_count(run, sink, expected, f"ramp drain {i}")
        shutil.rmtree(sink.inner.path)
        shutil.rmtree(ckpt)
    setup_s += time.perf_counter() - t_ramp

    p50, eps = [], []
    t_end = time.perf_counter() + args.seconds
    for i in itertools.count():
        with run.tracer.paused():
            t_start, sink, _rec, ckpt, by_batch, fresh = one(f"drain{i}")
        took = max(sink.done.values()) - t_start
        p50.append(pct(fresh, 50))
        eps.append(len(envs) / took)
        if time.perf_counter() + took >= t_end:  # the next drain would end after the window
            break
        run.failed += check_count(run, sink, expected, f"drain {i}")
        shutil.rmtree(sink.inner.path)
        shutil.rmtree(ckpt)
    if args.fault == "wrong_row":
        run.inject_wrong_row(sink.inner, args.seed)
    run.failed += run.check_sink(sink.inner, expected, "cdc_drain")
    run.notes.append(f"drain rates {[round(e) for e in eps]} envelopes/s")
    run.notes.append(
        f"{len(eps)} drains of {len(envs)} envelopes ({cdcgen.kept_row_count(envs)} kept rows, "
        f"{len(expected)} keys, {tree_bytes(src) / 1e6:.1f} MB in {sz['drain_files']} files)"
    )
    metrics = {
        "setup_s": setup_s,
        "latency_p50_ms": 1000 * statistics.median(p50),
        "ops_per_s": statistics.median(eps),
    }
    if args.trace:
        t_start, sink, recorder, ckpt, by_batch, fresh = one("traced")
        run.layers["trace.overhead_ms"] = 1000 * pct(fresh, 50) - metrics["latency_p50_ms"]
        run.streaming_layers(sorted(sink.done), recorder, sink, by_batch, ckpt)
        run.failed += check_count(run, sink, expected, "traced drain")
        run.operators_probe(src)
        plans_sweep(run)
    metrics["peak_rss_mb"] = run.peak_rss_mb()
    return {"metrics": metrics, "valid": True}


def check_count(run: Run, sink: TimedSink, expected: dict, label: str) -> int:
    n = sink.inner.read(run.spark).count()
    if n != len(expected):
        run.notes.append(f"{label}: {n} sink rows, expected {len(expected)}")
        return abs(n - len(expected)) or 1
    return 0


def oracle_counts(queries) -> dict[str, int]:
    """Row count of each query's DuckDB oracle over the fixture tables."""
    import duckdb

    from flinkstreametl_spark.plans import REGISTRY

    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(FIXTURE_DIR, t)}.parquet'")
    return {q: con.sql(f"SELECT count(*) FROM ({REGISTRY[q].oracle})").fetchone()[0] for q in queries}


def plans_sweep(run: Run) -> None:
    """Per-layer sweep of the plans layer: one pass over the frozen
    queries, each count checked against its oracle's row count."""
    queries = run.size["suite"]
    counts = oracle_counts(queries)
    drop = queries[run.args.seed % len(queries)] if run.args.fault == "drop_result" else None
    run.plans_layers(run.suite_pass(queries, counts, jobs=True, drop=drop))


WORKLOADS = {"cdc_stream": cdc_stream, "cdc_drain": cdc_drain}


def wait_for_file(path: str, proc, timeout_s: float) -> dict:
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if os.path.exists(path):
            with open(path) as fh:
                return json.load(fh)
        if proc.poll() is not None:
            raise RuntimeError(f"generator exited with {proc.returncode} before it was ready")
        time.sleep(0.02)
    raise RuntimeError("generator not ready in time")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--size", choices=sorted(SIZES), default="full", help="tiny: a few seconds per workload")
    ap.add_argument(
        "--fault", choices=("none", "wrong_row", "drop_result"), default="none",
        help="self-check only: corrupt one sink row, or drop one query result of the traced plans sweep",
    )
    args = ap.parse_args()
    # A SIGTERM unwinds like an exception, so the generator and the JVM
    # are stopped and waited for.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}-{int(time.time())}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    os.makedirs(work)
    sys.path.insert(0, HERE)
    from spans import Tracer

    tracer = Tracer(run_id, enabled=bool(args.trace))
    try:
        prepare_environment(work)
        import flinkstreametl_spark  # noqa: F401  # fail fast without the engine

        run = Run(args, SIZES[args.size], work, tracer)
        try:
            with tracer.span("bench." + args.workload):
                out = WORKLOADS[args.workload](run)
        finally:
            run.shut_down()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))

    metrics = out["metrics"]
    for line in run.notes:
        print(f"# {line}")
    share = run.failed / run.attempted
    print(f"# failed_share = {share:.6f} ({run.failed} failed of {run.attempted} attempted)")
    for name in E2E_UNITS:
        print(f"# {name} = {metrics[name]:.6g} {E2E_UNITS[name]}")
    if args.trace:
        os.makedirs(TRACE_DIR, exist_ok=True)
        base = os.path.join(TRACE_DIR, run_id)
        tracer.write(base + ".spans.jsonl", base + ".selftime.json")
        for layer, s in tracer.self_times().items():
            run.layers[f"{layer}.self_s"] = s
        print(f"# spans: {base}.spans.jsonl, self times: {base}.selftime.json")
        reported = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(run.layers.items())}
    else:
        reported = {k: {"value": metrics[k], "unit": u} for k, u in E2E_UNITS.items()}
    print(
        json.dumps(
            {
                "correct": run.failed == 0 and out["valid"],
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": reported,
            }
        )
    )
    return 0


def layer_unit(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_ratio", "ratio"), ("_amplification", "ratio"),
                         ("_bytes", "bytes")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    raise SystemExit(main())
