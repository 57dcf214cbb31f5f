"""Benchmark workloads. ``perfbench/run.py`` writes the workload's inputs,
then runs this file in a fresh process per workload, with resources pinned
in its environment; it prints one JSON result as its last line of standard
output.

Workloads (the "why" of each is also in BENCHMARK.json):

- ``analytics_mix``: closed loop, one client. Every query of ``QUERIES`` is
  built and forced with a ``noop`` write, pass after pass. An untimed first
  pass warms the session and checks every result against the query's
  DuckDB oracle SQL.
- ``serve_and_drain``: a backlog of seeded event files drains through
  ``stream_events`` and ``movement_aggregates``, one file per micro-batch;
  then, in the same session, an open loop of cursor-advancing
  ``poll_page_with_total`` polls runs at ``POLL_RATE`` per second over the
  cached serving table. The two run one after the other: run side by side
  on a 4-core host, their latencies split between runs into a fast and a
  slow regime (median poll 0.2-0.6 s), so no figure repeated.

End-to-end metrics are taken with tracing off and no Spark event log.
``--trace 1`` runs the same untraced measurement first, then measures again
in new sessions with Spark's event log on and a span around every call into
each layer (``tracing.py``); ``analytics_mix`` alternates these with
untraced sessions. It prints the per-layer metrics of the traced
measurement, read from the spans, the event log, streaming progress and the
Catalyst phase tracker, and the tracing overhead: traced end-to-end figures
minus untraced ones.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time
import traceback
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import gen  # noqa: E402
from tracing import Tracer, attribute_jobs, read_event_logs  # noqa: E402

# The query mix: one query per plan family of the engine's headline set —
# scan+aggregate, broadcast star join, shuffle join, ranking window, text,
# and the iterative graph loop whose plan construction fires eager jobs.
# Sized so that the untimed check pass and two measured passes fit the run;
# see CHANGES.md for the queries left out.
QUERIES = (
    "tpch_q1_pricing_summary",
    "star_join_revenue_by_region",
    "join_orders_lineitem_priority",
    "window_topk_orders_per_customer",
    "text_tfidf",
    "graph_label_propagation",
)
SETUPS = 3
POLL_RATE = 2.0
POLL_HORIZON_S = 86_400
# The first DRAIN_WARM_BATCHES micro-batches fill most of the 10 s
# watermark's state and warm the JIT; the rest are measured.
DRAIN_WARM_BATCHES = 12
# Closed-loop poll warm-up before the drain, and again after it: the drain
# leaves the poll path a little cold.
WARMUP_S, REWARM_S = 6.0, 2.0

END_TO_END = (
    ("setup_s", "s"),
    ("mem_mb", "MB"),
    ("op_ms_p50", "ms"),
    ("op_ms_p90", "ms"),
    ("batch_ms_p50", "ms"),
)
LAYER_SPANS = ("setup", "session.start", "io.load_table", "queries.build", "catalyst",
               "exec", "serving.table_build", "serving.poll_build", "serving.poll_exec")
PER_LAYER = (
    ("session.start_s", "s"),
    ("session.first_start_s", "s"),
    ("mem.py_growth_mb", "MB"),
    ("mem.jvm_live_mb", "MB"),
    ("mem.jvm_old_peak_mb", "MB"),
    ("io.load_table.calls", "count"),
    ("io.load_table.s", "s"),
    ("io.load_table.jobs", "count"),
    ("queries.build_s", "s"),
    ("queries.build_jobs", "count"),
    ("catalyst.analysis_ms", "ms"),
    ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("exec.s", "s"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.shuffle_read_bytes", "bytes"),
    ("exec.shuffle_write_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"),
    ("exec.gc_ms", "ms"),
    ("stream.batches", "count"),
    ("stream.input_rows", "count"),
    ("stream.latest_offset_ms", "ms"),
    ("stream.planning_ms", "ms"),
    ("stream.add_batch_ms", "ms"),
    ("stream.wal_commit_ms", "ms"),
    ("stream.commit_offsets_ms", "ms"),
    ("state.commit_ms", "ms"),
    ("state.rows_total", "count"),
    ("state.memory_bytes", "bytes"),
    ("serving.table_build_s", "s"),
    ("serving.poll_build_ms", "ms"),
    ("serving.poll_exec_ms", "ms"),
    ("serving.poll_jobs", "count"),
    ("loadgen.queue_wait_ms_p95", "ms"),
    ("loadgen.late_ms_p95", "ms"),
    ("host.control_s", "s"),
    ("trace.ops", "count"),
    ("trace.overhead.op_ms_p50", "ms"),
    ("trace.overhead.batch_ms_p50", "ms"),
    *((f"self_s.{name}", "s") for name in LAYER_SPANS),
    *((f"query.{q}.{m}", u) for q in QUERIES
      for m, u in (("build_s", "s"), ("exec_s", "s"), ("build_jobs", "count"))),
)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 1]."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def op_metrics(op_ms: list, batch_ms: float) -> dict:
    return {"op_ms_p50": median(op_ms), "op_ms_p90": percentile(op_ms, 0.90),
            "batch_ms_p50": batch_ms}


class Run:
    """State of one benchmark run: arguments, work dir, tracer, outcome."""

    def __init__(self, args):
        self.workload, self.seed, self.seconds = args.workload, args.seed, args.seconds
        self.smoke, self.work = args.smoke, args.work_dir
        self.traced = bool(args.trace)
        self.tracer = Tracer(self.traced)
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.metrics: dict[str, float] = {}
        self.setup_s: list[float] = []
        self.session_start_s: list[float] = []
        self.spark = None
        self.detail: dict = {}
        self.t0 = time.perf_counter()

    def log(self, msg: str) -> None:
        print(f"[{time.perf_counter() - self.t0:7.1f}s] {self.workload}: {msg}",
              file=sys.stderr, flush=True)

    def fail(self, what: str, exc: BaseException) -> None:
        """Record a raising operation; the run goes on."""
        self.failed += 1
        self.problems.append(f"{what}: {type(exc).__name__}: {exc}")
        traceback.print_exception(exc, file=sys.stderr)

    def start_session(self, app: str, event_log: bool = False, **kwargs):
        """Stop the previous session, if any, and start a new one, with
        Spark's event log on if ``event_log``."""
        from kinesis_demo_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        confs = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            **kwargs.pop("extra_confs", {}),
        }
        if event_log:
            confs.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
                "spark.eventLog.compress": "false",
            })
            os.makedirs(os.path.join(self.work, "eventlog"), exist_ok=True)
        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark(app, extra_confs=confs, **kwargs)
        self.session_start_s.append(time.perf_counter() - t0)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def set_op(self, op: str | None) -> None:
        """Tag the calling thread's Spark jobs with ``op`` (traced runs)."""
        if self.tracer.enabled:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", op)

    def _old_gen(self) -> list:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return [p for p in mf.getMemoryPoolMXBeans()
                if "Old Gen" in p.getName() or "Tenured" in p.getName()]

    @staticmethod
    def _status_mb(field: str) -> float:
        with open("/proc/self/status") as f:
            return next(int(line.split()[1]) for line in f if line.startswith(field)) / 1024.0

    def mem_start(self) -> None:
        """Open the measured region's memory window: reset this process's
        peak RSS to its current RSS (Linux ``clear_refs``) and the JVM old
        generation's peak."""
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
        self.rss_start_mb = self._status_mb("VmRSS:")
        for pool in self._old_gen():
            pool.resetPeakUsage()

    def mem_mb(self) -> float:
        """``mem_mb`` at the end of the measured region: how far this Python
        process's RSS rose above its level at ``mem_start`` (what the driver
        side of the measured work added; the level itself holds the
        harness's imports and the oracle check's leftovers) plus the JVM
        heap still live after full collections, i.e. what the engine
        retains. The JVM's peak use is recorded beside it
        (``mem.jvm_old_peak_mb``) but left out of ``mem_mb``: it follows
        when the collector ran, and spread by a fifth between identical
        runs."""
        py_mb = self._status_mb("VmHWM:") - self.rss_start_mb
        jvm = self.spark._jvm.java.lang
        old_peak_mb = sum(p.getPeakUsage().getUsed() for p in self._old_gen()) / 2**20
        # the second collection frees what Spark's cleaner released after
        # the first (shuffle and broadcast state of finished jobs)
        for _ in range(2):
            jvm.System.gc()
            time.sleep(0.5)
        rt = jvm.Runtime.getRuntime()
        live_mb = (rt.totalMemory() - rt.freeMemory()) / 2**20
        parts = {"mem.py_growth_mb": py_mb, "mem.jvm_live_mb": live_mb,
                 "mem.jvm_old_peak_mb": old_peak_mb}
        self.metrics.update(parts)
        self.detail["mem"] = parts
        return py_mb + live_mb

    def host_control_s(self) -> float:
        """A fixed codegen'd hash chain over ``spark.range``: no IO, no
        shuffle, no data dependence, so it measures host and JVM speed."""
        from pyspark.sql import functions as F

        def once() -> float:
            t0 = time.perf_counter()
            self.spark.range(0, 1 << 25, 1, 16).select(
                F.bit_xor(F.xxhash64(F.xxhash64("id")))).collect()
            return time.perf_counter() - t0

        once()
        return median([once() for _ in range(3)])

    def overhead(self, traced: dict, untraced: list[dict]) -> None:
        """Tracing overhead: the traced measurement's end-to-end figures
        minus the mean of the ``untraced`` ones; taken before and after it,
        they cancel warm-up still under way."""
        for name in ("op_ms_p50", "batch_ms_p50"):
            self.metrics[f"trace.overhead.{name}"] = traced[name] - statistics.fmean(
                u[name] for u in untraced)

    def result(self) -> dict:
        names = PER_LAYER if self.traced else END_TO_END
        return {
            "correct": not self.problems,
            "attempted": max(1, self.attempted),
            "failed": self.failed,
            "metrics": {n: {"value": float(self.metrics.get(n, 0.0)), "unit": u}
                        for n, u in names},
        }


# --- traced-run bookkeeping -------------------------------------------------

def _span_s(sp) -> float:
    return sp.end - sp.start


def _children(tracer: Tracer):
    kids = defaultdict(list)
    for sp in tracer.spans:
        if sp.parent is not None:
            kids[sp.parent.index].append(sp)
    return kids


def _child(kids, sp, name: str):
    (c,) = [c for c in kids[sp.index] if c.name == name]
    return c


def _descendants(kids, sp, name: str) -> list:
    out, todo = [], list(kids[sp.index])
    while todo:
        c = todo.pop()
        if c.name == name:
            out.append(c)
        todo.extend(kids[c.index])
    return out


def _layer_common(run: Run) -> None:
    m = run.metrics
    m["session.start_s"] = median(run.session_start_s[:SETUPS])
    m["session.first_start_s"] = run.session_start_s[0]
    m["host.control_s"] = run.host_control_s()
    for name, s in run.tracer.self_times().items():
        if name in LAYER_SPANS:
            m[f"self_s.{name}"] = s


# --- analytics_mix -----------------------------------------------------------

def analytics_mix(run: Run) -> None:
    from kinesis_demo_spark import io
    from kinesis_demo_spark.registry import all_oracle_sql, all_queries
    from tests.oracle_harness import compare_counted, duckdb_conn

    data = os.path.join(run.work, "tables")
    registry, oracle = all_queries(), all_oracle_sql()
    tr = run.tracer
    tr.patch(io, "load_table", "io.load_table")

    # set-up: session start plus resolving every table
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        with tr.span("setup"):
            spark = run.start_session("perfbench-analytics")
            for name in io.TABLES:
                io.load_table(spark, data, name)
        run.setup_s.append(time.perf_counter() - t0)
    run.log(f"set-up done: {run.setup_s}")

    with tr.paused():
        # untimed warm pass, which also checks every result against its oracle
        con = duckdb_conn(data)
        for q in QUERIES:
            run.attempted += 1
            try:
                problems, n_rows = compare_counted(registry[q](spark, data), con, oracle[q], q)
            except Exception as exc:  # noqa: BLE001 — counted, the run goes on
                run.fail(q, exc)
                continue
            run.problems += problems
            if not problems and n_rows == 0:
                run.problems.append(f"{q}: empty result proves nothing")
        con.close()
        run.log("warm and check pass done")

        run.mem_start()
        samples, _ = _query_loop(run, registry, data)
        run.metrics["mem_mb"] = run.mem_mb()
    run.detail["query_s"] = samples
    run.metrics["setup_s"] = median(run.setup_s)
    run.metrics.update(_mix_metrics(samples))
    run.log("measured: " + ", ".join(
        f"{q} {median(samples[q]):.3f}s" for q in QUERIES if samples[q]))

    if run.traced:
        # single passes, each in a new session, traced ones with the event
        # log on; the order traced, untraced, untraced, traced cancels the
        # warm-up still under way
        traced, untraced = defaultdict(list), defaultdict(list)
        recs: dict[str, list] = defaultdict(list)
        for on in (True, False, False, True):
            with tr.paused():
                run.start_session("perfbench-analytics", event_log=on)
            if on:
                pass_s, pass_recs = _query_loop(run, registry, data, passes=1)
            else:
                with tr.paused():
                    pass_s, pass_recs = _query_loop(run, registry, data, passes=1)
            for q in QUERIES:
                (traced if on else untraced)[q] += pass_s[q]
                recs[q] += pass_recs[q]
        run.log("traced measurement done")
        _layer_common(run)
        run.overhead(_mix_metrics(traced), [_mix_metrics(untraced)])
    run.spark.stop()
    if run.traced:
        _analytics_layers(run, recs)


def _mix_metrics(samples: dict) -> dict:
    """``op_ms_*`` over every query run; ``batch_ms_p50`` is one pass of
    the mix, the sum of the per-query medians."""
    return op_metrics([1000.0 * s for q in QUERIES for s in samples[q]],
                      1000.0 * sum(median(samples[q]) for q in QUERIES if samples[q]))


def _query_loop(run: Run, registry: dict, data: str, passes: int | None = None):
    """Closed loop over the mix: ``passes`` whole passes, or, by default,
    passes while another one fits in ``--seconds``, and at least two.
    Returns each query's wall times and, when tracing, its records."""
    from kinesis_demo_spark import io

    samples: dict[str, list] = defaultdict(list)
    recs: dict[str, list] = defaultdict(list)
    t_loop = time.perf_counter()
    p = 0
    while p < (passes or 2) or (
        passes is None and (time.perf_counter() - t_loop) * (p + 1) / p <= run.seconds
    ):
        for q in QUERIES:
            run.attempted += 1
            try:
                dt_s, rec = _run_query(run, registry[q], data, f"q:{q}:{run.attempted}")
            except Exception as exc:  # noqa: BLE001 — counted, the run goes on
                run.fail(f"{q} pass {p}", exc)
                continue
            finally:
                run.set_op(None)
                io.release_persisted()
            samples[q].append(dt_s)
            if rec is not None:
                recs[q].append(rec)
        p += 1
    return samples, recs


def _run_query(run: Run, fn, data: str, op: str):
    """Build and force one query. Returns its wall time and, when tracing,
    its Catalyst phase times and root span."""
    spark, tr = run.spark, run.tracer
    if not tr.enabled:
        t0 = time.perf_counter()
        fn(spark, data).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0, None
    run.set_op(op)
    t0 = time.perf_counter()
    with tr.span("query", op=op) as root:
        with tr.span("queries.build"):
            df = fn(spark, data)
        with tr.span("catalyst"):
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases, it = {}, qe.tracker().phases().iterator()
            while it.hasNext():
                kv = it.next()
                phases[kv._1()] = float(kv._2().durationMs())
        with tr.span("exec"):
            df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0, {"root": root, "phases": phases}


def _analytics_layers(run: Run, recs: dict[str, list]) -> None:
    """Per-layer metrics per pass of the mix: for each query the median over
    its traced runs, summed over the queries.

    The ``noop`` write plans the query again in a new QueryExecution of its
    own, so the ``exec`` span holds a second optimization and planning
    round. ``exec`` figures here have the query's ``catalyst`` span, the
    same work on the same plan, taken out, and the self times move it from
    ``exec`` to ``catalyst``."""
    jobs = attribute_jobs(run.tracer, read_event_logs(os.path.join(run.work, "eventlog")))
    kids = _children(run.tracer)
    m = run.metrics
    replan_s = 0.0
    for q, rs in recs.items():
        rows = []
        for r in rs:
            root = r["root"]
            build, cat, ex = (_child(kids, root, n) for n in ("queries.build", "catalyst", "exec"))
            loads = _descendants(kids, build, "io.load_table")
            load_jobs = sum(len(jobs[sp.index]) for sp in loads)
            ex_jobs = jobs[ex.index]
            ex_s = max(0.0, _span_s(ex) - _span_s(cat))
            replan_s += _span_s(ex) - ex_s
            rows.append({
                "io.load_table.calls": len(loads),
                "io.load_table.s": sum(_span_s(sp) for sp in loads),
                "io.load_table.jobs": load_jobs,
                "queries.build_s": _span_s(build) - sum(_span_s(sp) for sp in loads),
                "queries.build_jobs": len(jobs[build.index]),
                "catalyst.analysis_ms": r["phases"].get("analysis", 0.0),
                "catalyst.optimization_ms": r["phases"].get("optimization", 0.0),
                "catalyst.planning_ms": r["phases"].get("planning", 0.0),
                "exec.s": ex_s,
                "exec.jobs": len(ex_jobs),
                "exec.stages": sum(j.stages for j in ex_jobs),
                "exec.tasks": sum(j.tasks for j in ex_jobs),
                "exec.shuffle_read_bytes": sum(j.shuffle_read for j in ex_jobs),
                "exec.shuffle_write_bytes": sum(j.shuffle_write for j in ex_jobs),
                "exec.spill_bytes": sum(j.spill for j in ex_jobs),
                "exec.gc_ms": sum(j.gc_ms for j in ex_jobs),
                f"query.{q}.build_s": _span_s(build),
                f"query.{q}.exec_s": ex_s,
                f"query.{q}.build_jobs": len(jobs[build.index]) + load_jobs,
            })
        for key in (rows[0] if rows else ()):
            m[key] = m.get(key, 0.0) + median([row[key] for row in rows])
    m["self_s.exec"] = m.get("self_s.exec", 0.0) - replan_s
    m["self_s.catalyst"] = m.get("self_s.catalyst", 0.0) + replan_s
    m["trace.ops"] = sum(len(rs) for rs in recs.values())


# --- serve_and_drain -------------------------------------------------------

def serve_and_drain(run: Run) -> None:
    from kinesis_demo_spark.io import load_table
    from kinesis_demo_spark.plans.serving import serving_table

    data = os.path.join(run.work, "tables")
    src = os.path.join(run.work, "ingest")
    sf = gen.SERVE_SMOKE_SF if run.smoke else gen.SERVE_SF
    reqs = gen.poll_requests(run.seed, int(run.seconds * POLL_RATE), gen.event_users(sf),
                             POLL_HORIZON_S, gen.EVENTS_SPAN_S // POLL_HORIZON_S)
    tr = run.tracer

    def setup(event_log: bool = False):
        """Session start plus the serving-table build and persist. The
        serving profile: FAIR scheduling, AQE off, 8 shuffle partitions."""
        spark = run.start_session(
            "perfbench-serve", event_log=event_log, shuffle_partitions=8,
            extra_confs={"spark.scheduler.mode": "FAIR",
                         "spark.sql.adaptive.enabled": "false"})
        with tr.span("serving.table_build"):
            table = serving_table(load_table(spark, data, "events"), partitions=8).persist()
            table.count()
        return table

    for _ in range(SETUPS):
        t0 = time.perf_counter()
        with tr.span("setup"):
            table = setup()
        run.setup_s.append(time.perf_counter() - t0)
    run.log(f"set-up done: {run.setup_s}")

    with tr.paused():
        run.mem_start()
        batches, recs = _drain_and_serve(run, table, src, reqs, "drain_ckpt", warm=True)
        run.metrics["mem_mb"] = run.mem_mb()
        ok = [r for r in recs if "rows" in r]
        _check_polls(run, table, ok)
        _check_drain(run, src)
        run.log("checks done")
    run.detail.update(poll_ms=[1000.0 * (r["end"] - r["due"]) for r in ok],
                      batch_ms=[p["batchDuration"] for p in batches])
    run.metrics["setup_s"] = median(run.setup_s)
    run.metrics.update(_serve_metrics(batches, recs))

    if run.traced:
        # a traced measurement in a new session with the event log on; an
        # untraced one after it too would outlast the run's time limit
        with tr.paused():
            table = setup(event_log=True)
        batches, recs = _drain_and_serve(run, table, src, reqs, "drain_ckpt_traced", warm=False)
        _layer_common(run)
        _serve_layers(run, recs, batches)
        run.overhead(_serve_metrics(batches, recs), [dict(run.metrics)])
    table.unpersist()
    run.spark.stop()
    if run.traced:
        jobs = attribute_jobs(tr, read_event_logs(os.path.join(run.work, "eventlog")))
        kids = _children(tr)
        run.metrics["serving.poll_jobs"] = median(
            [len(jobs[r["root"].index]) + sum(len(jobs[c.index]) for c in kids[r["root"].index])
             for r in recs if "root" in r])


def _serve_metrics(batches: list, recs: list) -> dict:
    return op_metrics([1000.0 * (r["end"] - r["due"]) for r in recs if "rows" in r],
                      median([p["batchDuration"] for p in batches]))


def _drain_and_serve(run: Run, table, src: str, reqs: list, ckpt: str, warm: bool):
    """The measured region: warm the poll path if ``warm``, drain the
    backlog, warm the poll path briefly again, then run the open loop of
    polls. The main warm-up comes first so that the JIT compiles what it
    queued while the drain runs; the traced run's later measurements skip
    it, as the JVM is warm by then. Returns the measured micro-batches'
    progress and the poll records."""
    from kinesis_demo_spark.plans.serving import poll_page_with_total

    tr = run.tracer

    def poll(rec: dict, traced: bool) -> list:
        user, after, upto = rec["req"]
        if not traced:
            return poll_page_with_total(table, user, str(after), str(upto)).collect()
        op = f"poll:{rec['i']}"
        run.set_op(op)
        try:
            with tr.span("poll", op=op) as root:
                rec["root"] = root
                with tr.span("serving.poll_build"):
                    df = poll_page_with_total(table, user, str(after), str(upto))
                with tr.span("serving.poll_exec"):
                    return df.collect()
        finally:
            run.set_op(None)

    if warm:
        _warm_polls(poll, reqs, 1.0 if run.smoke else WARMUP_S)
    # each measured phase starts from a collected heap, so that no phase
    # pays for the garbage of the one before it
    run.spark._jvm.java.lang.System.gc()
    batches = _drain(run, src, os.path.join(run.work, ckpt))
    run.log(f"{len(batches)} measured batches done")
    _warm_polls(poll, reqs, 0.5 if run.smoke else REWARM_S)
    run.spark._jvm.java.lang.System.gc()
    recs = _open_loop(run, poll, reqs)
    run.log(f"{len(recs)} measured polls done")
    return batches, recs


def _drain(run: Run, src: str, ckpt: str) -> list:
    """Drain the backlog in ``src`` (10 s watermark, update mode,
    availableNow, ``noop`` sink) and return the progress of the measured
    batches. A raising batch ends the drain and counts as failed."""
    from kinesis_demo_spark.plans.movements import movement_aggregates
    from kinesis_demo_spark.streaming.pipeline import drain_state_partitions, stream_events

    spark = run.spark
    # the engine's state-partition scoping for bounded drains (the serving
    # profile's 8 shuffle partitions would double every batch's state commits)
    with drain_state_partitions(spark):
        q = (
            movement_aggregates(
                stream_events(spark, src, max_files_per_trigger=1, glob="*.parquet")
                .withWatermark("ts", "10 seconds"))
            .writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
    try:
        q.awaitTermination()
    except Exception as exc:  # noqa: BLE001 — counted, the run goes on
        run.fail("ingest drain", exc)
    finally:
        q.stop()
    progress = sorted((json.loads(p.json) for p in q.recentProgress), key=lambda p: p["batchId"])
    batches = [p for p in progress if p["numInputRows"] > 0][DRAIN_WARM_BATCHES:]
    run.attempted += len(batches)
    if not batches and not run.failed:
        run.fail("ingest drain", RuntimeError("no measured micro-batch"))
    return batches


def _warm_polls(poll, reqs: list, seconds: float) -> None:
    """Closed loop of four clients for ``seconds``: many polls in little
    time, so the poll path's generated code is compiled before the timed
    open loop starts."""
    deadline = time.perf_counter() + seconds

    def client(k: int) -> None:
        while time.perf_counter() < deadline:
            poll({"i": -1, "req": reqs[k % len(reqs)]}, False)
            k += 4

    with ThreadPoolExecutor(max_workers=4) as pool:
        list(pool.map(client, range(4)))


def _open_loop(run: Run, poll, reqs: list) -> list:
    """Send ``reqs`` at ``POLL_RATE`` per second whatever the latency, from
    one generator thread onto up to four client threads; each record keeps
    the due, submit, start and end times of its poll."""
    clients = min(4, len(os.sched_getaffinity(0)))

    def one(rec: dict) -> dict:
        rec["start"] = time.perf_counter()
        try:
            rec["rows"] = poll(rec, run.tracer.enabled)
        except Exception as exc:  # noqa: BLE001 — counted, the loop goes on
            run.fail(f"poll {rec['i']}", exc)
        rec["end"] = time.perf_counter()
        return rec

    with ThreadPoolExecutor(max_workers=clients) as pool:
        t0 = time.perf_counter() + 0.05
        futures = []
        for i, req in enumerate(reqs):
            due = t0 + i / POLL_RATE
            time.sleep(max(0.0, due - time.perf_counter()))
            rec = {"i": i, "req": req, "due": due, "submit": time.perf_counter()}
            futures.append(pool.submit(one, rec))
        recs = [f.result() for f in futures]
    run.attempted += len(recs)
    return recs


def _serve_layers(run: Run, recs: list, batches: list) -> None:
    m, tr = run.metrics, run.tracer
    kids = _children(tr)
    traced = [r for r in recs if "root" in r and r["root"].end is not None]

    def child_ms(r, name):
        return 1000.0 * sum(_span_s(c) for c in kids[r["root"].index] if c.name == name)

    dur = [p["durationMs"] for p in batches]
    states = [p["stateOperators"][0] for p in batches if p.get("stateOperators")]
    m.update({
        "serving.table_build_s": median(
            [_span_s(sp) for sp in tr.spans if sp.name == "serving.table_build"]),
        "serving.poll_build_ms": median([child_ms(r, "serving.poll_build") for r in traced]),
        "serving.poll_exec_ms": median([child_ms(r, "serving.poll_exec") for r in traced]),
        "loadgen.queue_wait_ms_p95": percentile(
            [1000.0 * (r["start"] - r["submit"]) for r in recs], 0.95),
        "loadgen.late_ms_p95": percentile(
            [1000.0 * (r["submit"] - r["due"]) for r in recs], 0.95),
        "stream.batches": len(batches),
        "stream.input_rows": sum(p["numInputRows"] for p in batches),
        "stream.latest_offset_ms": median([d.get("latestOffset", 0) for d in dur]),
        "stream.planning_ms": median([d.get("queryPlanning", 0) for d in dur]),
        "stream.add_batch_ms": median([d.get("addBatch", 0) for d in dur]),
        "stream.wal_commit_ms": median([d.get("walCommit", 0) for d in dur]),
        "stream.commit_offsets_ms": median([d.get("commitOffsets", 0) for d in dur]),
        "state.commit_ms": median([s.get("commitTimeMs", 0) for s in states]),
        "state.rows_total": states[-1]["numRowsTotal"] if states else 0,
        "state.memory_bytes": states[-1]["memoryUsedBytes"] if states else 0,
        "trace.ops": len(traced),
    })


def _check_polls(run: Run, table, recs: list) -> None:
    """Every fourth poll page must equal the coalesced ``poll_many_collected``
    answer to the same request, and its running total must cover the page."""
    from kinesis_demo_spark.plans.serving import poll_many_collected

    sample = recs[::4]
    want = poll_many_collected(table, [(r["i"], *r["req"]) for r in sample], limit=10)
    for r in sample:
        got = [(x["user_id"], x["window_start"], x["cnt"], x["total_events"]) for x in r["rows"]]
        exp = [(x["user_id"], x["window_start"], x["cnt"], x["total_events"])
               for x in want[r["i"]]]
        if got != exp:
            run.problems.append(f"poll {r['i']} {r['req']}: page {got} != {exp}")
        if got and got[0][3] < sum(x[2] for x in got):
            run.problems.append(f"poll {r['i']}: total_events below the page sum")
    if not any(r["rows"] for r in sample):
        run.problems.append("every sampled poll page is empty")


def _check_drain(run: Run, src: str) -> None:
    """Drain the first two backlog files again, into a sink that keeps every
    emitted row: each (user_id, window_start) count must equal the batch
    ``movement_aggregates`` over the same files."""
    from kinesis_demo_spark.plans.movements import movement_aggregates
    from kinesis_demo_spark.streaming.pipeline import stream_events

    spark, prefix = run.spark, "ingest_0000[01].parquet"
    got: dict = {}

    def sink(df, _batch_id):
        for r in df.select("user_id", "window_start", "cnt").collect():
            got[(r[0], r[1])] = r[2]

    q = (
        movement_aggregates(
            stream_events(spark, src, max_files_per_trigger=1, glob=prefix)
            .withWatermark("ts", "10 seconds"))
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(run.work, "check_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    files = spark.read.option("pathGlobFilter", prefix).parquet(src)
    want = {(r[0], r[1]): r[2] for r in movement_aggregates(files)
            .select("user_id", "window_start", "cnt").collect()}
    if got != want:
        bad = [k for k in set(got) | set(want) if got.get(k) != want.get(k)]
        run.problems.append(f"ingest drain: {len(bad)} of {len(want)} windows differ, "
                            f"e.g. {bad[:3]}")


WORKLOADS = {"analytics_mix": analytics_mix, "serve_and_drain": serve_and_drain}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--work-dir", required=True)
    run = Run(ap.parse_args())
    WORKLOADS[run.workload](run)
    with open(os.path.join(run.work, "detail.json"), "w") as f:
        json.dump({"samples": run.detail, "setup_s": run.setup_s, "problems": run.problems}, f)
    if run.traced:
        run.tracer.unpatch()
        path = os.path.join(run.work, "trace.json")
        run.tracer.dump(path, {"metrics": run.metrics, "problems": run.problems})
        print(f"spans written to {path}", file=sys.stderr)
    for p in run.problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    print(json.dumps(run.result()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
