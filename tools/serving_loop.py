#!/usr/bin/env python
"""Long-running multi-client serving harness: the reference's API is a
long-lived query endpoint (functions.js:14-15 — every page visitor polls
``GET /v1/users/{id}/movements/{ts}`` on a 2 s budget, functions.js:185
``setInterval(..., TRACKING_INTERVAL*2)``). The engine reproduces that
query's semantics in plans/serving.py; this harness reproduces the
*endpoint shape*: a hot materialized serving table answering a sustained
stream of concurrent poll requests, each request a cursor-advancing
range-scan + running-sum pair, with per-request latency percentiles graded
against the 2 s budget.

Spark-first serving: the aggregate table is persisted once (the serving
layer's DynamoDB counterpart); each poll is one parameterized statement,
planned in the table's serving session, whose plan is a pushed-filter scan
of the cached table + TakeOrderedAndProject run with no generated code, so
request latency is O(matched windows), never O(table), and no request waits
on the Java compiler. Concurrency = one Python thread per client — Spark
schedules concurrent actions from separate threads onto the shared executor
pool (FAIR-ready; local[] shares cores the same way a serving cluster
shares executors).

Prints ONE JSON line:
    {"metric": "serving_p99", "value": <sec>, "unit": "sec", "p50": ...,
     "p95": ..., "max": ..., "qps": ..., "requests": N, "clients": K,
     "within_budget_pct": ..., "sf": ...}
Exit 1 iff p99 exceeds the budget.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import re
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kinesis_demo_spark.io import load_table
from kinesis_demo_spark.plans.serving import (
    poll_many_collected,
    poll_page_with_total,
    serving_table,
)
from kinesis_demo_spark.session import get_spark

# Each poll scans this much window-time past its cursor (the reference client
# polls every 2 s and reads the new 1 s windows; at fixture density a few
# hours of windows per poll keeps result sizes realistic-but-small).
POLL_HORIZON_SEC = 4 * 3600


class _Coalescer:
    """Serving-front request coalescer: clients enqueue poll params; a
    dispatcher thread drains the queue every ``window_ms`` (or when
    ``max_batch`` is waiting) and answers the whole batch with ONE
    ``poll_many_collected`` job, then hands each client its rows. One
    Spark job per poll capped the 64-client sweep near 30 qps. A poll runs
    interpreted and compiles nothing, so the fixed cost is scheduling the
    job alone; the front amortizes it exactly like BatchGetItem does for
    the reference's serving store. It still pays: at sf0.1, 4 clients and
    200 requests on 4 cores, coalesced polls measured p50 0.13–0.16 s, p99
    0.26–0.36 s and 23–27 qps against 0.17–0.27 s, 0.45–0.59 s and 13–20
    qps one job per poll (two sets of 3 alternating runs per mode)."""

    def __init__(self, spark, agg, window_ms: float = 10.0, max_batch: int = 64):
        import threading

        self.spark, self.agg = spark, agg
        self.window_s = window_ms / 1000.0
        self.max_batch = max_batch
        self.lock = threading.Condition()
        self.pending: list = []  # (poll_id, user, after, upto, event)
        self.results: dict = {}
        self.closed = False
        self._seq = 0
        self._thread = threading.Thread(target=self._dispatch_loop, daemon=True)
        self._thread.start()

    def poll(self, user: int, after, upto):
        import threading

        done = threading.Event()
        with self.lock:
            self._seq += 1
            pid = self._seq
            self.pending.append((pid, user, after, upto, done))
            if len(self.pending) >= self.max_batch:
                self.lock.notify()
        done.wait()
        out = self.results.pop(pid)
        # A dispatcher failure is stored as the exception itself so the
        # caller fails loudly instead of hanging on done.wait() forever.
        if isinstance(out, BaseException):
            raise out
        return out

    def _dispatch_loop(self):
        while True:
            with self.lock:
                if not self.pending:
                    if self.closed:
                        return
                    self.lock.wait(self.window_s)
                if not self.pending:
                    continue
                batch, self.pending = self.pending, []
            try:
                # single-stage pushed-filter batch + coordinator assembly
                # (plans/serving.py::poll_many_collected — one job per
                # dispatch instead of broadcast-join's two jobs + shuffle)
                by_pid = poll_many_collected(
                    self.agg,
                    [(pid, u, a, up) for pid, u, a, up, _ in batch],
                    limit=10,
                )
                for pid, _, _, _, done in batch:
                    self.results[pid] = by_pid[pid]
                    done.set()
            except BaseException as exc:  # noqa: BLE001 — re-raised in poll()
                for pid, _, _, _, done in batch:
                    self.results[pid] = exc
                    done.set()

    def close(self):
        with self.lock:
            self.closed = True
            self.lock.notify()
        self._thread.join(timeout=10)


def run_serving_loop(
    spark, sf_dir: str, requests: int = 200, clients: int = 4, budget_sec: float = 2.0,
    coalesce: bool = False,
) -> dict:
    # serving_table (not the bare aggregate): range-partitioned on user_id
    # and sorted on (user_id, window_start) before persist, so the in-memory
    # batch stats prune non-matching batches per poll — the r8 64-client
    # fix, with the fused one-job-per-poll plan below (two jobs/poll
    # saturated the scheduler at ~15 qps; see SCALING.md serving sweep).
    # The user_id partitioning also satisfies the poll's running-total
    # window, so each poll job is one stage with no shuffle.
    # 8 range partitions, not defaultParallelism: every poll job launches one
    # task per cached partition regardless of batch pruning, so at high
    # client counts the LOCAL scheduler's task throughput is the ceiling —
    # 32 partitions = 32 tasks/poll saturated at ~24 qps; 8 quadruples the
    # job rate while each partition still holds only ~2 MB of aggregate.
    # (On a real cluster the same knob is "serving-table partition count
    # scaled to request volume, not scan parallelism".)
    agg = serving_table(load_table(spark, sf_dir, "events"), partitions=8).persist()
    bounds = agg.agg(
        {"window_start": "min", "user_id": "max"}
    ).collect()[0]
    t_min, max_user = bounds["min(window_start)"], bounds["max(user_id)"]
    agg.count()  # materialize the cache before timing begins
    t_span = (
        agg.agg({"window_start": "max"}).collect()[0][0] - t_min
    ).total_seconds()
    n_strides = max(1, int(t_span // POLL_HORIZON_SEC))

    front = _Coalescer(spark, agg, max_batch=max(clients, 8)) if coalesce else None

    def one_poll(i: int) -> float:
        # deterministic request mix: client i polls user (i mod users) with a
        # cursor walking forward through the fixture's time range — every
        # request exercises the pushed-filter range scan at a different
        # selectivity, like a fleet of clients at different poll positions.
        user = i % (max_user + 1)
        after = t_min + datetime.timedelta(seconds=(i % n_strides) * POLL_HORIZON_SEC)
        upto = after + datetime.timedelta(seconds=POLL_HORIZON_SEC)
        t0 = time.perf_counter()
        if front is not None:
            rows = front.poll(user, after, upto)
        else:
            # ONE action per poll tick: the page and the client's running
            # total fused (plans/serving.py::poll_page_with_total)
            rows = poll_page_with_total(
                agg, user, after=str(after), upto=str(upto), limit=10
            ).collect()
        dt = time.perf_counter() - t0
        if rows:  # running total over ws>after covers the (after,upto] page
            assert rows[0]["total_events"] >= sum(r["cnt"] for r in rows), (
                "poll invariant broken"
            )

        return dt

    one_poll(0)  # bind the table's serving session, warm the path; SLO grades steady state
    t_start = time.perf_counter()
    with ThreadPoolExecutor(max_workers=clients) as pool:
        lat = sorted(pool.map(one_poll, range(requests)))
    wall = time.perf_counter() - t_start
    if front is not None:
        front.close()
    agg.unpersist()  # callers (bench.py) share the session; leave no cache behind

    def pct(p: float) -> float:
        return round(lat[min(len(lat) - 1, int(p * len(lat)))], 4)

    return {
        "metric": "serving_p99",
        "value": pct(0.99),
        "unit": "sec",
        "p50": pct(0.50),
        "p95": pct(0.95),
        "max": round(lat[-1], 4),
        "qps": round(requests / wall, 2),
        "requests": requests,
        "clients": clients,
        "within_budget_pct": round(100.0 * sum(1 for x in lat if x <= budget_sec) / len(lat), 1),
        "budget_sec": budget_sec,
        "sf": float(m.group(1)) if (m := re.search(r"sf([0-9.]+)", sf_dir)) else -1.0,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--requests", type=int, default=200)
    ap.add_argument("--clients", type=int, default=4)
    ap.add_argument("--budget-sec", type=float, default=2.0)
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("--coalesce", action="store_true",
                    help="batch concurrent polls into one poll_many_collected job")
    args = ap.parse_args()
    # FAIR scheduling: N poll clients = N concurrent tiny jobs; FIFO lets a
    # queue build head-of-line tails at high client counts. Startup-only
    # conf, so it lives here (the harness owns its process). Serving jobs
    # are micro-jobs over a cached table: 8 shuffle partitions (matched
    # rows per poll are horizon-bounded) and AQE OFF — adaptive re-planning
    # adds a per-stage optimization round that costs more latency than it
    # saves on kilobyte shuffles. Batch/analytics sessions keep AQE on;
    # this is the serving profile.
    spark = get_spark(
        "kinesis-demo-spark-serving",
        shuffle_partitions=8,
        extra_confs={
            "spark.scheduler.mode": "FAIR",
            "spark.sql.adaptive.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    stats = run_serving_loop(
        spark, args.sf_dir, args.requests, args.clients, args.budget_sec,
        coalesce=args.coalesce,
    )
    print(json.dumps(stats))
    return 1 if stats["value"] > args.budget_sec else 0


if __name__ == "__main__":
    sys.exit(main())
