#!/usr/bin/env python
"""Combined ingest+serve SLA probe (VERDICT r9 #6): the reference's
deployment runs BOTH budgets at once — the Lambda consumer flushes 1 s
micro-batches into the store while browser clients poll it on a 2 s loop
(web/assets/js/functions.js:12,133 ingest cadence; :11,134 poll cadence).
STREAM_THROUGHPUT.json and SERVING_SF1.json seal those budgets separately;
this probe runs them CONCURRENTLY in one JVM (one scheduler, one executor
pool — exactly the contention a single-cluster deployment has) and seals
them together:

- ingest: the real A1/A2 movs shape (movement_aggregates = per-(user, 1 s
  window) count + sorted collect_list state) from the rate source at a
  sustainable rung from the sealed ladder, watermark 10 s, 1 s trigger,
  update mode, sf1 user cardinality — identical to the
  stream_throughput.py seal;
- serve: the sealed serving loop (tools/serving_loop.py, the coalesced
  single-stage batched poll) at 32 concurrent clients against the sf1
  serving table, polling throughout the ingest window.

Both SLAs must hold under interference: p99 batch duration < 1000 ms (the
1 s trigger) and p99 poll latency < 2 s (the reference's poll budget).
Writes PIPELINE_SLA.json:

    python tools/gen_sf1_events.py      # build /tmp/sf1 events once
    python tools/pipeline_sla.py [offered_rows_s] [clients] [requests]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kinesis_demo_spark.session import get_spark
from kinesis_demo_spark.sources.synthetic import stream_synthetic_events
from kinesis_demo_spark.plans.movements import movement_aggregates
from tools.stream_throughput import steady_tail

# Descending offered-load ladder: the solo ingest ceiling is 244k rows/s
# (STREAM_THROUGHPUT.json); under 32-client serving interference the 100k
# rung sits ON the 1 s budget edge (measured p99 978 ms then 1608 ms on
# back-to-back runs), so the seal walks DOWN until both budgets hold and
# records every rung — the interference cost is the artifact, not a
# number to hide.
LADDER = (100_000, 75_000, 50_000, 25_000)
CLIENTS_DEFAULT = 32
REQUESTS_DEFAULT = 600


_HDFS_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
)
_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _one_rung(
    spark, sf1_dir: str, offered: int, clients: int, requests: int,
    provider: str | None = None,
) -> dict:
    import shutil

    if provider:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    ckpt = f"/tmp/pipeline_sla_ckpt_{offered}_{(provider or 'default').rsplit('.', 1)[-1]}"
    shutil.rmtree(ckpt, ignore_errors=True)
    # ingest side: the sealed movs shape, started FIRST so the serving loop
    # runs entirely inside the ingest window
    events = stream_synthetic_events(
        spark, rows_per_second=offered, n_users=15_000
    ).withWatermark("ts", "10 seconds")
    q = (
        movement_aggregates(events)
        .writeStream.format("noop")
        .outputMode("update")
        .trigger(processingTime="1 second")
        .option("checkpointLocation", ckpt)
        .start()
    )
    time.sleep(8)  # past stream warm-up so the poll window sees steady batches

    # serve side: the sealed coalesced poll loop, timed while the ingest
    # stream keeps its 1 s cadence on the same executor pool
    from tools.serving_loop import run_serving_loop

    serving = run_serving_loop(
        spark, sf1_dir, requests=requests, clients=clients, coalesce=True
    )

    time.sleep(2)
    progresses = [json.loads(p.json) for p in q.recentProgress]
    q.stop()

    # steady tail only (the throughput seal's summary)
    tail = steady_tail(progresses)
    del tail["state_memory_bytes"]
    p99 = tail["batch_ms_p99"]
    ingest = {"offered_rows_s": offered, **tail, "budget_held": p99 is not None and p99 < 1000}
    serving_ok = serving.get("value") is not None and serving["value"] < 2.0
    return {
        "ingest": ingest,
        "serving": serving,
        "both_budgets_held": bool(ingest["budget_held"] and serving_ok),
    }


def _state_store_h2h(spark, sf1_dir: str, clients: int, requests: int) -> dict:
    """Same-JVM ladder head-to-head: the 100k rung (the sealed ceiling, p99
    1008 ms — 0.8% over the 1 s budget in r11) plus the 75k control rung,
    each under the default HDFS-backed store AND RocksDB (VERDICT r11 #2).
    The state shape (~180k windows x ~1.7 KB of sorted movement structs) is
    exactly the regime where the provider changes the batch-time
    distribution: HDFS-backed keeps versioned copies on the JVM heap (GC
    pressure in the tail), RocksDB keeps native memory + changelog. The
    decision (keep/switch) is recorded with the numbers either way."""
    out: dict = {"rungs": []}
    for offered in (100_000, 75_000):
        for label, provider in (("hdfs_default", _HDFS_PROVIDER),
                                ("rocksdb", _ROCKSDB_PROVIDER)):
            r = _one_rung(spark, sf1_dir, offered, clients, requests,
                          provider=provider)
            row = {
                "offered_rows_s": offered,
                "provider": label,
                "ingest_p99_ms": r["ingest"]["batch_ms_p99"],
                "ingest_p50_ms": r["ingest"]["batch_ms_p50"],
                "ingest_max_ms": r["ingest"]["batch_ms_max"],
                "achieved_rows_s": r["ingest"]["achieved_rows_s"],
                "state_rows_total": r["ingest"]["state_rows_total"],
                "serving_p99_s": r["serving"].get("value"),
                "both_budgets_held": r["both_budgets_held"],
            }
            out["rungs"].append(row)
            print(json.dumps(row), file=sys.stderr)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", _HDFS_PROVIDER)
    return out


def main() -> int:
    if "--h2h" in sys.argv:
        # Positionals are relative to the flag: `--h2h [clients] [requests]`
        # (ADVICE r12 #1 — the old argv[2]/argv[3] read silently dropped the
        # first positional after the remove() shift).
        sys.argv.remove("--h2h")
        clients = int(sys.argv[1]) if len(sys.argv) > 1 else CLIENTS_DEFAULT
        requests = int(sys.argv[2]) if len(sys.argv) > 2 else REQUESTS_DEFAULT
        sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/sf1")
        spark = get_spark("pipeline-sla-h2h")
        spark.sparkContext.setLogLevel("ERROR")
        h2h = _state_store_h2h(spark, sf1_dir, clients, requests)
        print(json.dumps(h2h))
        return 0

    ladder = (int(sys.argv[1]),) if len(sys.argv) > 1 else LADDER
    clients = int(sys.argv[2]) if len(sys.argv) > 2 else CLIENTS_DEFAULT
    requests = int(sys.argv[3]) if len(sys.argv) > 3 else REQUESTS_DEFAULT
    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/sf1")
    if not os.path.exists(os.path.join(sf1_dir, "events.parquet")):
        print(f"missing {sf1_dir}/events.parquet; run tools/gen_sf1_events.py first",
              file=sys.stderr)
        return 1

    spark = get_spark("pipeline-sla")
    spark.sparkContext.setLogLevel("ERROR")

    rungs, sealed = [], None
    for offered in ladder:
        rung = _one_rung(spark, sf1_dir, offered, clients, requests)
        rungs.append(rung)
        print(json.dumps({"offered": offered,
                          "ingest_p99_ms": rung["ingest"]["batch_ms_p99"],
                          "serving_p99_s": rung["serving"].get("value"),
                          "both_budgets_held": rung["both_budgets_held"]}),
              file=sys.stderr)
        if rung["both_budgets_held"]:
            sealed = rung
            break

    doc = {
        "metric": "pipeline_sla_concurrent",
        "shape": "movs ingest (rate -> movement_aggregates, watermark 10s, "
                 "trigger 1s, update, n_users=15000) CONCURRENT WITH the "
                 f"{clients}-client coalesced serving loop on the sf1 table; "
                 "descending offered-load ladder, sealed = highest rung "
                 "where BOTH budgets held",
        "sealed": sealed,
        "rungs": rungs,
        "solo_references": {
            "ingest_ceiling_rows_s": "STREAM_THROUGHPUT.json",
            "serving_64c": "SERVING_SF1.json",
        },
    }
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "PIPELINE_SLA.json")
    with open(out, "w") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps({
        "metric": doc["metric"],
        "sealed_offered_rows_s": sealed["ingest"]["offered_rows_s"] if sealed else None,
        "sealed_ingest_p99_ms": sealed["ingest"]["batch_ms_p99"] if sealed else None,
        "sealed_serving_p99_s": sealed["serving"].get("value") if sealed else None,
    }))
    return 0 if sealed else 2


if __name__ == "__main__":
    sys.exit(main())
