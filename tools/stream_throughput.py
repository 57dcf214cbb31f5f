#!/usr/bin/env python
"""Streaming throughput probe: drives the production pipeline shape (rate
source -> watermarked 1 s windowed aggregate -> noop sink, update mode) at a
configurable offered load and reports achieved rows/s from the query's own
progress metrics.

Usage:
    python tools/stream_throughput.py [rows_per_second] [seconds] [--wire]
    python tools/stream_throughput.py --seal   # writes STREAM_THROUGHPUT.json

``--wire`` routes every record through the transport codec first
(encode_wire_events -> decode_wire_events, the kafka branch's JSON wire
round-trip) so the achieved rate prices the serialization a real broker
deployment pays per record.

Prints one JSON line:
    {"metric": "stream_rows_per_s", "offered": R, "achieved": N,
     "batches": B, "unit": "rows/s"}

Separate from bench.py (whose contract is per-query seconds at a fixture
scale factor) because throughput is a sustained-rate property, not a
latency: the interesting question is whether the aggregate keeps up with the
offered load (achieved ~= offered) and how much headroom the micro-batch
cadence has. The reference's budget is its 1 s flush of ~60 client events/s
(SURVEY.md §6); the rate source offers 10k/s by default — three orders
beyond reference scale on one node."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from datetime import datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kinesis_demo_spark.session import get_spark
from kinesis_demo_spark.sources.synthetic import stream_synthetic_events
from kinesis_demo_spark.streaming.pipeline import (
    decode_wire_events,
    encode_wire_events,
    windowed_aggregate,
)


# The ``durationMs`` phases the steady tail reports a median of, keyed as
# perfbench's ``stream.*`` metrics name them.
_PHASES = {
    "latestOffset": "latest_offset",
    "addBatch": "add_batch",
    "walCommit": "wal_commit",
    "commitOffsets": "commit_offsets",
}


def _epoch_s(progress: dict) -> float:
    """A progress dict's trigger start (``timestamp``, ISO-8601 UTC) in
    epoch seconds."""
    return datetime.fromisoformat(progress["timestamp"]).timestamp()


def steady_tail(progresses: list[dict]) -> dict:
    """Summarize a query's progress dicts over the steady tail — every batch
    after the first third (stream warm-up): achieved rows/s, batch-duration
    percentiles, the median of each phase in ``_PHASES`` and of the state
    operator's ``commitTimeMs`` (summed over its partition tasks, so not
    wall time), and peak state size. Achieved rows/s is the tail's rows per
    wall second, from the first tail batch's start (its progress
    ``timestamp``) to the last one's end, so the idle time between the
    batches of a fixed trigger counts. An empty tail reports 0 rows/s and
    None for every batch, phase and state figure."""
    tail = progresses[len(progresses) // 3 :]
    rows = sum(p["numInputRows"] for p in tail)
    wall_s = (
        _epoch_s(tail[-1]) + tail[-1]["batchDuration"] / 1000.0 - _epoch_s(tail[0])
        if tail else 0
    )
    batch_ms = sorted(p["batchDuration"] for p in tail)

    def pct(f):
        return batch_ms[min(len(batch_ms) - 1, int(f * len(batch_ms)))] if batch_ms else None

    def median(xs):
        return statistics.median(xs) if xs else None

    st = [p["stateOperators"][0] for p in tail if p.get("stateOperators")]
    return {
        "achieved_rows_s": round(rows / wall_s) if wall_s else 0,
        "batches": len(tail),
        "batch_ms_p50": pct(0.50),
        "batch_ms_p99": pct(0.99),
        "batch_ms_max": batch_ms[-1] if batch_ms else None,
        **{f"{key}_ms_p50": median([p["durationMs"][ph] for p in tail
                                    if ph in p.get("durationMs", {})])
           for ph, key in _PHASES.items()},
        "state_commit_ms_p50": median([s["commitTimeMs"] for s in st]),
        "state_rows_total": max(s["numRowsTotal"] for s in st) if st else None,
        "state_memory_bytes": max(s["memoryUsedBytes"] for s in st) if st else None,
    }


def main() -> None:
    if "--seal" in sys.argv:
        seal(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                          "STREAM_THROUGHPUT.json"))
        return
    args = [a for a in sys.argv[1:] if a != "--wire"]
    wire = "--wire" in sys.argv
    rows_per_second = int(args[0]) if len(args) > 0 else 10_000
    seconds = int(args[1]) if len(args) > 1 else 20
    spark = get_spark("stream-throughput")
    spark.sparkContext.setLogLevel("ERROR")

    events = stream_synthetic_events(spark, rows_per_second=rows_per_second)
    if wire:
        events = decode_wire_events(encode_wire_events(events))
    agg = windowed_aggregate(events, watermark="10 seconds")
    q = (
        agg.writeStream.format("noop")
        .outputMode("update")
        .trigger(processingTime="1 second")
        .start()
    )
    time.sleep(seconds)
    progresses = [json.loads(p.json) for p in q.recentProgress]
    q.stop()

    tail = steady_tail(progresses)
    print(
        json.dumps(
            {
                "metric": "stream_rows_per_s_wire" if wire else "stream_rows_per_s",
                "offered": rows_per_second,
                "achieved": tail["achieved_rows_s"],
                "batches": tail["batches"],
                "unit": "rows/s",
            }
        )
    )


def seal(out_path: str) -> dict:
    """Sustained-throughput seal for the SURVEY §7 state-blowup risk: drive
    the REAL A1/A2 shape — movement_aggregates, i.e. per-(user, 1 s window)
    count + sort_array(collect_list(struct)) — from the rate source at an
    escalating offered load, watermarked, 1 s trigger, update mode, with
    sf1-scale key cardinality (15 000 distinct users, the /tmp/sf1 events
    fixture's cardinality). A rung is SUSTAINED when the steady tail
    achieves >= 95% of offered AND p99 batch duration stays under the 1 s
    trigger. Records per rung: achieved rows/s, p50/p99/max batch ms, the
    median of each micro-batch phase and of the state commit, state rows
    and state memory bytes (the per-window collect_list state the
    reference's DynamoDB upsert held as items). The ceiling is the last
    sustained rung; the record names the core count it ran on. Each rung
    starts from a fresh checkpoint: a reused one would resume the previous
    run's offsets, state and state-partition count."""
    from kinesis_demo_spark.plans.movements import movement_aggregates

    spark = get_spark("stream-throughput-seal")
    spark.sparkContext.setLogLevel("ERROR")
    rungs = []
    ceiling = None
    for offered in (10_000, 50_000, 100_000, 200_000, 400_000, 800_000):
        ckpt = tempfile.mkdtemp(prefix=f"stream_seal_ckpt_{offered}_")
        events = stream_synthetic_events(
            spark, rows_per_second=offered, n_users=15_000
        ).withWatermark("ts", "10 seconds")
        agg = movement_aggregates(events)
        q = (
            agg.writeStream.format("noop")
            .outputMode("update")
            .trigger(processingTime="1 second")
            .option("checkpointLocation", ckpt)
            .start()
        )
        time.sleep(25)
        progresses = [json.loads(p.json) for p in q.recentProgress]
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
        rung = {"offered_rows_s": offered, **steady_tail(progresses)}
        if not rung["batches"]:
            break
        rung["sustained"] = (
            rung["achieved_rows_s"] >= 0.95 * offered and rung["batch_ms_p99"] < 1000
        )
        rungs.append(rung)
        if rung["sustained"]:
            ceiling = rung
        else:
            break
    doc = {
        "metric": "stream_movs_state_throughput",
        "shape": "rate -> movement_aggregates (count + sorted collect_list state), "
                 "watermark 10s, trigger 1s, update mode, n_users=15000 (sf1 events cardinality)",
        "cores": spark.sparkContext.defaultParallelism,
        "ceiling_rows_s": ceiling["achieved_rows_s"] if ceiling else 0,
        "ceiling_batch_ms_p99": ceiling["batch_ms_p99"] if ceiling else None,
        "ceiling_state_rows": ceiling["state_rows_total"] if ceiling else None,
        "ceiling_state_bytes": ceiling["state_memory_bytes"] if ceiling else None,
        "rungs": rungs,
    }
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps({k: v for k, v in doc.items() if k != "rungs"}))
    return doc


if __name__ == "__main__":
    main()
