"""Per-epoch cost of the two reference views against history length.

Runs machine-dashboard and machine-usage (``examples/``) through
``IncrementalRunner`` twice per history length: as the fold views they
are (each epoch folds its new events into the state kept in the mirror)
and as plain functions (each epoch recomputes the views over the whole
log prefix and diffs them). Per history length and path: commit the
history in one epoch, run one warm-up epoch, then time ``--epochs``
epochs of 1,000 events. Spark's event log gives each timed epoch's jobs,
shuffle bytes written and executor CPU; the medians over the timed
epochs are printed as one JSON line, with whether both paths left equal
sink rows.

Usage: python tools/ivm_history_sweep.py WORK_DIR [--history 50000 100000 200000]
       [--epochs 4] [--seed 41]

The event logs come from ``perfbench/gen.write_log`` and are cached
under ``WORK_DIR``; the Spark session is perfbench's, on all the cores
the process may use.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
sys.path.insert(0, os.path.join(ROOT, "examples"))

import gen  # noqa: E402
import machine_dashboard  # noqa: E402
import machine_usage  # noqa: E402
import run as perfbench  # noqa: E402
import spans  # noqa: E402

EPOCH = 1000
FILE_EVENTS = 20_000


def sweep_one(spark, tracer, log_root: str, work: str, history: int, epochs: int) -> dict:
    from actyxos_data_flow_spark.sinks import SqliteSink
    from actyxos_data_flow_spark.sources import load_table
    from actyxos_data_flow_spark.streaming import IncrementalRunner

    events = load_table(spark, log_root, "events")
    folds = [
        (machine_dashboard.TABLE, machine_dashboard.build_view),
        (machine_usage.TABLE, machine_usage.build_view),
    ]
    plain = [(t, lambda df, v=v: v(df)) for t, v in folds]
    sinks = {}
    for path, views in (("fold", folds), ("recompute", plain)):
        sink = sinks[path] = SqliteSink(os.path.join(work, f"{path}-{history}.sqlite"))
        runner = IncrementalRunner(
            spark, sink, views=views, mirror_dir=os.path.join(work, f"mirror-{path}-{history}")
        )
        runner.run_batch(events, history - 1)
        runner.run_batch(events, history - 1 + EPOCH)
        for e in range(epochs):
            with tracer.phase(f"{history}/{path}/{e}"):
                runner.run_batch(events, history - 1 + (e + 2) * EPOCH)
    equal = all(
        sorted(sinks["fold"].rows(t), key=repr) == sorted(sinks["recompute"].rows(t), key=repr)
        for t, _ in folds
    )
    for sink in sinks.values():
        sink.close()
    return {"equal": equal}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("work")
    ap.add_argument("--history", type=int, nargs="+", default=[50_000, 100_000, 200_000])
    ap.add_argument("--epochs", type=int, default=4)
    ap.add_argument("--seed", type=int, default=41)
    args = ap.parse_args()

    work = os.path.abspath(args.work)
    log_dir = os.path.join(work, "eventlog")
    spark = perfbench.start_spark(os.path.join(work, "spark"), log_dir)
    tracer = spans.Tracer(spark.sparkContext, enabled=False)
    tracer.scope = "sweep"
    out: dict = {}
    try:
        for history in args.history:
            log_root = os.path.join(work, f"log-{args.seed}-{history}")
            if not os.path.isdir(os.path.join(log_root, "events.parquet")):
                gen.write_log(log_root, args.seed, history + (args.epochs + 1) * EPOCH, FILE_EVENTS)
            out[history] = sweep_one(spark, tracer, log_root, work, history, args.epochs)
    finally:
        perfbench.stop_spark(spark)

    jobs, stages = spans.read_event_log(log_dir)
    per_epoch = spans.aggregate(stages, lambda x: x["phase"], jobs)
    for history, row in out.items():
        for path in ("fold", "recompute"):
            timed = [per_epoch.get(f"sweep/{history}/{path}/{e}") for e in range(args.epochs)]
            timed = [a for a in timed if a is not None]
            row[path] = {
                "jobs": statistics.median(a["jobs"] for a in timed),
                "shuffle_bytes": statistics.median(a["shuffle_write_bytes"] for a in timed),
                "executor_cpu_ms": round(statistics.median(a["executor_cpu_ms"] for a in timed), 1),
            }
    print(json.dumps({"seed": args.seed, "epoch_events": EPOCH, "history": out}))


if __name__ == "__main__":
    main()
