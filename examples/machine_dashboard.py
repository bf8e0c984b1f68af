"""machine-dashboard: latest-state-per-machine, materialized live.

Mirrors /root/reference/examples/machine-dashboard (logic.rs:6-30
filter → map enum→row → group_by(machine).max_by(since); main.rs wires
it to a SQLite mirror), as a fold view: ``build_view(events)``
recomputes it, and an ``IncrementalRunner`` folds each epoch's new
events into the latest row per machine. Transposition (plans/reference.py e1_dashboard):
user_id = machine, event_type = payload discriminator, event_id =
lamport. Run: python examples/machine_dashboard.py [sf_dir] [db]"""

from __future__ import annotations

import sys

from _runner import DEFAULT_SF, run_two_epochs

from pyspark.sql import functions as F

from actyxos_data_flow_spark.flow import Flow
from actyxos_data_flow_spark.functions.scalar import ns_micros
from actyxos_data_flow_spark.sinks import DbColumn, DbTable
from actyxos_data_flow_spark.streaming.fold import LatestByKey

TABLE = DbTable(
    name="machine_status",
    columns=(
        DbColumn("user_id", "bigint", index=True),
        DbColumn("status", "text not null"),
        DbColumn("order_value", "double precision"),
        DbColumn("since_micros", "bigint"),
    ),
    version=1,
)


def _prepare(events):
    return (
        Flow.source(events)
        .filter(F.col("event_type") != "error")
        .map(
            F.col("user_id"),
            F.when(F.col("event_type") == "purchase", "working").otherwise("idle").alias("status"),
            F.when(F.col("event_type") == "purchase", F.col("value")).alias("order_value"),
            ns_micros("ts").alias("since_micros"),
            F.col("event_id"),
        )
        .df
    )


# group_by(user_id).max_by(event_id), without the event_id column; an
# incremental runner folds each epoch's events into the kept snapshot
build_view = LatestByKey(_prepare, keys=["user_id"], order="event_id")


if __name__ == "__main__":
    run_two_epochs(
        TABLE,
        build_view,
        sf_dir=sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SF,
        db_path=sys.argv[2] if len(sys.argv) > 2 else None,
    )
