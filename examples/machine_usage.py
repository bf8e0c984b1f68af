"""machine-usage: start/stop interval pairing, materialized live.

Mirrors /root/reference/examples/machine-usage (logic.rs:28-54: per
machine, Started{order} opens, a matching Stopped emits (machine,
order, started, duration); re-starts overwrite). Transposition
(plans/reference.py e2_usage_intervals): 'signup' = start, 'purchase'
= stop, order id = floor(value) % 10. A fold view: ``build_view(events)``
recomputes it, and an ``IncrementalRunner`` pairs only each epoch's new
events, against the open start kept per (machine, order).
Run: python examples/machine_usage.py [sf_dir] [db]"""

from __future__ import annotations

import sys

from _runner import DEFAULT_SF, run_two_epochs

from pyspark.sql import functions as F

from actyxos_data_flow_spark.functions.scalar import ns_micros
from actyxos_data_flow_spark.sinks import DbColumn, DbTable
from actyxos_data_flow_spark.streaming.fold import PairWithPrevious

TABLE = DbTable(
    name="machine_usage",
    columns=(
        DbColumn("user_id", "bigint", index=True),
        DbColumn("order_id", "bigint"),
        DbColumn("started_micros", "bigint"),
        DbColumn("duration_micros", "bigint"),
    ),
    version=1,
)


def _tag(events):
    return events.filter(F.col("event_type").isin("signup", "purchase")).select(
        "user_id",
        (F.floor("value").cast("long") % 10).alias("order_id"),
        F.when(F.col("event_type") == "signup", "start").otherwise("stop").alias("kind"),
        ns_micros("ts").alias("ts_micros"),
        "event_id",
    )


# a start opens, and a stop right after an open start of the same
# (machine, order) emits the interval; an incremental runner keeps the
# open starts
build_view = PairWithPrevious(
    _tag,
    keys=["user_id", "order_id"],
    order="event_id",
    emit=[
        "user_id",
        "order_id",
        "prev_ts_micros AS started_micros",
        "ts_micros - prev_ts_micros AS duration_micros",
    ],
    where="kind = 'stop'",
    opens="kind = 'start'",
)


if __name__ == "__main__":
    run_two_epochs(
        TABLE,
        build_view,
        sf_dir=sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SF,
        db_path=sys.argv[2] if len(sys.argv) > 2 else None,
    )
