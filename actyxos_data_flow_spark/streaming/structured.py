"""Structured Streaming drive: readStream → foreachBatch → exactly-once
SQL materialization, in the reference's three phases.

Micro-batch = the reference's epoch (/root/reference/src/machine.rs:169-181):
each trigger stages its batch into the log mirror (idempotently, keyed
by batch_id — a retried batch overwrites its own directory) and hands
the mirrored log, which is the prefix, to one :class:`~.runner.IncrementalRunner`:
it recomputes the view(s) and applies the net delta + offsets in one
sink transaction. This is the reference's offsets-in-transaction
protocol (/root/reference/src/runner.rs:81-123) riding on Spark's
replayable-source + idempotent-sink contract.

Phases (reference runner, /root/reference/src/runner.rs:169-173):

- replay + catch-up → :func:`run_available_now` (``availableNow``
  drains everything the source currently has, then stops);
- live → :func:`run_live` (``processingTime`` trigger = the reference's
  5-second tick stream, /root/reference/src/runner.rs:322-355; Spark
  fires a micro-batch per tick only when the source reports progress,
  which is exactly the reference's flush-only-on-progress rule).

The staging mirror is what a Delta/Kafka-backed deployment gets for
free (the log is already durable + replayable); with a parquet file
source we materialize it explicitly.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..sinks import DbapiSink, DbTable
from .runner import IncrementalRunner, ViewFn


def events_stream(
    spark: SparkSession,
    path: str,
    schema,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-source stream over an events directory; one file ≈ one
    micro-batch with max_files_per_trigger=1 (S4: epoch boundary)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def _start(
    spark, stream_df, view_fn, sink, table, stage_dir, checkpoint_dir,
    source_name, offset_col, mirror_dir, **trigger,
) -> StreamingQuery:
    """Start ``readStream → foreachBatch`` on one :class:`IncrementalRunner`
    under the given trigger."""
    views = [(table, view_fn)] if table is not None else view_fn
    runner = IncrementalRunner(
        spark, sink, views=views, source_name=source_name,
        offset_col=offset_col, mirror_dir=mirror_dir,
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # idempotent stage: a retried batch rewrites its own directory
        batch_df.write.mode("overwrite").parquet(
            os.path.join(stage_dir, f"batch={batch_id}")
        )
        log = spark.read.option("recursiveFileLookup", "true").parquet(stage_dir)
        upto = log.agg(F.max(offset_col)).first()[0]
        if upto is None:
            # staged log still empty (first batch delivered no rows):
            # nothing to materialize, and upserting a NULL offset would
            # violate the offsets table's NOT NULL constraint
            return
        # the staged log is the prefix ≤ upto already
        runner.commit_prefix(log, upto)

    return (
        stream_df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**trigger)
        .start()
    )


def run_available_now(
    spark: SparkSession,
    stream_df: DataFrame,
    view_fn: ViewFn | Sequence[tuple[DbTable, ViewFn]],
    sink: DbapiSink,
    table: DbTable | None = None,
    stage_dir: str = "",
    checkpoint_dir: str = "",
    source_name: str = "events",
    offset_col: str = "event_id",
    mirror_dir: str | None = None,
) -> None:
    """Drain the stream with an availableNow trigger (replay+catch-up
    phases), materializing the view(s) into their tables exactly-once
    per micro-batch. ``view_fn`` may be a single function (with
    ``table``) or a sequence of (table, view_fn) pairs sharing one
    transaction + offsets table (Union contract)."""
    _start(
        spark, stream_df, view_fn, sink, table, stage_dir, checkpoint_dir,
        source_name, offset_col, mirror_dir, availableNow=True,
    ).awaitTermination()


def run_live(
    spark: SparkSession,
    stream_df: DataFrame,
    view_fn: ViewFn | Sequence[tuple[DbTable, ViewFn]],
    sink: DbapiSink,
    table: DbTable | None = None,
    stage_dir: str = "",
    checkpoint_dir: str = "",
    source_name: str = "events",
    offset_col: str = "event_id",
    mirror_dir: str | None = None,
    tick: str = "5 seconds",
) -> StreamingQuery:
    """Live phase (/root/reference/src/runner.rs:322-355): keep the
    query running, flushing deltas on a periodic tick. ``processingTime``
    is the tick stream; Spark only invokes foreachBatch when the source
    made progress, matching the reference's flush-only-on-progress.
    Returns the running query — caller stops it (the reference's live
    loop also runs until torn down). Restart with the same checkpoint
    resumes from the last committed batch; the sink transaction makes
    replayed batches idempotent."""
    return _start(
        spark, stream_df, view_fn, sink, table, stage_dir, checkpoint_dir,
        source_name, offset_col, mirror_dir, processingTime=tick,
    )
