"""Streaming layer: micro-batch = epoch, exactly-once materialization.

The reference's runner has three phases (/root/reference/src/runner.rs:169-173):
replay (rebuild operator state from history), catch-up (process events
between the DB's stored offsets and "now", committing every
``events_per_txn`` events), and live (subscribe + flush every tick).
In Spark these collapse into micro-batch semantics:

- :class:`runner.IncrementalRunner` — the one epoch loop: recompute
  the view on the offset-bounded prefix of the log, diff against the
  previous snapshot's parquet mirror, apply the net delta + offsets in
  one transaction (``sinks/writer.write_snapshots``). Replay is
  implicit (recompute subsumes it); restart resumes from the offsets
  stored in the sink.
- :class:`runner.IncrementalAggRunner` — the same loop and commit for a
  grouped SUM, fed each epoch's O(churn) delta instead of a diff.
- :mod:`structured` — the same contract driven by Structured Streaming:
  ``readStream → foreachBatch`` where each micro-batch is staged to the
  log mirror (idempotently, keyed by batch_id) and the staged log is
  committed through one ``IncrementalRunner``. Stateless flows can
  instead stream append-mode with no diffing.
"""

from .runner import IncrementalRunner
from .stateful import map_with_state, usage_intervals_stream
from .structured import events_stream, run_available_now, run_live

__all__ = [
    "IncrementalRunner",
    "events_stream",
    "run_available_now",
    "run_live",
    "map_with_state",
    "usage_intervals_stream",
]
