"""Spark ↔ sink glue: turn delta DataFrames into sink batches and close
the IVM loop (view recompute → distributed snapshot diff → transactional
apply).

Scale design: the previous committed snapshot of every table lives as a
**parquet mirror** on shared storage, so the per-epoch diff is a
distributed union + aggregate over two Spark-readable snapshots —
O(|view|) cluster work, O(churn) driver traffic. Only the NET delta
(which scales with the view's churn, not with the input — K2
consolidation runs distributed first) is collected for the single-writer
store, matching the reference's topology of shipping consolidated
batches through an in-process channel
(/root/reference/src/runner.rs:113-122). For a multi-writer JDBC target
the same batches would be applied per-partition via foreachPartition.

Crash consistency: the mirror pointer (`_mirror_state`) commits in the
SAME sink transaction as the delta and offsets. An epoch writes its new
snapshot to a directory keyed by the offsets it reflects. A recomputed
view's snapshot is written first, and the committed mirror is diffed
against the parquet just written — the view is evaluated once, by that
write. A snapshot derived from a given delta (the aggregate runner's
fold) is written after that delta ships (collected or staged) and
before the commit, so the shipping fills the delta's cache. One rule
keeps either order safe: never write over the directory the committed
pointer names. When the pointer already names this epoch's key (a retry
after commit, or two structured-streaming micro-batches sharing a max
offset), the snapshot goes to a sibling directory (``<key>.alt``) and
the pointer commits to that sibling. So

- crash after the delta shipped or the parquet was written, before the
  commit → the pointer still names the old, untouched directory; the
  retry recomputes the same delta, rewrites the same orphaned directory
  and diffs against the old one — idempotent;
- retry after commit → the snapshot lands in the sibling, and its diff
  against the just-committed mirror is empty;
- after each commit every directory but the pointer's is pruned.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession

from ..delta import DELTA_COL, snapshot_diff
from .spec import DbTable
from .dbapi import DbapiSink


def deltas_to_rows(delta_df: DataFrame, table: DbTable) -> list[tuple[tuple, int]]:
    """Collect an already-consolidated delta DataFrame as (row_values,
    mult) pairs ordered by the table's written columns — the driver-side
    path's one collect."""
    cols = [c.name for c in table.written_columns]
    rows = delta_df.select(*cols, DELTA_COL).collect()
    return [(tuple(r[c] for c in cols), r[DELTA_COL]) for r in rows]


def _epoch_key(offsets: Mapping[str, int]) -> str:
    """Deterministic directory key for the offsets a snapshot reflects —
    a retried batch maps to the same epoch and overwrites its orphan."""
    return "_".join(f"{k}-{v}" for k, v in sorted(offsets.items())) or "empty"


class SnapshotMirror:
    """Parquet mirror of each table's last committed snapshot, the
    distributed 'old side' of the per-epoch diff."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def _dir(self, table: DbTable, epoch: str) -> str:
        return f"{self.root}/{table.name}/{epoch}"

    def read(self, table: DbTable, epoch: str, schema) -> DataFrame:
        return self.spark.read.schema(schema).parquet(self._dir(table, epoch))

    def read_previous(self, sink: DbapiSink, table: DbTable, schema) -> DataFrame:
        """The snapshot the sink's rows currently reflect, as a
        DataFrame. Empty if nothing committed yet; rebuilt from the sink
        (recovery path) if the pointer names a missing directory."""
        epoch = sink.mirror_epoch(table.name)
        if epoch is None:
            rows = sink.rows(table)  # fetched once — this is a full scan
            if rows:
                # sink predates the mirror (or mirror state was cleared):
                # one-time rebuild from stored rows.
                return self.spark.createDataFrame(rows, schema=schema)
            return self.spark.createDataFrame([], schema=schema)
        try:
            return self.read(table, epoch, schema)
        except Exception:  # noqa: BLE001 — dir lost: recovery rebuild
            return self.spark.createDataFrame(sink.rows(table), schema=schema)

    def write(self, table: DbTable, snapshot: DataFrame, epoch: str) -> None:
        snapshot.write.mode("overwrite").parquet(self._dir(table, epoch))

    def prune(self, table: DbTable, keep_epoch: str) -> None:
        """Best-effort removal of superseded epoch directories."""
        try:
            for d in os.listdir(f"{self.root}/{table.name}"):
                if d != keep_epoch:
                    shutil.rmtree(f"{self.root}/{table.name}/{d}", ignore_errors=True)
        except FileNotFoundError:
            pass


def snapshot_delta(
    sink: DbapiSink, table: DbTable, mirror: SnapshotMirror, written: str, schema
) -> DataFrame:
    """The (distributed, uncollected) net-delta plan for one table: the
    committed mirror vs the snapshot just written under ``written`` —
    two parquet scans, one union and one aggregate. Exposed so tests can
    assert the physical plan has no single-partition exchange."""
    old = mirror.read_previous(sink, table, schema=schema)
    return snapshot_diff(old, mirror.read(table, written, schema))


DISTRIBUTED_DELTA_THRESHOLD = 100_000


def write_snapshots(
    spark: SparkSession,
    sink: DbapiSink,
    views: Sequence[tuple[DbTable, DataFrame]],
    offsets: Mapping[str, int],
    mirror: SnapshotMirror,
    offsets_table: str | None = None,
    applier=None,
    conn_factory=None,
    distributed_threshold: int = DISTRIBUTED_DELTA_THRESHOLD,
    deltas: Mapping[str, DataFrame] | None = None,
) -> dict[str, int]:
    """Materialize several snapshots (one input stream → up to N record
    types, /root/reference/src/db/mod.rs:230-244) in ONE transaction
    with the offsets they reflect — the one IVM commit path. Returns
    per-table applied delta-row counts.

    Per table: write the new snapshot to this epoch's mirror directory
    (the view's one evaluation; never the directory the committed
    pointer names — see the module docstring), then diff the committed
    mirror against the parquet just written and ship only the net delta.
    A table named in ``deltas`` instead ships the consolidated delta it
    is given (true IVM, e.g. ``delta.delta_agg_sum``), and its snapshot
    (e.g. ``delta.delta_agg_next`` of that delta) is written after the
    delta ships. A single sink transaction applies every delta + offsets
    + the mirror pointers, then superseded directories are pruned.
    Idempotent.

    Delta shipping has two topologies:

    - driver-side: collect the churn-sized delta to the driver, apply
      via the sink connection (the reference's shape — right when churn
      is small);
    - staged (:class:`~..sinks.distributed.DistributedApplier`):
      executors bulk-load each delta into the DB's staging table in
      parallel and one ``finalize_many`` transaction applies all tables
      + offsets — the huge-delta path (backfill, rebuild), same
      exactly-once contract.

    Routing: pass ``applier`` to force the staged path. Otherwise, if
    ``conn_factory`` (a picklable DB-API connection factory — executors
    must open their own connections) is given, the epoch's deltas are
    counted first and the staged path engages automatically when ANY
    table's delta exceeds ``distributed_threshold`` rows — a backfill
    epoch can no longer OOM the driver just because nobody opted in.
    The size probe and the apply each re-read the two parquet snapshots
    of the diff, never the log. Without either, the driver-side path
    applies unconditionally."""
    epoch = _epoch_key(offsets)
    given = deltas or {}
    mirror_epochs: dict[str, str] = {}
    shipped: list[tuple[DbTable, DataFrame]] = []
    derived: list[tuple[DbTable, DataFrame]] = []
    for table, new_snapshot in views:
        new = new_snapshot.select(*[c.name for c in table.written_columns])
        # never write over the directory the committed pointer names
        written = f"{epoch}.alt" if sink.mirror_epoch(table.name) == epoch else epoch
        mirror_epochs[table.name] = written
        if table.name in given:
            shipped.append((table, given[table.name]))
            derived.append((table, new))
        else:
            mirror.write(table, new, written)
            shipped.append((table, snapshot_delta(sink, table, mirror, written, new.schema)))

    if applier is None and conn_factory is not None:
        if any(
            delta.limit(distributed_threshold + 1).count() > distributed_threshold
            for _, delta in shipped
        ):
            from .distributed import DistributedApplier

            applier = DistributedApplier(conn_factory, sink.dialect)

    if applier is not None:
        for table, delta in shipped:
            applier.ensure_stage(sink, table)
            applier.stage(delta, table, epoch)
    else:
        batches = {table: deltas_to_rows(delta, table) for table, delta in shipped}
    # after the collect or stage: shipping, not the write, fills the
    # given delta's cache (written first, the fold re-runs its branches)
    for table, new in derived:
        mirror.write(table, new, mirror_epochs[table.name])
    if applier is not None:
        results = applier.finalize_many(
            sink, [t for t, _ in shipped], epoch, dict(offsets),
            offsets_table=offsets_table, mirror_epochs=mirror_epochs,
        )
        applied = {name: ins + dels for name, (ins, dels) in results.items()}
    else:
        sink.advance_offsets(
            batches, dict(offsets), offsets_table=offsets_table, mirror_epochs=mirror_epochs
        )
        applied = {t.name: len(b) for t, b in batches.items()}
    for table, _ in shipped:
        mirror.prune(table, mirror_epochs[table.name])
    return applied


def write_snapshot(
    spark: SparkSession,
    sink: DbapiSink,
    table: DbTable,
    new_snapshot: DataFrame,
    offsets: Mapping[str, int],
    mirror: SnapshotMirror,
) -> int:
    """Single-table convenience over :func:`write_snapshots`."""
    return write_snapshots(spark, sink, [(table, new_snapshot)], offsets, mirror)[
        table.name
    ]

