"""Batch-incremental runner: the reference's catch-up loop, Spark-first.

Reference behavior transposed (/root/reference/src/runner.rs:151-358):
events are consumed in lamport order; every ``events_per_txn`` events
the accumulated deltas are shipped to the DB in one transaction with
the offsets they reflect; on restart the stored offsets bound what to
skip. Our epoch = one offset-bounded prefix of the log. One epoch
loop (:class:`IncrementalRunner`: resume point, batch bounds, mirror)
and one commit path (``sinks/writer.write_snapshots``) serve three ways
of getting an epoch's delta:

- a plain view function is recomputed on the prefix and diffed against
  the previous snapshot's parquet mirror (distributed);
- a fold view (``streaming/fold.py``) keeps its state in the mirror
  instead of a snapshot, folds only the epoch's new events into it and
  derives the delta from the two states;
- :class:`IncrementalAggRunner` folds only the epoch's new events into a
  grouped SUM and hands that delta to the same commit.

The reference's
``Stateless``/``Stateful`` marker (/root/reference/src/flow.rs:160-177)
decides whether restart must replay history; recompute-from-log
subsumes replay (a fold view whose state is lost rebuilds it from the
log), and bounded look-back (``Flow::new_limited``,
/root/reference/src/flow.rs:103-123) becomes a source-side timestamp
filter, for recomputed views only: a fold state keeps contributions
older than any horizon.

The runner also carries the reference's multi-table Union contract
(/root/reference/src/db/mod.rs:230-244, 273-458): several views over
the same input stream materialize into their tables in ONE transaction
sharing ONE offsets table.
"""

from __future__ import annotations

import math
import tempfile
from collections.abc import Callable, Sequence
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..delta import delta_agg_next, delta_agg_sum, with_delta
from ..sinks import DbapiSink, DbTable, Union
from ..sinks.writer import SnapshotMirror, write_snapshots
from .fold import FoldView

ViewFn = Callable[[DataFrame], DataFrame]


def batch_bounds(pending: DataFrame, offset_col: str, events_per_txn: int) -> list[int]:
    """Commit-boundary offsets, one per ~``events_per_txn`` pending
    events — shared by both runners. Distributed: one count/max
    aggregate plus a Greenwald-Khanna quantile sketch
    (``approxQuantile``) — never a global sort or single-partition
    exchange; only the boundary values (one per future transaction)
    reach the driver. Boundary positions are approximate (GK error ≤
    ~5% of a batch), the boundary COUNT is exact:
    ceil(pending / events_per_txn), and the last bound is exactly the
    max pending offset, so the final commit always lands on the log
    head."""
    n, max_off = pending.agg(
        F.count(F.lit(1)).alias("n"), F.max(offset_col).alias("m")
    ).first()
    if not n:
        return []
    n_batches = math.ceil(n / events_per_txn)
    if n_batches == 1:
        return [max_off]
    probs = [i * events_per_txn / n for i in range(1, n_batches)]
    rel_err = max(1e-6, min(0.01, 0.05 * events_per_txn / n))
    qs = pending.approxQuantile(offset_col, probs, rel_err)
    bounds = [int(q) for q in qs]
    # monotone + exact head: quantile jitter must never reorder
    # commits or skip the final offset
    for i in range(1, len(bounds)):
        bounds[i] = max(bounds[i], bounds[i - 1])
    return [min(b, max_off) for b in bounds] + [max_off]


def offset_range(
    df: DataFrame, offset_col: str, after: int | None = None, upto: int | None = None
) -> DataFrame:
    """Rows of ``df`` with ``after < offset_col <= upto`` (an omitted
    bound is open); a row whose offset is NULL is never in range.

    Shared by both runners' per-epoch filters. Spark writes a numeric
    literal into the generated Java, so a plain ``offset <= upto``
    compiles new classes for every new bound. Each bound here is a
    one-field struct literal compared with ``struct(offset_col)``: a
    struct literal reaches the generated code as a referenced object,
    so one compiled plan serves every epoch. Struct order puts NULL
    first (``struct(NULL) <= struct(5)`` holds where ``NULL <= 5`` does
    not), hence the explicit NOT NULL. The cost: a struct comparison is
    not pushed down to the parquet reader, so row groups outside the
    range are decoded and then filtered instead of skipped by their
    min/max statistics."""
    col = F.col(offset_col)
    dtype = df.schema[offset_col].dataType
    key = F.struct(col.alias(offset_col))

    def bound(v: int):
        return F.struct(F.lit(v).cast(dtype).alias(offset_col))

    cond = col.isNotNull()
    if after is not None:
        cond &= key > bound(after)
    if upto is not None:
        cond &= key <= bound(upto)
    return df.filter(cond)


class IncrementalRunner:
    """Materialize ``view_fn(events ≤ offsets)`` into ``table`` batch by
    batch with exactly-once resume from the sink's offsets table.

    Multi-table form: pass ``views=[(table_a, fn_a), (table_b, fn_b)]``
    (or use :meth:`for_union`) — every batch computes all views on the
    same prefix and commits them with shared offsets in one transaction.
    """

    def __init__(
        self,
        spark: SparkSession,
        sink: DbapiSink,
        table: DbTable | None = None,
        view_fn: ViewFn | None = None,
        source_name: str = "events",
        offset_col: str = "event_id",
        lookback_filter: F.Column | None = None,
        views: Sequence[tuple[DbTable, ViewFn]] | None = None,
        mirror_dir: str | None = None,
    ):
        if views is None:
            if table is None or view_fn is None:
                raise ValueError("pass (table, view_fn) or views=[...]")
            views = [(table, view_fn)]
        for _, fn in views:
            if isinstance(fn, FoldView):
                if lookback_filter is not None:
                    raise ValueError(
                        "a fold view keeps contributions older than any look-back "
                        "horizon: lookback_filter cannot apply to it"
                    )
                fn.check(offset_col)
        self.spark = spark
        self.sink = sink
        self.views = list(views)
        self.spec: DbTable | Union = (
            self.views[0][0] if len(self.views) == 1 else Union(tuple(t for t, _ in self.views))
        )
        self.source_name = source_name
        self.offset_col = offset_col
        # S2/new_limited: restart optimization — only events passing this
        # predicate participate in recompute (bounded look-back horizon).
        self.lookback_filter = lookback_filter
        # Previous-snapshot parquet mirror. Production passes a durable
        # shared path; the temp default still keeps every epoch's diff
        # distributed (a lost mirror costs one recovery rebuild, not
        # correctness — sinks/writer.py crash-consistency notes).
        self.mirror = SnapshotMirror(
            spark, mirror_dir or tempfile.mkdtemp(prefix="adf_mirror_")
        )
        sink.ensure(self.spec)

    @classmethod
    def for_union(
        cls,
        spark: SparkSession,
        sink: DbapiSink,
        views: Sequence[tuple[DbTable, ViewFn]],
        **kwargs,
    ) -> "IncrementalRunner":
        return cls(spark, sink, views=views, **kwargs)

    def resume_offset(self) -> int:
        """Offset already reflected in the sink (−1 = nothing yet)."""
        return self.sink.read_offsets(self.spec).get(self.source_name, -1)

    def _bounded(self, events: DataFrame, upto: int) -> DataFrame:
        df = offset_range(events, self.offset_col, upto=upto)
        if self.lookback_filter is not None:
            df = df.filter(self.lookback_filter)
        return df

    def run_batch(self, events: DataFrame, upto: int) -> int:
        """One epoch: bring all views to the prefix ≤ upto, apply the net
        deltas + offsets in one transaction. Idempotent (retry ⇒ empty
        delta). Returns total delta rows applied."""
        return self.commit_prefix(self._bounded(events, upto), upto)

    def commit_prefix(self, prefix: DataFrame, upto: int) -> int:
        """One epoch over a frame that already is the log prefix ≤ upto
        (the structured handler's staged log). A plain view is
        recomputed on ``prefix`` and diffed; a :class:`FoldView` folds
        the churn, ``prefix`` restricted to offsets after the sink's
        resume point, into its state. No literal offset filter is added,
        so the plan does not change from one epoch to the next."""
        start = self.resume_offset()
        if upto < start and any(isinstance(fn, FoldView) for _, fn in self.views):
            raise ValueError(f"a fold view cannot rewind from offset {start} to {upto}")
        snapshots: list[tuple[DbTable, DataFrame]] = []
        folds: dict[str, Callable[[DataFrame], DataFrame]] = {}
        for table, fn in self.views:
            if isinstance(fn, FoldView):
                old, new = self._fold(table, fn, prefix, start)
                snapshots.append((table, new))
                folds[table.name] = partial(fn.delta, old)
            else:
                snapshots.append((table, fn(prefix)))
        applied = write_snapshots(
            self.spark,
            self.sink,
            snapshots,
            {self.source_name: upto},
            self.mirror,
            offsets_table=self.spec.offsets_table,
            folds=folds,
        )
        return sum(applied.values())

    def _fold(
        self, table: DbTable, fold: FoldView, prefix: DataFrame, start: int
    ) -> tuple[DataFrame, DataFrame]:
        """(committed state, next state) of one fold view. A missing
        state (lost directory, or a sink that predates the mirror) is
        rebuilt by folding the log ≤ start from nothing: sink rows
        cannot rebuild a frontier."""
        rows = fold.prepare(offset_range(prefix, self.offset_col, after=start))
        schema = fold.step(None, rows).schema

        def rebuild() -> DataFrame:
            if start < 0:
                return self.spark.createDataFrame([], schema)
            return fold.step(None, fold.prepare(offset_range(prefix, self.offset_col, upto=start)))

        old = self.mirror.read_previous(self.sink, table, schema, rebuild=rebuild)
        return old, fold.step(old, rows)

    def catch_up(self, events: DataFrame, events_per_txn: int = 1000) -> list[int]:
        """Process everything beyond the stored offsets in commit units
        of ``events_per_txn`` (reference default 1,000 —
        /root/reference/examples/machine-dashboard/main.rs:44). Returns
        the per-batch applied delta counts."""
        start = self.resume_offset()
        pending = offset_range(events, self.offset_col, after=start).select(self.offset_col)
        bounds = batch_bounds(pending, self.offset_col, events_per_txn)
        return [self.run_batch(events, b) for b in bounds]


class IncrementalAggRunner(IncrementalRunner):
    """Grouped-SUM view maintained by TRUE incremental aggregation —
    the O(churn) kind of :class:`IncrementalRunner` for the (very
    common) algebraic-aggregate case, where the base class recomputes
    and diffs.

    Per epoch: only the NEW events (offset in (resume, upto]) are kept,
    lifted to +1 deltas, and folded into the running aggregate with
    ``delta.delta_agg_sum`` — emitting the reference's retraction pairs
    for exactly the touched keys. The epoch commits through the same
    ``write_snapshots`` as the base class, given that delta: it is
    collected, the next aggregate (``delta.delta_agg_next``) is written
    to the parquet mirror, and delta, offsets and mirror pointer commit
    in one transaction. An epoch retried after a crash recomputes the
    identical delta (deterministic inputs) and rewrites its own orphaned
    directory; a committed epoch is never re-run. The mirror, resume
    point and ``catch_up`` loop are the base class's.

    Scale: epoch cost is one churn-sized aggregate + one equi-join
    against the old aggregate's touched keys, where recompute-from-log
    aggregates the whole prefix. The log scan under it is not pruned to
    the epoch (``offset_range``): it decodes the frame it is given and
    filters. Restriction: the view must be keys + SUM (+count);
    non-algebraic views stay on the recompute path.

    ``prepare`` maps the raw event frame to (keys…, val) rows (filter +
    project); ``table`` declares columns (keys…, out, _n).
    """

    def __init__(
        self,
        spark: SparkSession,
        sink: DbapiSink,
        table: DbTable,
        keys: Sequence[str],
        val_col: str,
        out_col: str,
        prepare: ViewFn | None = None,
        source_name: str = "events",
        offset_col: str = "event_id",
        mirror_dir: str | None = None,
    ):
        super().__init__(
            spark, sink, table, prepare or (lambda df: df),
            source_name=source_name, offset_col=offset_col, mirror_dir=mirror_dir,
        )
        self.keys = list(keys)
        self.val_col = val_col
        self.out_col = out_col

    def run_batch(self, events: DataFrame, upto: int) -> int:
        """One incremental epoch; returns applied delta-row count.
        Idempotent: a replayed (already-committed) epoch sees an empty
        pending set and applies nothing."""
        start = self.resume_offset()
        if upto <= start:
            return 0
        [(table, prepare)] = self.views
        pending = offset_range(events, self.offset_col, after=start, upto=upto)
        prepared = prepare(pending).select(*self.keys, self.val_col)
        schema = prepared.groupBy(*self.keys).agg(
            F.sum(self.val_col).alias(self.out_col), F.count(F.lit(1)).alias("_n")
        ).schema
        old_agg = self.mirror.read_previous(self.sink, table, schema=schema)
        # persisted: the collect and the fold share one evaluation
        agg_delta = delta_agg_sum(
            old_agg, with_delta(prepared), self.keys, self.val_col, self.out_col
        ).persist()
        try:
            return write_snapshots(
                self.spark, self.sink, [(table, delta_agg_next(old_agg, agg_delta))],
                {self.source_name: upto}, self.mirror, deltas={table.name: agg_delta},
            )[table.name]
        finally:
            agg_delta.unpersist()
