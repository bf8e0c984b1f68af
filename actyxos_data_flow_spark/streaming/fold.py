"""Fold views: views that fold one epoch's new events into kept state.

An epoch of :class:`~.runner.IncrementalRunner` gets a plain ``ViewFn``'s
delta by recomputing the view over the whole log prefix and diffing it
against the last snapshot. A :class:`FoldView` instead says how to fold
the epoch's *churn*, the events with offset in ``(start, upto]``, into
the view's state — the reference's stateful operators, which turn each
batch of new events into deltas (the reference's src/flow.rs:129-146),
and the keyed state of Structured Streaming's stateful operators. The
runner keeps the state in its parquet mirror (``sinks/writer.py``),
computes the next state from (old state, churn) only, and ships the
delta through the one commit path, so an epoch's work follows churn and
key count instead of log length.

A fold view is also an ordinary ``ViewFn``: calling it on a frame
recomputes the view over that frame (``fold(events)`` is the view a
recompute runner materializes).

``prepare`` maps raw events to the rows the fold keeps, row by row
(filter and projection only): the fold applies it to the churn alone.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..delta import snapshot_diff, with_delta
from ..grouped import Grouped

Prepare = Callable[[DataFrame], DataFrame]


class FoldView:
    """A view given as (prepare, fold step, delta rule); see the module
    docstring."""

    def __init__(self, prepare: Prepare, keys: Sequence[str], order: str):
        self.prepare = prepare
        self.keys = list(keys)
        self.order = order

    def __call__(self, events: DataFrame) -> DataFrame:
        """The view over ``events``, recomputed: its state folded from
        nothing."""
        return self.rows(self.step(None, self.prepare(events)))

    def check(self, offset_col: str) -> None:
        """Raise ``ValueError`` if folding churn in offset order is not
        exact for this view."""

    def step(self, state: DataFrame | None, rows: DataFrame) -> DataFrame:
        """The next state: ``state`` (``None`` = nothing yet) with the
        prepared ``rows`` of one epoch folded in."""
        raise NotImplementedError

    def rows(self, state: DataFrame) -> DataFrame:
        """The view rows a state carries (for a state folded from
        nothing, the whole view)."""
        raise NotImplementedError

    def delta(self, old: DataFrame, new: DataFrame) -> DataFrame:
        """The delta that turns the sink's rows for ``old`` into those
        for ``new``, where ``new = step(old, churn)``."""
        raise NotImplementedError


class LatestByKey(FoldView):
    """``group_by(keys).max_by(order)`` over the prepared rows (the
    machine-dashboard pattern). The state is that snapshot with the
    order column kept; the view is the state without it.

    ``max_by`` with ``Grouped.max_by``'s ``struct(order, values…)``
    tie-break picks the same row from any split of its input, so
    folding (state ∪ churn) is exact for any ``order`` column."""

    def step(self, state, rows):
        if state is not None:
            rows = rows.unionByName(state)
        return Grouped(rows, self.keys).max_by(self.order).df

    def rows(self, state):
        return state.drop(self.order)

    def delta(self, old, new):
        return snapshot_diff(self.rows(old), self.rows(new))


ROW, OUT, NEW, LAST, PREV_OPENS = "_row", "_out", "_new", "_last", "_prev_opens"


class PairWithPrevious(FoldView):
    """Pair each prepared row with the previous row of its key in
    ``order`` (the machine-usage ``lag`` pairing). Each row sees its own
    columns and ``prev_<c>`` for every non-key column ``c``; a row where
    ``where`` holds, and whose previous row exists and satisfies
    ``opens`` (a start opens, a stop closes), emits the columns
    ``emit``. ``opens="true"`` pairs each row with any previous row.
    ``emit``, ``where`` and ``opens`` are SQL expression strings, so a
    view can be declared before a Spark session exists.

    The state holds the last prepared row per key (struct ``_row``) and
    this epoch's emitted rows (struct ``_out``). Only a last row that
    opens is kept, as a key whose last row does not open can emit
    nothing with it — the reference's open-starts map. The
    next state runs the pairing over (the state's last rows ∪ churn),
    and only churn rows emit. The view is append-only, so an epoch's
    delta is its emitted rows as inserts — past pairs are never
    diffed. Exact only when ``order`` is the runner's offset column:
    churn then always follows the state."""

    def __init__(
        self,
        prepare: Prepare,
        keys: Sequence[str],
        order: str,
        emit: Sequence[str],
        where: str,
        opens: str,
    ):
        super().__init__(prepare, keys, order)
        self.emit = list(emit)
        self.where = where
        self.opens = opens

    def check(self, offset_col):
        if self.order != offset_col:
            raise ValueError(
                f"PairWithPrevious folds in offset order: order {self.order!r} "
                f"must be the offset column {offset_col!r}"
            )

    def step(self, state, rows):
        cols = rows.columns
        both = rows.withColumn(NEW, F.lit(True))
        if state is not None:
            last = state.where(F.col(ROW).isNotNull()).select(f"{ROW}.*")
            both = last.withColumn(NEW, F.lit(False)).unionByName(both)
        w = W.partitionBy(*self.keys).orderBy(self.order)
        opens = F.coalesce(F.expr(self.opens), F.lit(False))
        paired = both.select(
            *cols,
            NEW,
            opens.alias("_opens"),
            *[F.lag(c).over(w).alias(f"prev_{c}") for c in cols if c not in self.keys],
            F.lag(opens).over(w).alias(PREV_OPENS),
            F.lead(F.lit(True)).over(w).isNull().alias(LAST),
        )
        emits = F.col(NEW) & F.expr(self.where) & F.coalesce(F.col(PREV_OPENS), F.lit(False))
        return paired.select(
            F.when(F.col(LAST) & F.col("_opens"), F.struct(*cols)).alias(ROW),
            F.when(emits, F.struct(*map(F.expr, self.emit))).alias(OUT),
        ).where(F.col(ROW).isNotNull() | F.col(OUT).isNotNull())

    def rows(self, state):
        return state.where(F.col(OUT).isNotNull()).select(f"{OUT}.*")

    def delta(self, old, new):
        return with_delta(self.rows(new))
