"""Per-epoch contract of both incremental runners: a crash at the
mirror write or at the sink commit leaves the committed state intact
and the retry lands exactly where a crash-free run does; each epoch
evaluates its view (recompute runner) or its prepared input (aggregate
runner) once; and over random logs and epoch cuts both runners' sink
rows equal the view over the whole log.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from actyxos_data_flow_spark.sinks import DbColumn, DbTable, SqliteSink
from actyxos_data_flow_spark.streaming import IncrementalRunner
from actyxos_data_flow_spark.streaming.runner import IncrementalAggRunner

TABLE = DbTable(
    "ivm_totals",
    (DbColumn("k", "text"), DbColumn("total", "bigint"), DbColumn("_n", "bigint")),
    version=1,
)
RUNNERS = ("recompute", "delta_agg")


@pytest.fixture(scope="module")
def events(spark):
    return spark.createDataFrame(
        [(i, f"k{i % 4}", i % 7) for i in range(60)], "event_id long, k string, v long"
    )


def totals(df):
    return df.groupBy("k").agg(F.sum("v").alias("total"), F.count(F.lit(1)).alias("_n"))


def make_runner(kind, spark, sink, mirror_dir, key=None):
    """A runner keeping ``totals`` of the events; ``key`` (a column for
    ``k``) runs inside the view or inside ``prepare``."""
    k = F.col("k") if key is None else key.alias("k")
    if kind == "recompute":
        return IncrementalRunner(
            spark, sink, TABLE, lambda df: totals(df.select(k, "v")), mirror_dir=mirror_dir
        )
    return IncrementalAggRunner(
        spark, sink, TABLE, ["k"], "v", "total",
        prepare=lambda df: df.select(k, "v"), mirror_dir=mirror_dir,
    )


# where the first attempt of the second epoch dies, and the mirror
# directories it leaves: inside the sink commit, after the new snapshot
# is written, or inside SnapshotMirror.write, before it writes (the
# aggregate runner has collected its delta by then)
CRASH_POINTS = {"commit": ["events-19", "events-39"], "mirror_write": ["events-19"]}


@pytest.mark.parametrize(
    ("retry_upto", "crash_at"),
    [
        pytest.param(39, "commit", id="same_epoch"),
        pytest.param(59, "commit", id="later_epoch"),
        pytest.param(39, "mirror_write", id="same_epoch-in_mirror_write"),
        pytest.param(59, "mirror_write", id="later_epoch-in_mirror_write"),
    ],
)
@pytest.mark.parametrize("kind", RUNNERS)
def test_crash_after_mirror_write_then_retry(
    spark, events, tmp_path, monkeypatch, kind, retry_upto, crash_at
):
    clean = SqliteSink(str(tmp_path / "clean.db"))
    runner = make_runner(kind, spark, clean, str(tmp_path / "clean-mirror"))
    runner.run_batch(events, 19)
    runner.run_batch(events, retry_upto)
    want = sorted(clean.rows(TABLE))
    clean.close()

    sink = SqliteSink(str(tmp_path / "crash.db"))
    mirror_dir = str(tmp_path / "mirror")
    table_dir = os.path.join(mirror_dir, TABLE.name)
    runner = make_runner(kind, spark, sink, mirror_dir)
    runner.run_batch(events, 19)

    owner, attr = (runner.mirror, "write") if crash_at == "mirror_write" else (sink, "advance_offsets")
    real, calls = getattr(owner, attr), []

    def crash_once(*args, **kwargs):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError(f"crash inside {attr}")
        return real(*args, **kwargs)

    monkeypatch.setattr(owner, attr, crash_once)
    with pytest.raises(RuntimeError):
        runner.run_batch(events, 39)
    # the committed side is intact
    assert sink.mirror_epoch(TABLE.name) == "events-19"
    assert sorted(os.listdir(table_dir)) == CRASH_POINTS[crash_at]
    assert sink.read_offsets(TABLE) == {"events": 19}

    assert runner.run_batch(events, retry_upto) > 0
    assert sorted(sink.rows(TABLE)) == want
    # the pointer names a directory that exists, and it is the only one
    # left: the orphan is rewritten and committed, or pruned
    assert os.listdir(table_dir) == [sink.mirror_epoch(TABLE.name)]
    assert runner.run_batch(events, retry_upto) == 0
    assert sorted(sink.rows(TABLE)) == want
    assert os.listdir(table_dir) == [sink.mirror_epoch(TABLE.name)]
    sink.close()


@pytest.mark.parametrize("kind", RUNNERS)
def test_each_epoch_evaluates_its_input_once(spark, events, tmp_path, kind):
    """A Python UDF on the group key, in the view (recompute) or in
    ``prepare`` (aggregate), counts the rows it sees: each source row of
    an epoch passes it once — not once for the delta and again for the
    mirror write, nor once for the retractions and again for the
    insertions."""
    seen = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def counted(k):
        seen.add(1)
        return k

    sink = SqliteSink(":memory:")
    runner = make_runner(kind, spark, sink, str(tmp_path / "mirror"), key=counted("k"))
    runner.run_batch(events, 19)
    assert seen.value == 20
    runner.run_batch(events, 39)
    # recompute reads the whole prefix (40 rows); the aggregate runner
    # reads only the epoch's 20 new events
    assert seen.value == (60 if kind == "recompute" else 40)
    assert sorted(sink.rows(TABLE)) == sorted(
        tuple(r) for r in totals(events.filter(F.col("event_id") <= 39)).collect()
    )
    sink.close()


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@example(vals=[5, None], nkeys=1, cuts=[0])
@given(
    vals=st.lists(st.none() | st.integers(-20, 20), min_size=1, max_size=12),
    nkeys=st.integers(1, 3),
    cuts=st.lists(st.integers(0, 11), max_size=3),
)
@pytest.mark.parametrize("kind", RUNNERS)
def test_runners_equal_totals_over_random_epochs(spark, tmp_path_factory, kind, vals, nkeys, cuts):
    """Whatever the values (NULL included) and wherever the epochs are
    cut, the sink ends on ``totals`` over the whole log. The pinned
    example is an epoch that brings only a NULL to a non-NULL sum."""
    events = spark.createDataFrame(
        [(i, f"k{i % nkeys}", v) for i, v in enumerate(vals)], "event_id long, k string, v long"
    )
    sink = SqliteSink(":memory:")
    runner = make_runner(kind, spark, sink, str(tmp_path_factory.mktemp("mirror")))
    for upto in sorted({c for c in cuts if c < len(vals)} | {len(vals) - 1}):
        runner.run_batch(events, upto)
    assert sorted(sink.rows(TABLE)) == sorted(tuple(r) for r in totals(events).collect())
    sink.close()
