"""Per-epoch contract of both incremental runners at the mirror write
point: a crash between the mirror write and the sink commit leaves the
committed state intact and the retry lands exactly where a crash-free
run does; and each epoch evaluates its view (recompute runner) or its
prepared input (aggregate runner) once.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

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


@pytest.mark.parametrize("retry_upto", [39, 59], ids=["same_epoch", "later_epoch"])
@pytest.mark.parametrize("kind", RUNNERS)
def test_crash_after_mirror_write_then_retry(spark, events, tmp_path, monkeypatch, kind, retry_upto):
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

    commit, calls = sink.advance_offsets, []

    def crash_once(*args, **kwargs):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("crash between the mirror write and the commit")
        return commit(*args, **kwargs)

    monkeypatch.setattr(sink, "advance_offsets", crash_once)
    with pytest.raises(RuntimeError):
        runner.run_batch(events, 39)
    # the crash came after the mirror write; the committed side is intact
    assert sink.mirror_epoch(TABLE.name) == "events-19"
    assert sorted(os.listdir(table_dir)) == ["events-19", "events-39"]
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
