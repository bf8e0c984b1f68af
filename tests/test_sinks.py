"""Sink-layer tests mirroring the reference's DB round-trip strategy
(/root/reference/src/db/sqlite.rs:284-320, src/db/mod.rs:484-590):
create → advance_offsets with mults {+1, +2, −1} → read back rows and
offsets; plus version-bump migration and Union multi-table transaction.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from actyxos_data_flow_spark.delta import DELTA_COL, snapshot_diff
from actyxos_data_flow_spark.sinks import (
    DbColumn,
    DbTable,
    SnapshotMirror,
    SqliteSink,
    Union,
    write_snapshot,
    write_snapshots,
)
from actyxos_data_flow_spark.sinks.writer import snapshot_delta

RECORD = DbTable(
    name="test_records",
    columns=(
        DbColumn("id", "integer", exclude=True),  # DB-generated, not written
        DbColumn("a", "text", index=True),
        DbColumn("b", "bigint"),
    ),
    version=1,
)


@pytest.fixture()
def sink():
    s = SqliteSink(":memory:")
    s.ensure(RECORD)
    yield s
    s.close()


def test_round_trip_multiplicities(sink):
    sink.advance_offsets(
        {RECORD: [(("x", 1), 1), (("y", 2), 2), (("x", 1), 1)]},
        {"src-a": 10},
    )
    assert sink.rows(RECORD) == [("x", 1), ("x", 1), ("y", 2), ("y", 2)]
    assert sink.read_offsets(RECORD) == {"src-a": 10}

    # negative mult deletes exactly one copy; offsets advance in same txn
    sink.advance_offsets({RECORD: [(("y", 2), -1)]}, {"src-a": 11, "src-b": 5})
    assert sink.rows(RECORD) == [("x", 1), ("x", 1), ("y", 2)]
    assert sink.read_offsets(RECORD) == {"src-a": 11, "src-b": 5}


def test_delete_null_safe(sink):
    sink.advance_offsets({RECORD: [((None, 7), 2)]}, {"s": 1})
    sink.advance_offsets({RECORD: [((None, 7), -1)]}, {"s": 2})
    assert sink.rows(RECORD) == [(None, 7)]


def test_version_bump_drops_and_recreates(sink):
    sink.advance_offsets({RECORD: [(("x", 1), 1)]}, {"s": 3})
    v2 = DbTable(name=RECORD.name, columns=RECORD.columns, version=2)
    rebuilt = sink.ensure(v2)
    assert rebuilt
    assert sink.rows(v2) == []
    assert sink.read_offsets(v2) == {}
    # same version again: no rebuild
    assert not sink.ensure(v2)


def test_union_one_transaction():
    s = SqliteSink(":memory:")
    t1 = DbTable("u_first", (DbColumn("a", "text"),), version=1)
    t2 = DbTable("u_second", (DbColumn("n", "bigint"),), version=1)
    u = Union((t1, t2))
    s.ensure(u)
    s.advance_offsets(
        {t1: [(("hello",), 1)], t2: [((42,), 1)]},
        {"src": 99},
        offsets_table=u.offsets_table,
    )
    assert s.rows(t1) == [("hello",)]
    assert s.rows(t2) == [(42,)]
    # shared offsets live in the first table's companion
    assert s.read_offsets(u) == {"src": 99}
    s.close()


def test_write_snapshot_ivm_loop(spark, tmp_path):
    s = SqliteSink(":memory:")
    s.ensure(RECORD)
    mirror = SnapshotMirror(spark, str(tmp_path / "mirror"))
    snap1 = spark.createDataFrame([("x", 1), ("y", 2)], "a string, b long")
    n = write_snapshot(spark, s, RECORD, snap1, {"src": 1}, mirror)
    assert n == 2
    assert s.rows(RECORD) == [("x", 1), ("y", 2)]
    assert s.mirror_epoch(RECORD.name) == "src-1"

    # churn: y retracted, z inserted; only the ±2 delta rows move —
    # the old side comes from the parquet mirror, never the driver
    snap2 = spark.createDataFrame([("x", 1), ("z", 3)], "a string, b long")
    n = write_snapshot(spark, s, RECORD, snap2, {"src": 2}, mirror)
    assert n == 2
    assert s.rows(RECORD) == [("x", 1), ("z", 3)]
    assert s.read_offsets(RECORD) == {"src": 2}

    # idempotent retry: same snapshot → empty diff
    n = write_snapshot(spark, s, RECORD, snap2, {"src": 2}, mirror)
    assert n == 0
    s.close()


def test_mirror_recovery_after_dir_loss(spark, tmp_path):
    """A lost mirror directory (fresh temp dir on restart) rebuilds from
    the sink's rows once — recovery path, then steady-state resumes."""
    s = SqliteSink(":memory:")
    s.ensure(RECORD)
    m1 = SnapshotMirror(spark, str(tmp_path / "m1"))
    snap1 = spark.createDataFrame([("x", 1), ("y", 2)], "a string, b long")
    write_snapshot(spark, s, RECORD, snap1, {"src": 1}, m1)

    m2 = SnapshotMirror(spark, str(tmp_path / "m2"))  # pointer names a dir m2 lacks
    snap2 = spark.createDataFrame([("x", 1), ("z", 3)], "a string, b long")
    n = write_snapshot(spark, s, RECORD, snap2, {"src": 2}, m2)
    assert n == 2
    assert s.rows(RECORD) == [("x", 1), ("z", 3)]
    s.close()


def test_snapshot_delta_plan_is_distributed(spark, tmp_path, monkeypatch):
    """The per-epoch diff write_snapshots runs — committed mirror vs the
    parquet just written — is two parquet scans, a union and one
    aggregate: no single-partition exchange anywhere in the physical
    plan (the scale gate on the IVM loop), and no trace of the view,
    which only the mirror write evaluates."""
    from actyxos_data_flow_spark.sinks import writer

    diffs = []

    def captured(*args, **kwargs):
        diffs.append(snapshot_delta(*args, **kwargs))
        return diffs[-1]

    monkeypatch.setattr(writer, "snapshot_delta", captured)
    s = SqliteSink(":memory:")
    s.ensure(RECORD)
    mirror = SnapshotMirror(spark, str(tmp_path / "mirror"))
    snap1 = spark.createDataFrame([("x", 1), ("y", 2)], "a string, b long")
    write_snapshot(spark, s, RECORD, snap1, {"src": 1}, mirror)
    snap2 = spark.createDataFrame([("x", 1), ("z", 3)], "a string, b long")
    assert write_snapshot(spark, s, RECORD, snap2, {"src": 2}, mirror) == 2
    plan = diffs[-1]._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert plan.split("== Initial Plan ==")[0].count("FileScan parquet") == 2
    assert "LocalTableScan" not in plan and "ExistingRDD" not in plan
    s.close()


def test_write_snapshots_same_epoch_key_never_overwrites_committed(spark, tmp_path):
    """Two structured-streaming micro-batches can share a max offset and
    so an epoch key. The second snapshot must land beside the committed
    directory, never over it — the diff reads the committed directory
    after the write — and a third call with the same snapshot applies
    nothing."""
    s = SqliteSink(":memory:")
    s.ensure(RECORD)
    mirror = SnapshotMirror(spark, str(tmp_path / "mirror"))
    table_dir = tmp_path / "mirror" / RECORD.name
    write, written = mirror.write, []

    def guarded_write(table, snapshot, epoch):
        committed = s.mirror_epoch(table.name)
        before = sorted(os.listdir(table_dir / committed)) if committed else None
        write(table, snapshot, epoch)
        written.append(epoch)
        assert epoch != committed
        if committed:  # part-file names are per write job: a rewrite renames them
            assert sorted(os.listdir(table_dir / committed)) == before

    mirror.write = guarded_write
    snap1 = spark.createDataFrame([("x", 1), ("y", 2)], "a string, b long")
    snap2 = spark.createDataFrame([("x", 1), ("z", 3)], "a string, b long")
    assert write_snapshot(spark, s, RECORD, snap1, {"src": 5}, mirror) == 2
    assert write_snapshot(spark, s, RECORD, snap2, {"src": 5}, mirror) == 2
    assert sorted(s.rows(RECORD)) == [("x", 1), ("z", 3)]
    assert s.mirror_epoch(RECORD.name) == "src-5.alt"
    assert write_snapshot(spark, s, RECORD, snap2, {"src": 5}, mirror) == 0
    assert sorted(s.rows(RECORD)) == [("x", 1), ("z", 3)]
    assert written == ["src-5", "src-5.alt", "src-5"]
    assert os.listdir(table_dir) == ["src-5"]
    s.close()


def test_write_snapshots_union_one_transaction(spark, tmp_path):
    """Two views materialized from one offsets advance in one commit
    (/root/reference/src/db/mod.rs:230-244)."""
    t1 = DbTable("ws_first", (DbColumn("a", "text"),), version=1)
    t2 = DbTable("ws_second", (DbColumn("n", "bigint"),), version=1)
    u = Union((t1, t2))
    s = SqliteSink(":memory:")
    s.ensure(u)
    mirror = SnapshotMirror(spark, str(tmp_path / "mirror"))
    applied = write_snapshots(
        spark,
        s,
        [
            (t1, spark.createDataFrame([("hello",)], "a string")),
            (t2, spark.createDataFrame([(42,)], "n long")),
        ],
        {"src": 99},
        mirror,
        offsets_table=u.offsets_table,
    )
    assert applied == {"ws_first": 1, "ws_second": 1}
    assert s.rows(t1) == [("hello",)]
    assert s.rows(t2) == [(42,)]
    assert s.read_offsets(u) == {"src": 99}
    s.close()


def test_snapshot_diff_matches_sink_apply(spark):
    old = spark.createDataFrame([("a", 1), ("a", 1), ("b", 2)], "k string, v long")
    new = spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], "k string, v long")
    d = {(r["k"], r["v"]): r[DELTA_COL] for r in snapshot_diff(old, new).collect()}
    assert d == {("a", 1): -1, ("c", 3): 1}


def test_write_delta_incremental_agg_epoch(spark, tmp_path):
    """True-IVM lifecycle through ``write_snapshots(..., deltas=...)``:
    epoch 1 seeds a grouped-sum view; epoch 2 ships ONLY the given
    delta_agg_sum retraction pairs (no recompute, no mirror diff) — the
    stored table must land exactly on the recomputed aggregate, offsets
    and the pointer to the folded snapshot advancing in the same
    transaction."""
    from actyxos_data_flow_spark.delta import delta_agg_next, delta_agg_sum, with_delta
    from actyxos_data_flow_spark.sinks.sqlite import SqliteSink
    from actyxos_data_flow_spark.sinks.spec import DbColumn, DbTable
    from actyxos_data_flow_spark.sinks.writer import SnapshotMirror, write_snapshots

    agg_table = DbTable(
        "agg_totals",
        (DbColumn("g", "text"), DbColumn("total", "bigint"), DbColumn("_n", "bigint")),
        version=1,
    )
    s = SqliteSink(":memory:")
    s.ensure(agg_table)
    mirror = SnapshotMirror(spark, str(tmp_path / "mirror"))

    def epoch(snapshot, delta, offsets):
        return write_snapshots(
            spark, s, [(agg_table, snapshot)], offsets, mirror, deltas={agg_table.name: delta}
        )[agg_table.name]

    src_old = spark.createDataFrame([("a", 10), ("a", 5), ("b", 7)], "g string, v long")
    old_agg = src_old.groupBy("g").agg(F.sum("v").alias("total"), F.count("*").alias("_n"))
    n = epoch(old_agg, with_delta(old_agg), {"src": 1})
    assert n == 2 and sorted(s.rows(agg_table)) == [("a", 15, 2), ("b", 7, 1)]

    d = spark.createDataFrame(
        [("a", 3, 1), ("b", 7, -1), ("c", 4, 1)], "g string, v long, delta long"
    )
    agg_delta = delta_agg_sum(old_agg, d, ["g"], "v", "total")
    n = epoch(delta_agg_next(old_agg, agg_delta), agg_delta, {"src": 2})
    # a updated (retract+insert), b emptied (retract), c new (insert)
    assert n == 4
    assert sorted(s.rows(agg_table)) == [("a", 18, 3), ("c", 4, 1)]
    assert s.read_offsets(agg_table) == {"src": 2}
    # the pointer names the directory just written, which holds the
    # folded snapshot the sink's rows reflect
    assert s.mirror_epoch(agg_table.name) == "src-2"
    assert os.listdir(tmp_path / "mirror" / agg_table.name) == ["src-2"]
    written = mirror.read(agg_table, "src-2", old_agg.schema).collect()
    assert sorted(tuple(r) for r in written) == [("a", 18, 3), ("c", 4, 1)]
    s.close()
