"""Delta/retraction layer tests (consolidate, snapshot_diff, apply_delta)
— the reference's Coll consolidation and per-epoch delta semantics
(/root/reference/src/coll.rs:25-101, src/flow.rs:129-146)."""

from __future__ import annotations

from pyspark.sql import functions as F

from actyxos_data_flow_spark.delta import apply_delta, consolidate, snapshot_diff, with_delta
from tests.conftest import rows


def test_consolidate_nets_out(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", -1), ("b", -1), ("c", 2), ("c", -2)], "v string, delta int"
    )
    got = consolidate(df)
    assert rows(got) == [("a", 1), ("b", -1)]


def test_consolidate_multiplicity_gt1(spark):
    """Reference DB tests use mult +2 (/root/reference/src/db/sqlite.rs:295)."""
    df = with_delta(spark.createDataFrame([("x",), ("x",), ("y",)], "v string"))
    got = consolidate(df)
    assert rows(got) == [("x", 2), ("y", 1)]


def test_snapshot_diff_and_apply_roundtrip(spark):
    old = spark.createDataFrame([("a",), ("a",), ("b",)], "v string")
    new = spark.createDataFrame([("a",), ("c",), ("c",)], "v string")
    d = snapshot_diff(old, new)
    assert rows(d) == [("a", -1), ("b", -1), ("c", 2)]
    roundtrip = apply_delta(old, d)
    assert rows(roundtrip) == rows(new)


def test_snapshot_diff_empty_when_equal(spark):
    df = spark.createDataFrame([(1,), (2,)], "v int")
    assert snapshot_diff(df, df).count() == 0


def test_delta_join_equals_snapshot_diff_of_joins(spark):
    """ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB must equal the brute-force diff of the old
    and new joins — including multiplicity products and retractions."""
    from actyxos_data_flow_spark.delta import apply_delta, delta_join, snapshot_diff, with_delta

    a_old = spark.createDataFrame([(1, "x"), (1, "x"), (2, "y")], "k long, av string")
    b_old = spark.createDataFrame([(1, "P"), (2, "Q"), (2, "Q")], "k long, bv string")
    da = spark.createDataFrame([(1, "x", -1), (3, "z", 2)], "k long, av string, delta long")
    db = spark.createDataFrame([(2, "Q", -2), (3, "R", 1)], "k long, bv string, delta long")

    a_new = apply_delta(a_old, da)
    b_new = apply_delta(b_old, db)
    want = snapshot_diff(a_old.join(b_old, "k"), a_new.join(b_new, "k"))
    got = delta_join(a_old, da, b_old, db, on="k")
    key = lambda df: sorted(tuple(r) for r in df.select("k", "av", "bv", "delta").collect())
    assert key(got) == key(want)


def test_delta_agg_sum_retraction_pairs_and_next_snapshot(spark):
    """Grouped-sum IVM: touched keys emit (old,−1)/(new,+1); a key whose
    count reaches zero emits only the retraction; a new key only the
    insert. Folding the delta back reproduces the recomputed aggregate."""
    import pyspark.sql.functions as F

    from actyxos_data_flow_spark.delta import apply_delta, delta_agg_next, delta_agg_sum

    src_old = spark.createDataFrame(
        [("a", 10), ("a", 5), ("b", 7), ("c", 1)], "g string, v long"
    )
    d = spark.createDataFrame(
        [("a", 3, 1), ("b", 7, -1), ("d", 9, 2)], "g string, v long, delta long"
    )
    old_agg = src_old.groupBy("g").agg(F.sum("v").alias("total"), F.count("*").alias("_n"))

    agg_delta = delta_agg_sum(old_agg, d, ["g"], "v", "total")
    got = sorted(tuple(r) for r in agg_delta.collect())
    assert got == [
        ("a", 15, 2, -1), ("a", 18, 3, 1),   # updated
        ("b", 7, 1, -1),                      # count -> 0: retraction only
        ("d", 18, 2, 1),                      # new key (9*2 rows): insert only
    ]
    # untouched key c must not appear in the delta
    assert not [r for r in got if r[0] == "c"]

    next_agg = delta_agg_next(old_agg, agg_delta)
    recomputed = (
        apply_delta(src_old, d).groupBy("g").agg(F.sum("v").alias("total"), F.count("*").alias("_n"))
    )
    key = lambda df: sorted(tuple(r) for r in df.select("g", "total", "_n").collect())
    assert key(next_agg) == key(recomputed)


def test_snapshot_diff_null_fields_cancel(spark):
    """A row with NULL fields present unchanged in both snapshots must
    NOT produce a retract/insert pair (the join-based diff's null-unsafe
    equality did — false churn through the sink every epoch)."""
    from actyxos_data_flow_spark.delta import snapshot_diff

    old = spark.createDataFrame([(1, None), (2, "b")], "id long, v string")
    new = spark.createDataFrame([(1, None), (3, None)], "id long, v string")
    got = sorted(tuple(r) for r in snapshot_diff(old, new).collect())
    assert got == [(2, "b", -1), (3, None, 1)]


def test_delta_agg_sum_null_key(spark):
    """NULL group keys must fold into their existing aggregate row and
    retract the stale one — not be treated as brand-new keys."""
    from actyxos_data_flow_spark.delta import delta_agg_next, delta_agg_sum

    old = spark.createDataFrame([(None, 100.0, 2), ("x", 10.0, 1)], "k string, total double, _n long")
    delta = spark.createDataFrame([(None, 5.0, 1)], "k string, val double, delta long")
    skey = lambda t: tuple((v is not None, v) for v in t)  # noqa: E731
    d = delta_agg_sum(old, delta, ["k"], "val", "total")
    got = sorted((tuple(r) for r in d.collect()), key=skey)
    assert got == [(None, 100.0, 2, -1), (None, 105.0, 3, 1)]
    nxt = sorted((tuple(r) for r in delta_agg_next(old, d, keys=["k"]).collect()), key=skey)
    assert nxt == [(None, 105.0, 3), ("x", 10.0, 1)]


def test_delta_agg_sum_retracts_null_sum_row(spark):
    """A group whose stored SUM is NULL (every value NULL) still has a
    row in the sink: touching it must retract that row, or the sink
    keeps two rows for one key. And an epoch bringing only NULL values
    keeps a non-NULL sum, as SQL SUM over all the rows does."""
    from actyxos_data_flow_spark.delta import delta_agg_next, delta_agg_sum

    old = spark.createDataFrame([("a", None, 1), ("b", 4, 1)], "k string, total long, _n long")
    delta = spark.createDataFrame([("a", 5, 1)], "k string, val long, delta long")
    d = delta_agg_sum(old, delta, ["k"], "val", "total")
    assert {tuple(r) for r in d.collect()} == {("a", None, 1, -1), ("a", 5, 2, 1)}
    assert sorted(tuple(r) for r in delta_agg_next(old, d, keys=["k"]).collect()) == [
        ("a", 5, 2),
        ("b", 4, 1),
    ]
    old = spark.createDataFrame([("a", 5, 1)], "k string, total long, _n long")
    delta = spark.createDataFrame([("a", None, 1)], "k string, val long, delta long")
    d = delta_agg_sum(old, delta, ["k"], "val", "total")
    assert {tuple(r) for r in d.collect()} == {("a", 5, 1, -1), ("a", 5, 2, 1)}
