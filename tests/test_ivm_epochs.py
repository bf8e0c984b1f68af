"""Per-epoch contract of the incremental runners — recompute-and-diff,
fold views and the aggregate runner: a crash at the mirror write or at
the sink commit leaves the committed state intact and the retry lands
exactly where a crash-free run does; each epoch evaluates its view
(recompute) or its prepared input (fold, aggregate) once; after a
warm-up epoch, further epochs compile no new code and run as many jobs;
over random logs and epoch cuts the runners' sink rows equal the view
over the whole log, and a fold view's equal its recompute's after every
epoch; a lost fold state, or a mirror directory of another layout, is
rebuilt from the log; a fold view refuses out-of-order micro-batches.
"""

from __future__ import annotations

import copy
import os
import shutil

import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import Window as W

from actyxos_data_flow_spark.sinks import DbColumn, DbTable, SqliteSink
from actyxos_data_flow_spark.streaming import IncrementalRunner, events_stream, run_available_now
from actyxos_data_flow_spark.streaming.fold import LatestByKey, PairWithPrevious
from actyxos_data_flow_spark.streaming.runner import IncrementalAggRunner, offset_range

TABLE = DbTable(
    "ivm_totals",
    (DbColumn("k", "text"), DbColumn("total", "bigint"), DbColumn("_n", "bigint")),
    version=1,
)
RUNNERS = ("recompute", "delta_agg", "fold")


@pytest.fixture(scope="module")
def events(spark):
    return spark.createDataFrame(
        [(i, f"k{i % 4}", i % 7) for i in range(60)], "event_id long, k string, v long"
    )


def totals(df):
    return df.groupBy("k").agg(F.sum("v").alias("total"), F.count(F.lit(1)).alias("_n"))


def latest(df):
    """Each key's ``v`` at its highest offset, and that offset: the fold
    kind's view, stated in plain Spark."""
    w = W.partitionBy("k").orderBy(F.col("event_id").desc())
    return (
        df.withColumn("_r", F.row_number().over(w))
        .filter("_r = 1")
        .select("k", F.col("v").alias("total"), F.col("event_id").alias("_n"))
    )


EXPECTED = {"recompute": totals, "delta_agg": totals, "fold": latest}


def make_runner(kind, spark, sink, mirror_dir, key=None):
    """A runner keeping ``EXPECTED[kind]`` of the events; ``key`` (a
    column for ``k``) runs inside the view or inside ``prepare``."""
    k = F.col("k") if key is None else key.alias("k")
    if kind == "recompute":
        return IncrementalRunner(
            spark, sink, TABLE, lambda df: totals(df.select(k, "v")), mirror_dir=mirror_dir
        )
    if kind == "fold":
        view = LatestByKey(
            lambda df: df.select(k, F.col("v").alias("total"), F.col("event_id").alias("_n"), "event_id"),
            keys=["k"],
            order="event_id",
        )
        return IncrementalRunner(spark, sink, TABLE, view, mirror_dir=mirror_dir)
    return IncrementalAggRunner(
        spark, sink, TABLE, ["k"], "v", "total",
        prepare=lambda df: df.select(k, "v"), mirror_dir=mirror_dir,
    )


# where the first attempt of the second epoch dies, and the mirror
# directories it leaves: inside the sink commit, after the new snapshot
# (or fold state) is written, or inside SnapshotMirror.write, before it
# writes (the aggregate runner has collected its delta by then)
CRASH_POINTS = {"commit": ["events-19", "events-39"], "mirror_write": ["events-19"]}


def epoch_of(mirror_dir):
    """The epoch key a mirror directory name carries, without the layout
    tag a fold state's directory adds (``<key>@<tag>``)."""
    return mirror_dir.partition("@")[0]


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
    assert epoch_of(sink.mirror_epoch(TABLE.name)) == "events-19"
    assert sorted(map(epoch_of, os.listdir(table_dir))) == CRASH_POINTS[crash_at]
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
    ``prepare`` (fold, aggregate), counts the rows it sees: each source
    row of an epoch passes it once — not once for the delta and again
    for the mirror write, nor once for the retractions and again for the
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
    # recompute reads the whole prefix (40 rows); a fold and the
    # aggregate runner read only the epoch's 20 new events
    assert seen.value == (60 if kind == "recompute" else 40)
    assert sorted(sink.rows(TABLE)) == sorted(
        tuple(r) for r in EXPECTED[kind](events.filter(F.col("event_id") <= 39)).collect()
    )
    sink.close()


def compiles_and_jobs(spark, group, fn):
    """(classes Spark's code generator compiled, Spark jobs run) while
    ``fn()`` runs."""
    sc = spark.sparkContext
    codegen = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    sc.setJobGroup(group, group)
    before = codegen.getCount()
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return codegen.getCount() - before, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("kind", RUNNERS)
def test_epochs_after_warm_up_compile_nothing(spark, tmp_path, kind):
    """The epoch's offset bounds stay out of generated code: after one
    warm-up epoch, the next two compile 0 classes and run as many jobs.
    A row whose offset is NULL is in no epoch."""
    events = spark.createDataFrame(
        [(i, f"k{i % 4}", i % 7) for i in range(60)] + [(None, "k0", 100)],
        "event_id long, k string, v long",
    )
    sink = SqliteSink(":memory:")
    runner = make_runner(kind, spark, sink, str(tmp_path / "mirror"))
    runner.run_batch(events, 14)  # the first epoch has no previous snapshot
    counts = []
    for upto in (29, 44, 59):
        counts.append(
            compiles_and_jobs(spark, f"epoch-{kind}-{upto}", lambda: runner.run_batch(events, upto))
        )
        want = EXPECTED[kind](events.filter(F.col("event_id") <= upto)).collect()
        assert sorted(sink.rows(TABLE)) == sorted(tuple(r) for r in want)
    (_, warm_jobs), *after = counts
    assert warm_jobs > 0
    assert after == [(0, warm_jobs)] * 2
    sink.close()


@pytest.mark.parametrize(
    "bounds", [("after",), ("upto",), ("after", "upto")], ids=["after", "upto", "both"]
)
def test_offset_range_compiles_once_per_shape(spark, bounds):
    """``offset_range`` keeps ``after < offset <= upto`` and drops NULL
    offsets; a new bound reuses the code compiled for the last one."""
    df = spark.createDataFrame(
        [(i if i % 10 else None, i % 3) for i in range(100)], "event_id int, k long"
    )
    new = []
    for after, upto in ((-5, 30), (25, 60), (59, 95)):
        kw = {k: v for k, v in (("after", after), ("upto", upto)) if k in bounds}
        got = offset_range(df, "event_id", **kw)
        n, _ = compiles_and_jobs(
            spark, f"range-{bounds}-{upto}", lambda: got.groupBy("k").count().collect()
        )
        new.append(n)
        want = [i for i in range(100) if i % 10 and kw.get("after", -1) < i <= kw.get("upto", 99)]
        assert sorted(r.event_id for r in got.collect()) == want
    assert new[1:] == [0, 0]


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
    cut, the sink ends on the runner's view over the whole log. The
    pinned example is an epoch that brings only a NULL to a non-NULL
    sum."""
    events = spark.createDataFrame(
        [(i, f"k{i % nkeys}", v) for i, v in enumerate(vals)], "event_id long, k string, v long"
    )
    sink = SqliteSink(":memory:")
    runner = make_runner(kind, spark, sink, str(tmp_path_factory.mktemp("mirror")))
    for upto in sorted({c for c in cuts if c < len(vals)} | {len(vals) - 1}):
        runner.run_batch(events, upto)
    assert sorted(sink.rows(TABLE)) == sorted(tuple(r) for r in EXPECTED[kind](events).collect())
    sink.close()


# -- fold views against their own recompute ----------------------------------

PAIR_TABLE = DbTable(
    "fold_pairs",
    (DbColumn("k", "text"), DbColumn("v0", "bigint"), DbColumn("v1", "bigint")),
    version=1,
)
# each fold kind: (table, fold view). ``latest`` orders by ``ts``, which
# ties; the pairings order by the offset, as they must. ``pair_opens_true``
# emits a rise over any previous row; ``pair_opens`` a row v <= 0 right
# after an opening row v > 0 (the machine-usage start/stop shape).
FOLDS = {
    "latest": (
        DbTable("fold_latest", (DbColumn("k", "text"), DbColumn("v", "bigint")), version=1),
        LatestByKey(lambda df: df.select("k", "v", "ts"), keys=["k"], order="ts"),
    ),
    "pair_opens_true": (
        PAIR_TABLE,
        PairWithPrevious(
            lambda df: df.select("k", "v", "event_id"), keys=["k"], order="event_id",
            emit=["k", "prev_v AS v0", "v AS v1"],
            where="prev_v < v",
            opens="true",
        ),
    ),
    "pair_opens": (
        PAIR_TABLE,
        PairWithPrevious(
            lambda df: df.select("k", "v", "event_id"), keys=["k"], order="event_id",
            emit=["k", "prev_v AS v0", "v AS v1"],
            where="v <= 0",
            opens="v > 0",
        ),
    ),
}
LOG_SCHEMA = "event_id long, k string, v long, ts long"


def by_value(rows):
    return sorted(rows, key=lambda t: tuple((v is None, str(v)) for v in t))


def fold_and_recompute(spark, tmp_path, kinds, **kwargs):
    """Two runners over the same fold views, each into its own sink:
    one folds them, the other recomputes them as plain functions."""
    views = [FOLDS[k] for k in kinds]
    plain = [(t, lambda df, v=v: v(df)) for t, v in views]
    out = []
    for name, vs in (("fold", views), ("recompute", plain)):
        sink = SqliteSink(":memory:")
        out.append(IncrementalRunner(spark, sink, views=vs, mirror_dir=str(tmp_path / name), **kwargs))
    return out


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@example(log=[("a", 1, 0), ("a", 1, 0), ("a", -1, 0)], null_offsets=set(), cuts=[0])
@given(
    log=st.lists(
        st.tuples(st.none() | st.sampled_from("ab"), st.none() | st.integers(-2, 2), st.integers(0, 2)),
        min_size=1,
        max_size=10,
    ),
    null_offsets=st.sets(st.integers(0, 9), max_size=2),
    cuts=st.lists(st.integers(0, 9), max_size=3),
)
@pytest.mark.parametrize("kind", list(FOLDS))
def test_fold_equals_recompute_after_every_epoch(spark, tmp_path_factory, kind, log, null_offsets, cuts):
    """Over random logs — NULL keys, NULL values, NULL offsets (in no
    epoch), ties on ``latest``'s order column — and random epoch cuts,
    the fold's sink rows equal the recompute's after every epoch."""
    events = spark.createDataFrame(
        [(None if i in null_offsets else i, k, v, ts) for i, (k, v, ts) in enumerate(log)], LOG_SCHEMA
    )
    fold, recompute = fold_and_recompute(spark, tmp_path_factory.mktemp("fold"), [kind])
    table = FOLDS[kind][0]
    for upto in sorted({c for c in cuts if c < len(log)} | {len(log) - 1}):
        fold.run_batch(events, upto)
        recompute.run_batch(events, upto)
        assert by_value(fold.sink.rows(table)) == by_value(recompute.sink.rows(table)), upto
    assert fold.run_batch(events, len(log) - 1) == 0


def test_lost_fold_state_is_rebuilt_from_the_log(spark, tmp_path):
    """Deleting the mirror between epochs loses every fold state; the
    next epoch rebuilds it from the log ≤ its resume point, and the
    results stay exact."""
    events = spark.createDataFrame(
        [(i, f"k{i % 3}", (i * 7) % 5 - 2, i % 4) for i in range(40)], LOG_SCHEMA
    )
    kinds = ["latest", "pair_opens"]
    fold, recompute = fold_and_recompute(spark, tmp_path, kinds)
    for upto in (9, 19, 29, 39):
        if upto == 29:
            for table, _ in fold.views:
                assert os.listdir(tmp_path / "fold" / table.name)
            shutil.rmtree(tmp_path / "fold")
        fold.run_batch(events, upto)
        recompute.run_batch(events, upto)
        for table, _ in fold.views:
            assert by_value(fold.sink.rows(table)) == by_value(recompute.sink.rows(table)), upto


@pytest.mark.parametrize("kind", ["latest", "pair_opens"])
def test_commit_prefix_folds_only_the_churn(spark, tmp_path, kind):
    """The structured handler's entry point folds too: given the whole
    staged prefix, ``prepare`` sees only the rows after the resume
    point, so the second epoch reads the committed state instead of
    rebuilding it."""
    seen = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def counted(k):
        seen.add(1)
        return k

    table, fold = FOLDS[kind]
    view = copy.copy(fold)
    view.prepare = lambda df: fold.prepare(df.withColumn("k", counted("k")))
    sink = SqliteSink(":memory:")
    runner = IncrementalRunner(spark, sink, table, view, mirror_dir=str(tmp_path / "m"))
    log = spark.createDataFrame([(i, f"k{i % 3}", i % 5 - 2, i % 4) for i in range(30)], LOG_SCHEMA)
    for upto in (9, 29):
        runner.commit_prefix(log.filter(F.col("event_id") <= upto), upto)
    assert seen.value == 30
    assert by_value(sink.rows(table)) == by_value(tuple(r) for r in fold(log).collect())


def test_switching_between_plain_and_fold_view_rebuilds(spark, tmp_path):
    """A table committed by a plain view and continued by its fold view
    on the same mirror, and then by the plain view again: each switch
    finds a mirror directory of the other layout, which would read back
    as NULL columns, and rebuilds instead — every epoch stays exact."""
    events = spark.createDataFrame(
        [(i, f"k{i % 3}", (i * 7) % 5 - 2, i % 4) for i in range(40)], LOG_SCHEMA
    )
    kinds = ["latest", "pair_opens"]
    fold, recompute = fold_and_recompute(spark, tmp_path, kinds)
    sink = SqliteSink(":memory:")
    mirror_dir = str(tmp_path / "switch")
    for upto, runner in ((9, recompute), (19, fold), (29, fold), (39, recompute)):
        switched = IncrementalRunner(spark, sink, views=runner.views, mirror_dir=mirror_dir)
        switched.run_batch(events, upto)
        recompute.run_batch(events, upto)
        for table, _ in fold.views:
            assert by_value(sink.rows(table)) == by_value(recompute.sink.rows(table)), upto


def test_fold_view_refuses_out_of_order_micro_batches(spark, tmp_path):
    """The structured handler feeds a fold view offset-ordered files
    exactly; a later file holding offsets at or below the committed one
    is refused rather than left out of the fold."""
    table, view = FOLDS["pair_opens"]
    log = spark.createDataFrame(
        [(i, f"k{i % 3}", (i * 7) % 5 - 2, i % 4) for i in range(20)], LOG_SCHEMA
    )

    def drain(name, parts):
        src = tmp_path / name / "src"
        for n, (lo, hi) in enumerate(parts):
            part = src / f"p{n}"
            log.filter(F.col("event_id").between(lo, hi)).coalesce(1).write.parquet(str(part))
            for f in os.listdir(part):  # the file source takes files by mtime
                os.utime(part / f, (1_000_000 + n, 1_000_000 + n))
        sink = SqliteSink(":memory:")
        run_available_now(
            spark, events_stream(spark, f"{src}/*", log.schema), [(table, view)], sink,
            stage_dir=str(tmp_path / name / "stage"), checkpoint_dir=str(tmp_path / name / "ckpt"),
        )
        return sink

    sink = drain("ordered", [(0, 9), (10, 19)])
    assert by_value(sink.rows(table)) == by_value(tuple(r) for r in view(log).collect())
    with pytest.raises(Exception, match="offset-ordered"):
        drain("late", [(10, 19), (0, 9)])


def test_fold_views_reject_what_they_cannot_fold(spark, tmp_path):
    """A look-back horizon, a pairing not ordered by the offset, and a
    rewind behind the committed offset are refused."""
    sink = SqliteSink(":memory:")
    table, latest_view = FOLDS["latest"]
    with pytest.raises(ValueError, match="lookback_filter"):
        IncrementalRunner(spark, sink, table, latest_view, lookback_filter=F.col("ts") > 0)
    unordered = PairWithPrevious(
        lambda df: df.select("k", "v", "ts"), keys=["k"], order="ts", emit=["k"], where="true",
        opens="true",
    )
    with pytest.raises(ValueError, match="offset column"):
        IncrementalRunner(spark, sink, PAIR_TABLE, unordered)
    runner = IncrementalRunner(spark, sink, table, latest_view, mirror_dir=str(tmp_path / "m"))
    events = spark.createDataFrame([(i, "a", i, i) for i in range(10)], LOG_SCHEMA)
    runner.run_batch(events, 9)
    with pytest.raises(ValueError, match="rewind"):
        runner.run_batch(events, 4)


def test_fold_epoch_runs_no_more_jobs_than_recompute(spark, tmp_path):
    """Both fold kinds in one union: after two warm-up epochs, a fold
    epoch runs at most as many Spark jobs as recomputing the same views."""
    events = spark.createDataFrame(
        [(i, f"k{i % 5}", (i * 3) % 7 - 3, i % 6) for i in range(80)], LOG_SCHEMA
    )
    jobs = {}
    for runner, name in zip(fold_and_recompute(spark, tmp_path, ["latest", "pair_opens"]), ("fold", "recompute")):
        runner.run_batch(events, 19)
        runner.run_batch(events, 39)
        _, jobs[name] = compiles_and_jobs(spark, f"jobs-{name}", lambda r=runner: r.run_batch(events, 59))
    assert 0 < jobs["fold"] <= jobs["recompute"], jobs
