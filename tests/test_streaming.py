"""Streaming-layer tests: catch-up batching, exactly-once resume, and a
full Structured Streaming drive into the SQLite sink. Mirrors the
reference's runner contract (/root/reference/src/runner.rs:151-358):
the sink's table always equals the view over exactly the events its
offsets claim, at every commit point.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from actyxos_data_flow_spark.sinks import DbColumn, DbTable, SqliteSink
from actyxos_data_flow_spark.streaming import (
    IncrementalRunner,
    events_stream,
    run_available_now,
)

SF_DIR = "/root/testdata/sf0.001"

DASH = DbTable(
    name="dashboard",
    columns=(
        DbColumn("user_id", "bigint", index=True),
        DbColumn("status", "text"),
        DbColumn("n_events", "bigint"),
    ),
    version=1,
)


def dashboard_view(events):
    """E1-style latest-state + count per key (stateful: group/max_by)."""
    return (
        events.filter(F.col("event_type") != "error")
        .groupBy("user_id")
        .agg(
            F.max_by(
                F.when(F.col("event_type") == "purchase", "working").otherwise("idle"),
                F.col("event_id"),
            ).alias("status"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@pytest.fixture(scope="module")
def events(spark):
    from actyxos_data_flow_spark.sources import load_table

    return load_table(spark, SF_DIR, "events").cache()


def expected_rows(events, upto=None):
    df = events if upto is None else events.filter(F.col("event_id") <= upto)
    return sorted(tuple(r) for r in dashboard_view(df).collect())


def test_catch_up_commits_every_txn_batch(spark, events):
    sink = SqliteSink(":memory:")
    runner = IncrementalRunner(spark, sink, DASH, dashboard_view)
    n = events.count()
    applied = runner.catch_up(events, events_per_txn=400)
    assert len(applied) == -(-n // 400)  # ceil: one commit per txn batch
    assert sorted(sink.rows(DASH)) == expected_rows(events)
    assert runner.resume_offset() == events.agg(F.max("event_id")).first()[0]
    sink.close()


def test_restart_resumes_from_offsets(spark, events, tmp_path):
    db = str(tmp_path / "resume.db")
    max_off = events.agg(F.max("event_id")).first()[0]
    mid = max_off // 2

    sink = SqliteSink(db)
    runner = IncrementalRunner(spark, sink, DASH, dashboard_view)
    runner.run_batch(events, mid)
    assert sorted(sink.rows(DASH)) == expected_rows(events, mid)
    sink.close()

    # new process: resume point comes from the DB, catch-up completes
    sink2 = SqliteSink(db)
    runner2 = IncrementalRunner(spark, sink2, DASH, dashboard_view)
    assert runner2.resume_offset() == mid
    applied = runner2.catch_up(events, events_per_txn=10**9)
    assert len(applied) == 1
    assert sorted(sink2.rows(DASH)) == expected_rows(events)
    # re-running is a no-op (exactly-once idempotence)
    assert runner2.catch_up(events, events_per_txn=10**9) == []
    sink2.close()


def test_lookback_filter_bounds_replay(spark, events):
    """S2 new_limited: only events inside the horizon participate."""
    cutoff = events.selectExpr("percentile_approx(ts, 0.5)").first()[0]
    sink = SqliteSink(":memory:")
    runner = IncrementalRunner(
        spark, sink, DASH, dashboard_view, lookback_filter=F.col("ts") >= F.lit(cutoff)
    )
    max_off = events.agg(F.max("event_id")).first()[0]
    runner.run_batch(events, max_off)
    lim = events.filter(F.col("ts") >= F.lit(cutoff))
    assert sorted(sink.rows(DASH)) == expected_rows(lim)
    sink.close()


def test_structured_streaming_foreach_batch(spark, events, tmp_path):
    src = str(tmp_path / "src")
    # split the log into 3 files = 3 micro-batches
    events.withColumn(
        "_b", (F.col("event_id") % 3).cast("int")
    ).write.partitionBy("_b").mode("overwrite").parquet(src)

    schema = spark.read.option("recursiveFileLookup", "true").parquet(src).schema
    stream = events_stream(spark, src + "/_b=*", schema, max_files_per_trigger=1)
    assert stream.isStreaming

    sink = SqliteSink(str(tmp_path / "stream.db"))
    run_available_now(
        spark,
        stream,
        dashboard_view,
        sink,
        DASH,
        stage_dir=str(tmp_path / "stage"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert sorted(sink.rows(DASH)) == expected_rows(events)
    assert sink.read_offsets(DASH)["events"] == events.agg(F.max("event_id")).first()[0]
    sink.close()


def _await_offset(sink, spec, target, query, timeout=90.0):
    """Poll the sink until its committed offset reaches ``target`` (the
    live-phase analogue of awaitTermination for availableNow)."""
    import time

    deadline = time.time() + timeout
    while time.time() < deadline:
        if query.exception() is not None:
            raise AssertionError(f"query failed: {query.exception()}")
        if sink.read_offsets(spec).get("events", -1) >= target:
            return
        time.sleep(0.5)
    raise AssertionError(
        f"offset never reached {target}; at {sink.read_offsets(spec)}"
    )


def test_live_streaming_ticks_and_resumes(spark, events, tmp_path):
    """Live phase (S5, /root/reference/src/runner.rs:322-355): the query
    keeps running on a periodic tick, flushing one sink transaction per
    micro-batch that made progress; at every observed commit point the
    table equals the view over exactly the events the offsets claim.
    Restart with the same checkpoint resumes (live-mode mirror of
    test_restart_resumes_from_offsets)."""
    from actyxos_data_flow_spark.streaming import run_live

    watch = str(tmp_path / "watch")
    max_off = events.agg(F.max("event_id")).first()[0]
    cuts = [max_off // 3, (2 * max_off) // 3, max_off]

    def append_slice(lo, hi):
        events.filter(
            (F.col("event_id") > lo) & (F.col("event_id") <= hi)
        ).coalesce(1).write.mode("append").parquet(watch)

    append_slice(-1, cuts[0])
    schema = events.schema
    sink = SqliteSink(str(tmp_path / "live.db"))
    q = run_live(
        spark,
        events_stream(spark, watch, schema, max_files_per_trigger=1),
        dashboard_view,
        sink,
        DASH,
        stage_dir=str(tmp_path / "stage"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        mirror_dir=str(tmp_path / "mirror"),
        tick="1 second",
    )
    try:
        _await_offset(sink, DASH, cuts[0], q)
        assert sorted(sink.rows(DASH)) == expected_rows(events, cuts[0])

        # live arrival: a new file lands while the query runs; the next
        # tick flushes it in its own transaction
        append_slice(cuts[0], cuts[1])
        _await_offset(sink, DASH, cuts[1], q)
        assert sorted(sink.rows(DASH)) == expected_rows(events, cuts[1])
    finally:
        q.stop()

    # restart: data arrives while down; same checkpoint resumes and
    # catches up without reprocessing committed batches
    append_slice(cuts[1], cuts[2])
    q2 = run_live(
        spark,
        events_stream(spark, watch, schema, max_files_per_trigger=1),
        dashboard_view,
        sink,
        DASH,
        stage_dir=str(tmp_path / "stage"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        mirror_dir=str(tmp_path / "mirror"),
        tick="1 second",
    )
    try:
        _await_offset(sink, DASH, cuts[2], q2)
        assert sorted(sink.rows(DASH)) == expected_rows(events)
        assert sink.read_offsets(DASH)["events"] == max_off
    finally:
        q2.stop()
    sink.close()


def test_windowed_agg_drops_late_events(spark, tmp_path):
    """Watermarked tumbling windows: once the watermark (max event time
    − delay, propagated with Spark's one-batch lag) has passed a
    window's end, that window's state is evicted and a later arrival
    for it is dropped instead of re-opening it — bounded state."""
    import os as _os
    import time as _time

    from actyxos_data_flow_spark.streaming.windows import windowed_agg

    src = str(tmp_path / "wsrc")

    def write_file(i, rows):
        d = src + f"/b={i}"
        spark.createDataFrame(rows, "k long, ts string").selectExpr(
            "k", "cast(ts as timestamp) ts"
        ).coalesce(1).write.parquet(d)
        for f in _os.listdir(d):
            _os.utime(_os.path.join(d, f), (_time.time() - 60 + i,) * 2)

    write_file(1, [(1, "2024-01-01 10:00:10"), (1, "2024-01-01 10:00:40"), (1, "2024-01-01 10:05:00")])
    write_file(2, [(1, "2024-01-01 10:09:00")])  # watermark → 10:07
    write_file(3, [(1, "2024-01-01 10:00:30")])  # behind watermark: dropped

    stream = (
        spark.readStream.schema("k long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/b=*")
    )
    out = windowed_agg(stream, "ts", window="1 minute", watermark="2 minutes", keys=["k"])

    batches = {}

    def record(df, bid):
        batches[bid] = sorted((str(r.window_start), r.n) for r in df.collect())

    q = (
        out.writeStream.foreachBatch(record)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    assert batches[0] == [("2024-01-01 10:00:00", 2), ("2024-01-01 10:05:00", 1)]
    assert batches[1] == [("2024-01-01 10:09:00", 1)]
    # the late 10:00:30 arrival did NOT re-open the evicted 10:00 window
    assert batches[2] == []


def test_session_agg_merges_and_closes(spark, tmp_path):
    """Session windows live (append mode — the only mode session
    aggregations support): events within the gap merge into one growing
    session across micro-batches; the session is emitted exactly once,
    when the watermark passes its end, with the fully-merged span."""
    import os as _os
    import time as _time

    from actyxos_data_flow_spark.streaming.windows import session_agg

    src = str(tmp_path / "ssrc")

    def write_file(i, rows):
        d = src + f"/b={i}"
        spark.createDataFrame(rows, "k long, ts string").selectExpr(
            "k", "cast(ts as timestamp) ts"
        ).coalesce(1).write.parquet(d)
        for f in _os.listdir(d):
            _os.utime(_os.path.join(d, f), (_time.time() - 60 + i,) * 2)

    write_file(1, [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:00:30")])
    write_file(2, [(1, "2024-01-01 10:01:10")])  # within gap: merges, n=3
    write_file(3, [(1, "2024-01-01 10:30:00")])  # advances watermark past the session

    stream = (
        spark.readStream.schema("k long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/b=*")
    )
    out = session_agg(stream, "ts", gap="1 minute", watermark="2 minutes", keys=["k"])

    emitted = []

    def record(df, bid):
        emitted.extend((bid, str(r.session_start), str(r.session_end), r.n) for r in df.collect())

    q = (
        out.writeStream.foreachBatch(record)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # exactly one emission: the MERGED session (3 events, widened end),
    # closed only after the 10:30 event pushed the watermark past it —
    # the still-open 10:30 session is withheld in append mode
    assert [(s0, s1, n) for _, s0, s1, n in emitted] == [
        ("2024-01-01 10:00:00", "2024-01-01 10:02:10", 3)
    ]
    assert emitted[0][0] >= 2  # not emitted before the closing batch


def test_stream_stream_join_with_watermarks(spark, tmp_path):
    """Stream-stream inner join with event-time range: each click joins
    purchases of the same user within 10 minutes after it. Both sides
    watermarked so Spark can discard buffered rows once they can no
    longer match — bounded state, the only way a stream-stream join
    survives unbounded input."""
    import os as _os
    import time as _time

    clicks_src = str(tmp_path / "clicks")
    buys_src = str(tmp_path / "buys")

    def write(base, i, rows, schema):
        d = base + f"/b={i}"
        spark.createDataFrame(rows, schema).selectExpr(
            "id", "k", "cast(ts as timestamp) ts"
        ).coalesce(1).write.parquet(d)
        for f in _os.listdir(d):
            _os.utime(_os.path.join(d, f), (_time.time() - 60 + i,) * 2)

    schema = "id long, k long, ts string"
    write(clicks_src, 1, [(1, 7, "2024-01-01 10:00:00"), (2, 7, "2024-01-01 10:20:00")], schema)
    write(buys_src, 1, [(100, 7, "2024-01-01 10:05:00"), (101, 7, "2024-01-01 10:45:00")], schema)

    clicks = (
        spark.readStream.schema("id long, k long, ts timestamp").parquet(clicks_src + "/b=*")
        .withColumnRenamed("id", "click_id").withColumnRenamed("ts", "click_ts")
        .withWatermark("click_ts", "30 minutes")
    )
    buys = (
        spark.readStream.schema("id long, k long, ts timestamp").parquet(buys_src + "/b=*")
        .withColumnRenamed("id", "buy_id").withColumnRenamed("ts", "buy_ts")
        .withColumnRenamed("k", "bk")
        .withWatermark("buy_ts", "30 minutes")
    )
    import pyspark.sql.functions as F

    joined = clicks.join(
        buys,
        (clicks.k == buys.bk)
        & (buys.buy_ts >= clicks.click_ts)
        & (buys.buy_ts < clicks.click_ts + F.expr("INTERVAL 10 MINUTES")),
    ).select("click_id", "buy_id")

    got = []

    def record(df, bid):
        got.extend((r.click_id, r.buy_id) for r in df.collect())

    q = (
        joined.writeStream.foreachBatch(record)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # click 1 (10:00) matches buy 100 (10:05); click 2 (10:20) matches
    # nothing (10:45 is outside its 10-minute horizon)
    assert sorted(got) == [(1, 100)]


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """Streaming exact dedup with bounded state: a duplicate id arriving
    within the watermark horizon is dropped; state for expired keys is
    evicted (dropDuplicatesWithinWatermark — the streaming form of
    operators/dedup exact dedup)."""
    import os as _os
    import time as _time

    src = str(tmp_path / "src")

    def write_file(i, rows):
        d = src + f"/b={i}"
        spark.createDataFrame(rows, "id long, ts string").selectExpr(
            "id", "cast(ts as timestamp) ts"
        ).coalesce(1).write.parquet(d)
        for f in _os.listdir(d):
            _os.utime(_os.path.join(d, f), (_time.time() - 60 + i,) * 2)

    write_file(1, [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:00:05")])
    write_file(2, [(1, "2024-01-01 10:00:30")])  # dup within horizon: dropped
    write_file(3, [(3, "2024-01-01 10:30:00")])

    stream = (
        spark.readStream.schema("id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/b=*")
        .withWatermark("ts", "1 minute")
        .dropDuplicatesWithinWatermark(["id"])
    )

    seen = []

    def record(df, bid):
        seen.extend(r.id for r in df.collect())

    q = (
        stream.writeStream.foreachBatch(record)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(seen) == [1, 2, 3]  # the batch-2 duplicate of id 1 never re-emits


def test_incremental_agg_runner_o_churn_epochs(spark):
    """True-IVM lifecycle end-to-end: a grouped-sum view maintained from
    per-epoch event deltas only (no recompute) must land on exactly the
    full-recompute result after every epoch, resume from offsets, and
    no-op on a replayed epoch."""
    import pyspark.sql.functions as F

    from actyxos_data_flow_spark.sinks.spec import DbColumn, DbTable
    from actyxos_data_flow_spark.sinks.sqlite import SqliteSink
    from actyxos_data_flow_spark.streaming.runner import IncrementalAggRunner

    events = spark.createDataFrame(
        [(i, f"u{i % 3}", (i % 5) + 1) for i in range(30)],
        "event_id long, user string, amount long",
    )
    table = DbTable(
        "agg_amounts",
        (DbColumn("user", "text"), DbColumn("total", "bigint"), DbColumn("_n", "bigint")),
        version=1,
    )
    s = SqliteSink(":memory:")
    r = IncrementalAggRunner(spark, s, table, ["user"], "amount", "total")

    def recomputed(upto):
        return sorted(
            tuple(x)
            for x in events.filter(F.col("event_id") <= upto)
            .groupBy("user")
            .agg(F.sum("amount").alias("t"), F.count("*").alias("n"))
            .collect()
        )

    n1 = r.run_batch(events, 9)
    assert n1 == 3 and sorted(s.rows(table)) == recomputed(9)
    n2 = r.run_batch(events, 19)  # epoch 2: retraction pairs only for touched keys
    assert sorted(s.rows(table)) == recomputed(19)
    assert n2 == 6  # 3 keys touched -> 3 retract + 3 insert
    assert r.run_batch(events, 19) == 0  # replay: idempotent no-op
    # catch_up drains the rest in bounded commits
    applied = r.catch_up(events, events_per_txn=5)
    assert len(applied) >= 2 and sorted(s.rows(table)) == recomputed(29)
    assert s.read_offsets(table) == {"events": 29}
    s.close()


def test_corpus_ingestor_dedups_within_and_across_batches(spark, tmp_path):
    """Batch 1 ingests two distinct docs (one intra-batch dup dropped,
    low-quality doc gated); batch 2 re-sends a batch-1 doc (dropped via
    the digest index) plus one new doc. Corpus ends exact-dedup-clean."""
    from actyxos_data_flow_spark.streaming.ingest import CorpusIngestor

    good_a = "the quick brown fox jumps over the lazy dog and then rests in the shade of a tall tree"
    good_b = "a completely different story about ships and the open sea with many fine words in it today"
    good_c = "third unique document with plenty of good and varied words to pass the quality gate here now"
    ing = CorpusIngestor(spark, str(tmp_path / "corpus"), quality_min_fp6=400_000)
    b1 = spark.createDataFrame(
        [(1, good_a, "en", "s"), (2, good_a, "en", "s"), (3, good_b, "en", "s"), (4, "x y", "en", "s")],
        "doc_id long, text string, lang string, source string",
    )
    s1 = ing.ingest_batch(b1)
    assert s1["arrived"] == 4 and s1["accepted"] == 2  # dup + gated dropped
    b2 = spark.createDataFrame(
        [(5, good_a, "en", "s"), (6, good_c, "en", "s")],
        "doc_id long, text string, lang string, source string",
    )
    s2 = ing.ingest_batch(b2)
    assert s2["accepted"] == 1  # only the new doc
    corpus = ing.corpus()
    # the caller's columns only: the gate's quality_fp6 is not stored
    assert corpus.columns == ["doc_id", "text", "lang", "source"]
    texts = [r.text for r in corpus.collect()]
    assert sorted(texts) == sorted([good_a, good_b, good_c])
    assert corpus.select("doc_id").distinct().count() == 3


def test_run_ingest_stream_two_files_resume(spark, tmp_path):
    """File-source drive: two JSONL drops drain through availableNow in
    separate runs sharing a checkpoint — the second run processes ONLY
    the new file and the digest index still blocks its duplicate."""
    import json as _json

    from actyxos_data_flow_spark.streaming.ingest import run_ingest_stream

    src = tmp_path / "src"
    src.mkdir()
    good_a = "the quick brown fox jumps over the lazy dog and then rests in the shade of a tall tree"
    good_b = "a completely different story about ships and the open sea with many fine words in it today"
    (src / "f1.jsonl").write_text(
        "\n".join(_json.dumps({"doc_id": i, "text": t, "lang": "en", "source": "s"})
                  for i, t in [(1, good_a), (2, good_b)])
    )
    stats1 = run_ingest_stream(
        spark, str(src), str(tmp_path / "corpus"), str(tmp_path / "ckpt"), quality_min_fp6=400_000
    )
    assert sum(s["accepted"] for s in stats1) == 2
    (src / "f2.jsonl").write_text(
        _json.dumps({"doc_id": 9, "text": good_a, "lang": "en", "source": "s"})
    )
    stats2 = run_ingest_stream(
        spark, str(src), str(tmp_path / "corpus"), str(tmp_path / "ckpt"), quality_min_fp6=400_000
    )
    assert sum(s["arrived"] for s in stats2) == 1  # checkpoint resume: new file only
    assert sum(s["accepted"] for s in stats2) == 0  # duplicate blocked by index
    from actyxos_data_flow_spark.streaming.ingest import CorpusIngestor

    assert CorpusIngestor(spark, str(tmp_path / "corpus")).corpus().count() == 2


def test_corpus_ingestor_survives_null_and_empty_text(spark, tmp_path):
    """Null/empty text rows are gated (quality undefined => dropped),
    never crash the batch, and the counts stay truthful."""
    from actyxos_data_flow_spark.streaming.ingest import CorpusIngestor

    ing = CorpusIngestor(spark, str(tmp_path / "corpus"), quality_min_fp6=400_000)
    good = "the quick brown fox jumps over the lazy dog and then rests in the shade of a tall tree"
    b = spark.createDataFrame(
        [(1, good, "en", "s"), (2, None, "en", "s"), (3, "", "en", "s")],
        "doc_id long, text string, lang string, source string",
    )
    s = ing.ingest_batch(b)
    assert s["arrived"] == 3 and s["accepted"] == 1
    assert [r.doc_id for r in ing.corpus().collect()] == [1]


def test_run_ingest_live_picks_up_new_files_on_tick(spark, tmp_path):
    """Live phase: a file landing AFTER the query starts is ingested on
    a later tick; its duplicate of batch-1 content is index-blocked."""
    import json as _json
    import time

    from actyxos_data_flow_spark.streaming.ingest import CorpusIngestor, run_ingest_live

    src = tmp_path / "src"
    src.mkdir()
    good_a = "the quick brown fox jumps over the lazy dog and then rests in the shade of a tall tree"
    good_b = "a completely different story about ships and the open sea with many fine words in it today"
    (src / "f1.jsonl").write_text(
        _json.dumps({"doc_id": 1, "text": good_a, "lang": "en", "source": "s"})
    )
    seen = []
    q = run_ingest_live(
        spark, str(src), str(tmp_path / "corpus"), str(tmp_path / "ckpt"),
        quality_min_fp6=400_000, on_batch=seen.append,
    )
    try:
        deadline = time.time() + 30
        while sum(s["accepted"] for s in seen) < 1 and time.time() < deadline:
            time.sleep(0.5)
        (src / "f2.jsonl").write_text(
            "\n".join(
                _json.dumps(d)
                for d in [
                    {"doc_id": 2, "text": good_a, "lang": "en", "source": "s"},
                    {"doc_id": 3, "text": good_b, "lang": "en", "source": "s"},
                ]
            )
        )
        while sum(s["arrived"] for s in seen) < 3 and time.time() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()
    assert sum(s["accepted"] for s in seen) == 2  # dup of good_a blocked live
    corpus = CorpusIngestor(spark, str(tmp_path / "corpus")).corpus()
    assert sorted(r.doc_id for r in corpus.collect()) == [1, 3]


def test_corpus_ingestor_near_dup_gate(spark, tmp_path):
    """near_dup=True adds the MinHash-LSH gate: a batch-2 doc that is a
    NEAR (not exact) duplicate of an ingested doc is rejected via the
    persisted signature index; within a batch the smaller id wins."""
    from actyxos_data_flow_spark.streaming.ingest import CorpusIngestor

    base = "the quick brown fox jumps over the lazy dog and then rests in the shade of a tall tree"
    near = base.replace("tall tree", "tall oak")  # different digest, high jaccard
    other = "a completely different story about ships and the open sea with many fine words in it today"
    other_near = other.replace("fine words", "good words")
    novel = "third unique document with plenty of good and varied words to pass the quality gate here now"
    ing = CorpusIngestor(spark, str(tmp_path / "corpus"), quality_min_fp6=400_000, near_dup=True)
    b1 = spark.createDataFrame(
        # 20/21 are intra-batch near-dups: 20 (smaller id) must win
        [(20, other, "en", "s"), (21, other_near, "en", "s"), (1, base, "en", "s")],
        "doc_id long, text string, lang string, source string",
    )
    s1 = ing.ingest_batch(b1)
    assert s1["accepted"] == 2
    b2 = spark.createDataFrame(
        [(30, near, "en", "s"), (31, novel, "en", "s")],
        "doc_id long, text string, lang string, source string",
    )
    s2 = ing.ingest_batch(b2)
    assert s2["accepted"] == 1  # near-dup of history rejected, novel kept
    got = sorted(r.doc_id for r in ing.corpus().collect())
    assert got == [1, 20, 31]


def test_near_dup_gate_pins_pre_append_state(spark, tmp_path):
    """The gate's returned frames are MATERIALIZED (round-12
    discipline): `near` and the batch signatures must be pinned as of
    the PRE-APPEND signature index — cluster maintenance runs after
    the batch's sigs land, so a lazy plan would re-evaluate against an
    index that now contains the batch itself. Pin: appending to the
    sigs store after the gate returns must not change `near`'s
    content, and the returned plans must not re-run the estimator join
    (leaf/no-join plans)."""
    from pyspark.sql import functions as F

    from actyxos_data_flow_spark.streaming.ingest import CorpusIngestor

    base = "the quick brown fox jumps over the lazy dog and then rests in the shade of a tall tree"
    near_txt = base.replace("tall tree", "tall oak")
    ing = CorpusIngestor(spark, str(tmp_path / "corpus"), quality_min_fp6=400_000, near_dup=True)
    b1 = spark.createDataFrame(
        [(1, base, "en", "s")], "doc_id long, text string, lang string, source string"
    )
    ing.ingest_batch(b1)
    b2 = spark.createDataFrame(
        [(30, near_txt, "en", "s")], "doc_id long, text string, lang string, source string"
    ).withColumn("digest", F.md5(F.col("text").cast("binary")))
    _, _, near = ing._near_dup_gate(b2)
    before = sorted((r.id_a, r.id_b) for r in near.collect())
    assert before == [(1, 30)]
    # mutate the store the lazy plan would have re-read, through the
    # store writer: a committed batch that adds a signature row
    with ing._stores.batch():
        ing._stores.write(
            "sigs",
            spark.createDataFrame(
                [tuple([999] + [0] * ing.num_hashes)], ing._stores.schemas["sigs"]
            ),
        )
    assert sorted((r.id_a, r.id_b) for r in near.collect()) == before
    # the verified pair set is a materialized leaf — no join re-runs
    assert "Join" not in near._jdf.queryExecution().analyzed().toString()


def test_run_ingest_live_near_dup_gate(spark, tmp_path):
    """Live phase with near_dup=True: a NEAR duplicate (different
    digest) of already-ingested content landing on a later tick is
    blocked via the persisted signature index."""
    import json as _json
    import time

    from actyxos_data_flow_spark.streaming.ingest import CorpusIngestor, run_ingest_live

    src = tmp_path / "src"
    src.mkdir()
    base = "the quick brown fox jumps over the lazy dog and then rests in the shade of a tall tree"
    near = base.replace("tall tree", "tall oak")
    novel = "a completely different story about ships and the open sea with many fine words in it today"
    (src / "f1.jsonl").write_text(
        _json.dumps({"doc_id": 1, "text": base, "lang": "en", "source": "s"})
    )
    seen = []
    q = run_ingest_live(
        spark, str(src), str(tmp_path / "corpus"), str(tmp_path / "ckpt"),
        quality_min_fp6=400_000, on_batch=seen.append, near_dup=True,
    )
    try:
        deadline = time.time() + 45
        while sum(s["accepted"] for s in seen) < 1 and time.time() < deadline:
            time.sleep(0.5)
        (src / "f2.jsonl").write_text(
            "\n".join(
                _json.dumps(d)
                for d in [
                    {"doc_id": 2, "text": near, "lang": "en", "source": "s"},
                    {"doc_id": 3, "text": novel, "lang": "en", "source": "s"},
                ]
            )
        )
        while sum(s["arrived"] for s in seen) < 3 and time.time() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()
    corpus = CorpusIngestor(spark, str(tmp_path / "corpus")).corpus()
    assert sorted(r.doc_id for r in corpus.collect()) == [1, 3]


def test_ingest_maintains_clusters_across_batches(spark, tmp_path):
    """Three mutually-similar docs arriving in three separate batches
    must end in ONE cluster label (the rejected near-dups included —
    their label is their provenance), singletons get their own label,
    and replaying a batch leaves the labeling unchanged."""
    from actyxos_data_flow_spark.streaming.ingest import CorpusIngestor

    base = "the quick brown fox jumps over the lazy dog and then rests in the shade of a tall tree"
    v2 = base.replace("tall tree", "tall oak")
    v3 = base.replace("lazy dog", "lazy cat")
    solo = "a completely different story about ships and the open sea with many fine words in it today"
    ing = CorpusIngestor(spark, str(tmp_path / "corpus"), quality_min_fp6=400_000, near_dup=True)

    def batch(rows):
        return spark.createDataFrame(
            [(i, t, "en", "s") for i, t in rows],
            "doc_id long, text string, lang string, source string",
        )

    assert ing.ingest_batch(batch([(1, base), (50, solo)]))["accepted"] == 2
    assert ing.ingest_batch(batch([(2, v2)]))["accepted"] == 0  # near-dup reject
    assert ing.ingest_batch(batch([(3, v3)]))["accepted"] == 0  # near-dup reject

    labels = {r["node"]: r["component"] for r in ing.clusters().collect()}
    assert labels[1] == labels[2] == labels[3] == 1  # one cluster, min-id label
    assert labels[50] == 50  # singleton keeps its own label
    assert set(labels) == {1, 2, 3, 50}

    # replay-idempotent: re-ingesting batch 3 (same content) must not
    # change the labeling (same epoch key, same merges)
    before = sorted(map(tuple, ing.clusters().collect()))
    ing.ingest_batch(batch([(3, v3)]))
    assert sorted(map(tuple, ing.clusters().collect())) == before


def test_vector_ingestor_gates_near_dup_embeddings(spark, tmp_path):
    """The embedding ingest gate: exact re-uploads drop via the value
    digest; a near-duplicate vector (cosine ≥ threshold vs ingested
    history) drops via the incremental hyperplane band probe; novel
    vectors append. Replay of a batch is idempotent."""
    import random

    from actyxos_data_flow_spark.streaming.ingest import VectorIngestor

    rnd = random.Random(11)
    base = [rnd.uniform(-1, 1) for _ in range(16)]
    near = [x * 1.0001 for x in base]  # cosine ~1 (scale-invariant)
    ortho = [rnd.uniform(-1, 1) for _ in range(16)]

    ing = VectorIngestor(spark, str(tmp_path / "vec"), dim=16, cosine_threshold=0.98)

    def batch(rows):
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    s1 = ing.ingest_batch(batch([(1, base), (2, ortho)]))
    assert s1 == {"arrived": 2, "accepted": 2}
    # batch 2: exact re-upload of 1, near-dup of 1, novel vector
    novel = [rnd.uniform(-1, 1) for _ in range(16)]
    s2 = ing.ingest_batch(batch([(10, list(base)), (11, near), (12, novel)]))
    assert s2 == {"arrived": 3, "accepted": 1}
    assert sorted(r.vec_id for r in ing.vectors().collect()) == [1, 2, 12]
    # replay the same batch: nothing new admitted
    s3 = ing.ingest_batch(batch([(10, list(base)), (11, near), (12, novel)]))
    assert s3["accepted"] == 0
    assert sorted(r.vec_id for r in ing.vectors().collect()) == [1, 2, 12]
    # intra-batch near-dups: smaller id wins
    a = [rnd.uniform(-1, 1) for _ in range(16)]
    s4 = ing.ingest_batch(batch([(21, [x * 1.0002 for x in a]), (20, a)]))
    assert s4["accepted"] == 1
    assert 20 in {r.vec_id for r in ing.vectors().collect()}


def test_run_vector_ingest_stream_files(spark, tmp_path):
    """VectorIngestor behind a Structured Streaming file source: two
    files drained availableNow; the near-dup in the second file is
    gated against the first file's ingested vectors."""
    import json as _json
    import random

    from actyxos_data_flow_spark.streaming.ingest import (
        VectorIngestor,
        run_vector_ingest_stream,
    )

    rnd = random.Random(5)
    base = [rnd.uniform(-1, 1) for _ in range(16)]
    src = tmp_path / "src"
    src.mkdir()
    (src / "f1.json").write_text(
        _json.dumps({"vec_id": 1, "embedding": base}) + "\n"
    )
    stats = run_vector_ingest_stream(
        spark, str(src), str(tmp_path / "store"), str(tmp_path / "ckpt"), dim=16
    )
    assert sum(s["accepted"] for s in stats) == 1

    novel = [rnd.uniform(-1, 1) for _ in range(16)]
    (src / "f2.json").write_text(
        _json.dumps({"vec_id": 2, "embedding": [x * 1.0001 for x in base]}) + "\n"
        + _json.dumps({"vec_id": 3, "embedding": novel}) + "\n"
    )
    stats = run_vector_ingest_stream(
        spark, str(src), str(tmp_path / "store"), str(tmp_path / "ckpt"), dim=16
    )
    assert sum(s["accepted"] for s in stats) == 1  # near-dup gated, novel kept
    got = sorted(
        r.vec_id
        for r in VectorIngestor(spark, str(tmp_path / "store"), dim=16).vectors().collect()
    )
    assert got == [1, 3]


def test_ingest_maintains_inverted_index(spark, tmp_path):
    """Postings maintained incrementally across ingest batches must
    score IDENTICALLY to a from-scratch index over the final corpus
    (tf is doc-local; df/N/Σdl aggregate at query time), including
    after a cross-batch duplicate is gated out."""
    from actyxos_data_flow_spark.operators.retrieval import bm25_topk, build_postings
    from actyxos_data_flow_spark.streaming.ingest import CorpusIngestor

    ing = CorpusIngestor(spark, str(tmp_path / "c"), quality_min_fp6=0, postings=True)
    b1 = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and the cat slept"),
            (2, "dogs chase the cat around the big green yard"),
        ],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [
            (3, "the cat sat on the mat and the cat slept"),  # dup of 1 -> gated
            (4, "a bird watches the cat from the old oak tree"),
        ],
        "doc_id long, text string",
    )
    s1 = ing.ingest_batch(b1)
    s2 = ing.ingest_batch(b2)
    assert s1["accepted"] == 2 and s2["accepted"] == 1

    # maintained index == rebuilt index, row for row
    rebuilt_post, rebuilt_dl = build_postings(ing.corpus())
    assert sorted(map(tuple, ing.postings().collect())) == sorted(
        map(tuple, rebuilt_post.collect())
    )
    assert sorted(map(tuple, ing.doclens().collect())) == sorted(
        map(tuple, rebuilt_dl.collect())
    )

    # and search over it == one-shot bm25 over the corpus
    maintained = sorted(map(tuple, ing.search(["cat", "mat"], k=5).collect()))
    oneshot = sorted(map(tuple, bm25_topk(ing.corpus(), ["cat", "mat"], k=5).collect()))
    assert maintained == oneshot and len(maintained) == 3


def test_ingest_maintains_cms_sketch(spark, tmp_path):
    """Per-batch count-min partials merged by sum must equal a
    from-scratch sketch over the final corpus, and estimates from the
    maintained sketch never undershoot exact counts."""
    from pyspark.sql import functions as F

    from actyxos_data_flow_spark.operators.cms import cms_build, cms_estimate
    from actyxos_data_flow_spark.operators.retrieval import _tokens
    from actyxos_data_flow_spark.streaming.ingest import CorpusIngestor

    ing = CorpusIngestor(spark, str(tmp_path / "c"), quality_min_fp6=0, postings=True)
    ing.ingest_batch(
        spark.createDataFrame(
            [(1, "alpha beta alpha"), (2, "beta gamma delta")],
            "doc_id long, text string",
        )
    )
    ing.ingest_batch(
        spark.createDataFrame([(3, "alpha delta delta")], "doc_id long, text string")
    )

    tokens = ing.corpus().select(F.explode(_tokens("text")).alias("term"))
    rebuilt = sorted(map(tuple, cms_build(tokens).collect()))
    maintained = sorted(map(tuple, ing.cms_sketch().collect()))
    assert maintained == rebuilt

    cand = tokens.distinct().withColumnRenamed("term", "term")
    est = {r["term"]: r["est"] for r in cms_estimate(ing.cms_sketch(), cand).collect()}
    exact = {r["term"]: r["cnt"] for r in tokens.groupBy("term").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert all(est[t] >= c for t, c in exact.items())


def test_ingest_batch_drift_gate(spark, tmp_path):
    """Per-batch drift against the maintained index: a same-mix batch
    scores near 0, a disjoint-vocabulary batch near ln(2) — the
    quarantine signal for a drifted source."""
    import math

    from actyxos_data_flow_spark.streaming.ingest import CorpusIngestor

    ing = CorpusIngestor(spark, str(tmp_path / "c"), quality_min_fp6=0, postings=True)
    ing.ingest_batch(
        spark.createDataFrame(
            [(1, "alpha beta gamma alpha"), (2, "beta gamma alpha beta")],
            "doc_id long, text string",
        )
    )
    same = ing.batch_drift(
        spark.createDataFrame([(9, "alpha beta gamma beta")], "doc_id long, text string")
    ).collect()[0]
    far = ing.batch_drift(
        spark.createDataFrame([(9, "zz yy xx ww")], "doc_id long, text string")
    ).collect()[0]
    assert same["jsd"] < 0.05
    assert abs(far["jsd"] - math.log(2)) < 1e-5


def test_ingest_epoch_time_travel(spark, tmp_path):
    """Time travel on any ingestor: corpus_asof(n) returns exactly the
    post-batch-n state, reading only the batch directories up to n (the
    scan's input files prove snapshots cost snapshot-sized I/O)."""
    from actyxos_data_flow_spark.streaming.ingest import CorpusIngestor

    ing = CorpusIngestor(spark, str(tmp_path / "c"), quality_min_fp6=0)
    for i, text in enumerate(
        ["first doc alpha beta", "second doc gamma delta", "third doc epsilon zeta"]
    ):
        ing.ingest_batch(
            spark.createDataFrame([(i + 1, text)], "doc_id long, text string")
        )
    assert ing.current_epoch() == 3

    assert sorted(r.doc_id for r in ing.corpus_asof(1).collect()) == [1]
    assert sorted(r.doc_id for r in ing.corpus_asof(2).collect()) == [1, 2]
    assert sorted(r.doc_id for r in ing.corpus_asof(3).collect()) == [1, 2, 3]
    assert sorted(r.doc_id for r in ing.corpus().collect()) == [1, 2, 3]
    assert "_b" not in ing.corpus().columns

    files = ing.corpus_asof(1).inputFiles()
    assert files and all("/docs/_b=1/" in f for f in files)

    # a duplicate replayed later never reaches a historical snapshot
    ing.ingest_batch(
        spark.createDataFrame([(9, "first doc alpha beta")], "doc_id long, text string")
    )
    assert ing.current_epoch() == 3  # nothing accepted, no new epoch
    assert sorted(r.doc_id for r in ing.corpus_asof(3).collect()) == [1, 2, 3]


def test_ingest_maintains_hll_registers(spark, tmp_path):
    """Per-batch HLL registers merged by max must equal a from-scratch
    sketch over the final corpus's tokens (max is the monoid), and the
    512-byte estimate lands within the 3-sigma band of the exact
    distinct-term count."""
    from pyspark.sql import functions as F

    from actyxos_data_flow_spark.operators.hll import hll_registers
    from actyxos_data_flow_spark.operators.retrieval import _tokens
    from actyxos_data_flow_spark.streaming.ingest import CorpusIngestor

    ing = CorpusIngestor(spark, str(tmp_path / "c"), quality_min_fp6=0, postings=True)
    ing.ingest_batch(
        spark.createDataFrame(
            [(1, "alpha beta alpha"), (2, "beta gamma delta")],
            "doc_id long, text string",
        )
    )
    ing.ingest_batch(
        spark.createDataFrame([(3, "alpha delta epsilon")], "doc_id long, text string")
    )

    tokens = ing.corpus().select(F.explode(_tokens("text")).alias("term"))
    rebuilt = sorted(map(tuple, hll_registers(tokens, "term").collect()))
    maintained = sorted(map(tuple, ing.hll_sketch().collect()))
    assert maintained == rebuilt

    est = ing.distinct_terms_estimate().collect()[0]["hll_est"]
    exact = tokens.distinct().count()  # 5
    assert abs(est - exact) <= max(0.39 * exact, 1.0)


def test_ingest_maintains_hdr_doclen_sketch(spark, tmp_path):
    """Per-batch HDR bucket counts merged by sum equal a from-scratch
    histogram over the corpus doc lengths, and the maintained p50 is
    within the 2^-5 relative bound of the exact median length."""
    from pyspark.sql import functions as F

    from actyxos_data_flow_spark.operators.quantiles import HDR_K, hdr_build
    from actyxos_data_flow_spark.operators.retrieval import _tokens
    from actyxos_data_flow_spark.streaming.ingest import CorpusIngestor

    ing = CorpusIngestor(spark, str(tmp_path / "c"), quality_min_fp6=0, postings=True)
    ing.ingest_batch(
        spark.createDataFrame(
            [(1, "a b c"), (2, "a b c d e f g h")], "doc_id long, text string"
        )
    )
    ing.ingest_batch(
        spark.createDataFrame([(3, "a b c d e")], "doc_id long, text string")
    )

    lens = ing.corpus().select(F.size(_tokens("text")).cast("long").alias("dl"))
    rebuilt = sorted(map(tuple, hdr_build(lens, "dl").collect()))
    maintained = sorted(map(tuple, ing.doclen_sketch().collect()))
    assert maintained == rebuilt

    p50 = {r["q"]: r["est"] for r in ing.doclen_quantiles([0.5]).collect()}[0.5]
    exact = 5  # lengths 3, 5, 8 -> median 5
    assert p50 <= exact and (exact - p50) * (1 << HDR_K) <= exact


def test_windowed_distinct_hll_matches_batch(spark, tmp_path):
    """Streamed per-window HLL registers (watermarked, append-safe
    max-monoid state) equal a batch build over the same events grouped
    by the same windows, and the per-window estimates are exact in the
    linear-counting regime for small distinct counts."""
    import os as _os
    import time as _time

    from pyspark.sql import functions as F

    from actyxos_data_flow_spark.operators.hll import hll_estimate, hll_registers
    from actyxos_data_flow_spark.streaming.windows import windowed_distinct_hll

    rows = [
        ("u1", "2024-01-01 10:00:05"),
        ("u2", "2024-01-01 10:00:25"),
        ("u1", "2024-01-01 10:00:45"),  # dup in window 1
        ("u3", "2024-01-01 10:01:10"),
        ("u4", "2024-01-01 10:01:20"),
        ("u5", "2024-01-01 10:01:30"),
    ]
    src = str(tmp_path / "hsrc")
    d = src + "/b=1"
    spark.createDataFrame(rows, "uid string, ts string").selectExpr(
        "uid", "cast(ts as timestamp) ts"
    ).coalesce(1).write.parquet(d)
    for f in _os.listdir(d):
        _os.utime(_os.path.join(d, f), (_time.time() - 30,) * 2)

    stream = spark.readStream.schema("uid string, ts timestamp").parquet(src + "/b=*")
    out = windowed_distinct_hll(stream, "ts", "uid", window="1 minute")

    got = []

    def record(df, bid):
        got.extend(map(tuple, df.select("window_start", "idx", "r").collect()))

    q = (
        out.writeStream.foreachBatch(record)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "hckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    batch = spark.createDataFrame(rows, "uid string, ts string").selectExpr(
        "uid", "cast(ts as timestamp) ts"
    )
    expect = (
        hll_registers(
            batch.select(F.window("ts", "1 minute").alias("w"), "uid"), "uid", "w"
        )
        .select(F.col("w.start").alias("window_start"), "idx", "r")
    )
    assert sorted(got) == sorted(map(tuple, expect.collect()))

    # estimates: 2 distinct in 10:00, 3 in 10:01 (linear counting -> near-exact)
    regs = spark.createDataFrame(
        [(str(w), i, r) for w, i, r in got], "w string, idx long, r int"
    )
    est = {r["w"]: r["hll_est"] for r in hll_estimate(regs, "w").collect()}
    assert abs(est["2024-01-01 10:00:00"] - 2) < 0.1
    assert abs(est["2024-01-01 10:01:00"] - 3) < 0.2


def test_ingest_maintains_positional_index(spark, tmp_path):
    """Phrase search over the incrementally-maintained positional index
    equals a from-scratch phrase search over the final corpus."""
    from actyxos_data_flow_spark.operators.retrieval import phrase_search
    from actyxos_data_flow_spark.streaming.ingest import CorpusIngestor

    ing = CorpusIngestor(
        spark, str(tmp_path / "c"), quality_min_fp6=0, postings=True, positional=True
    )
    ing.ingest_batch(
        spark.createDataFrame(
            [(1, "red fox jumps red fox"), (2, "fox red jumps")],
            "doc_id long, text string",
        )
    )
    ing.ingest_batch(
        spark.createDataFrame([(3, "the red fox sleeps")], "doc_id long, text string")
    )

    maintained = sorted(map(tuple, ing.phrase_search(["red", "fox"]).collect()))
    oneshot = sorted(map(tuple, phrase_search(ing.corpus(), ["red", "fox"]).collect()))
    assert maintained == oneshot
    assert {t[0]: t[1] for t in maintained} == {1: 2, 3: 1}


def test_interval_join_operator_stream_matches_batch(spark, tmp_path):
    """streaming/joins.interval_join: the SAME operator call runs on two
    real file streams (availableNow, watermarked state) and on the batch
    frames — identical join results, late-beyond-horizon rows excluded
    by the condition in both."""
    import os as _os
    import time as _time

    import pyspark.sql.functions as F

    from actyxos_data_flow_spark.streaming.joins import interval_join

    left_src = str(tmp_path / "purch")
    right_src = str(tmp_path / "clicks")

    def write(base, i, rows):
        d = base + f"/b={i}"
        spark.createDataFrame(rows, "id long, user_id long, ts string").selectExpr(
            "id", "user_id", "cast(ts as timestamp) ts"
        ).coalesce(1).write.parquet(d)
        for f in _os.listdir(d):
            _os.utime(_os.path.join(d, f), (_time.time() - 60 + i,) * 2)

    write(left_src, 1, [(100, 7, "2024-01-01 10:30:00"), (101, 8, "2024-01-01 11:00:00")])
    write(left_src, 2, [(102, 7, "2024-01-01 12:00:00")])
    write(right_src, 1, [(1, 7, "2024-01-01 10:00:00"), (2, 8, "2024-01-01 09:00:00")])
    write(right_src, 2, [(3, 7, "2024-01-01 11:55:00"), (4, 7, "2024-01-01 12:30:00")])

    def frames(streaming):
        if streaming:
            p = spark.readStream.schema("id long, user_id long, ts timestamp").parquet(
                left_src + "/b=*"
            )
            c = spark.readStream.schema("id long, user_id long, ts timestamp").parquet(
                right_src + "/b=*"
            )
        else:
            p = spark.read.parquet(left_src + "/b=*")
            c = spark.read.parquet(right_src + "/b=*")
        p = p.withColumnRenamed("id", "pid").withColumnRenamed("ts", "p_ts")
        c = c.withColumnRenamed("id", "cid").withColumnRenamed("ts", "c_ts")
        return interval_join(
            p, c, key="user_id", left_ts="p_ts", right_ts="c_ts",
            lower="1 HOUR", upper="0 SECONDS", watermark="2 hours",
        ).select("pid", "cid")

    got: list[tuple] = []

    q = (
        frames(streaming=True)
        .writeStream.foreachBatch(
            lambda df, bid: got.extend((r.pid, r.cid) for r in df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    batch = sorted((r.pid, r.cid) for r in frames(streaming=False).collect())
    assert sorted(got) == batch
    # semantics spot-check: purchase 100 attributes to click 1 (10:00 in
    # its 1h window); click 2 (09:00) is outside purchase 101's window;
    # purchase 102 matches click 3 (11:55) but NOT click 4 (after it)
    assert batch == [(100, 1), (102, 3)]
