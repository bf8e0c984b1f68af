#!/usr/bin/env python3
"""Benchmark of the event log → view → exactly-once SQLite path, with a
cold registry query as its control.

    python3 perfbench/run.py --workload ivm --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run is one Python process with one
Spark JVM on ``local[<cores>]``, driven from one thread in a closed loop.
Inputs come from ``perfbench/gen.py`` and are cached per seed under
``.perfbench/inputs``; building them is not part of ``setup_s``. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with ``--trace 1``
the per-layer metrics). ``--smoke`` runs the same harness on tiny inputs.
See perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

WORKLOADS = ("ivm", "batch_queries")
QUERIES = ("dedup_minhash_pairs",)
LIFECYCLE = "mutable_ingest"
# (span, seconds metric, jobs metric): self time and own jobs per op
LAYERS = (
    ("runner.bounds", "runner.bounds_s", None),
    ("writer.write_snapshots", "writer.diff_s", "writer.diff_jobs"),
    ("delta.collect", "delta.collect_s", "delta.collect_jobs"),
    ("mirror.write", "mirror.write_s", "mirror.write_jobs"),
    ("mirror.read", "mirror.read_s", None),
    ("mirror.prune", "mirror.prune_s", None),
    ("sink.commit", "sink.commit_s", None),
    ("ingest.ingest_batch", "ingest.ingest_batch_s", None),
    ("ingest.retract_batch", "ingest.retract_batch_s", None),
    ("ingest.upsert_batch", "ingest.upsert_batch_s", None),
)
INGEST_SPANS = ("ingest.ingest_batch", "ingest.retract_batch", "ingest.upsert_batch")


# Seconds of ``--seconds`` per round. ``--seconds`` is turned into a
# fixed number of whole rounds, so the parent and a change do the same
# work and sample the same epochs however fast either runs. At 10 s an
# ivm run times one round, four epochs through each runner (about 20 s
# on a 4-core host), and a batch_queries run three passes (about 30 s):
# the JVM's warm-up still lowers each call's cost through the third pass
# after the untimed one, and the cheapest run of each call is taken from
# the timed passes.
ROUND_SECONDS = {"ivm": 10.0, "batch_queries": 3.0}


class Config:
    """Input sizes and loop shape. ``smoke`` shrinks everything so the
    harness can be checked in well under a minute."""

    def __init__(self, smoke: bool):
        self.epoch_events = 1000  # the reference's events_per_txn default
        self.history = 2_000 if smoke else 50_000
        self.warmup_epochs = 1
        self.warmup_passes = 0 if smoke else 1
        self.round_epochs = 2 if smoke else 4
        self.max_rounds = 1 if smoke else 12
        self.file_events = 1_000 if smoke else 20_000
        self.documents = 200 if smoke else 500

    def rounds(self, workload: str, seconds: float) -> int:
        return min(self.max_rounds, max(1, int(seconds / ROUND_SECONDS[workload])))

    @property
    def log_events(self) -> int:
        epochs = self.warmup_epochs + self.max_rounds * self.round_epochs
        return self.history + epochs * self.epoch_events


# -- process accounting (reads /proc of this process and its JVM) --------

_TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(d))
            except (OSError, IndexError, ValueError):
                continue
    return out


def _proc_cpu(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return (int(fields[11]) + int(fields[12])) / _TICK


def _host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole host, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Usage:
    """Counters read around the timed phase: CPU of the driver, the JVM
    and the JVM's Python workers; peak RSS of the driver plus the JVM;
    Spark's count of generated-code compilations; the host's steal share."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics

    def cpu_s(self) -> float:
        own = os.times()
        total = own.user + own.system + _proc_cpu(self.jvm_pid)
        stack = _children(self.jvm_pid)
        while stack:
            pid = stack.pop()
            total += _proc_cpu(pid)
            stack.extend(_children(pid))
        return total

    def peak_rss_mb(self) -> float:
        return _hwm_mb(os.getpid()) + _hwm_mb(self.jvm_pid)

    def compiles(self) -> int:
        return int(self._codegen.METRIC_COMPILATION_TIME().getCount())

    @contextmanager
    def timed(self, result: dict):
        """Record the timed phase's start, and its CPU, compilations and
        the peak RSS reached by its end, into ``result``."""
        cpu0, compiles0, (steal0, total0) = self.cpu_s(), self.compiles(), _host_ticks()
        result["setup_end"] = time.perf_counter()
        yield
        result["timed_end"] = time.perf_counter()
        result["timed_cpu_s"] = self.cpu_s() - cpu0
        result["codegen_compiles"] = self.compiles() - compiles0
        result["peak_rss_mb"] = self.peak_rss_mb()
        steal, total = _host_ticks()
        # CPU time the hypervisor gave to other guests: wall-clock
        # figures from runs with a high share are not comparable
        result["host_steal_share"] = (steal - steal0) / max(1, total - total0)


# -- inputs ---------------------------------------------------------------


def build_inputs(cfg: Config, workload: str, seed: int, inputs_root: str) -> str:
    """Generate (once per seed and size) the inputs the program reads;
    returns their directory. Built in a temporary directory and renamed,
    so an interrupted build is never reused."""
    import gen

    if workload == "batch_queries":
        key = f"documents-seed{seed}-n{cfg.documents}"
    else:
        key = f"log-seed{seed}-n{cfg.log_events}-f{cfg.file_events}"
    out = os.path.join(inputs_root, key)
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    if workload == "batch_queries":
        gen.write_documents(tmp, seed, cfg.documents)
    else:
        gen.write_log(tmp, seed, cfg.log_events, cfg.file_events)
    try:
        os.rename(tmp, out)
    except OSError:  # built concurrently by another run: keep theirs
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# -- Spark session --------------------------------------------------------


def start_spark(work: str, log_dir: str):
    """The program's own session factory on local[<cores>], with the
    event log on and every scratch directory inside ``work``."""
    from spans import event_log_confs

    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp, log_dir):
        os.makedirs(d, exist_ok=True)
    confs = dict(event_log_confs(log_dir))
    confs["spark.local.dir"] = local
    confs["spark.sql.warehouse.dir"] = os.path.join(work, "warehouse")
    confs["spark.driver.extraJavaOptions"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell"
    )
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")

    from actyxos_data_flow_spark.session import get_spark

    spark = get_spark("perfbench")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait(timeout=30)


# -- helpers ---------------------------------------------------------------


class Patches:
    """Attribute replacements undone in reverse order."""

    def __init__(self):
        self._saved: list[tuple[object, str, object]] = []

    def set(self, obj, attr: str, value) -> None:
        self._saved.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, value)

    def undo(self) -> None:
        while self._saved:
            obj, attr, value = self._saved.pop()
            setattr(obj, attr, value)


def median(xs):
    return statistics.median(xs) if xs else 0.0


# -- the ivm workload --------------------------------------------------------


def _reference_views():
    """machine-dashboard and machine-usage, as shipped in ``examples/``."""
    sys.path.insert(0, os.path.join(ROOT, "examples"))
    import machine_dashboard
    import machine_usage

    return [
        (machine_dashboard.TABLE, machine_dashboard.build_view),
        (machine_usage.TABLE, machine_usage.build_view),
    ]


def _sum_table():
    from actyxos_data_flow_spark.sinks import DbColumn, DbTable

    return DbTable(
        name="user_type_sum",
        columns=(
            DbColumn("user_id", "bigint", index=True),
            DbColumn("event_type", "text not null"),
            DbColumn("total", "bigint"),
            DbColumn("_n", "bigint"),
        ),
        version=1,
    )


def _timed_epochs(run_batch, times: list, tracer, call: str):
    """``run_batch`` that appends each epoch's wall time to ``times`` and
    tags the epoch's jobs as op ``<epoch>/<call>``."""

    def timed(evs, upto):
        t = time.perf_counter()
        with tracer.op(f"{len(times)}/{call}"), tracer.span("runner.epoch"):
            n = run_batch(evs, upto)
        times.append(time.perf_counter() - t)
        return n

    return timed


def _recorded_commits(advance_offsets, shipped: list, tracer):
    """``advance_offsets`` that keeps each committed delta batch."""

    def advance(deltas, offsets, *args, **kwargs):
        deltas = {t: b if isinstance(b, list) else list(b) for t, b in deltas.items()}
        shipped.append({t.name: b for t, b in deltas.items()})
        with tracer.span("sink.commit", delta_rows=sum(len(b) for b in deltas.values())):
            return advance_offsets(deltas, offsets, *args, **kwargs)

    return advance


def _delta_bound_violations(shipped: list, tables) -> int:
    """Commits that ship more than two delta rows (one retraction, one
    insertion) for one key of a table."""
    key_pos = {
        t.name: [[c.name for c in t.written_columns].index(k) for k in keys] for t, _, keys in tables
    }
    violations = 0
    for batch in shipped:
        bad = False
        for name, rows in batch.items():
            per_key: dict = {}
            for row, mult in rows:
                k = tuple(row[i] for i in key_pos[name])
                per_key[k] = per_key.get(k, 0) + abs(mult)
            bad |= any(v > 2 for v in per_key.values())
        violations += bad
    return violations


def _runners(spark, work: str):
    """The two incremental runners, each into its own SQLite file and
    mirror: (call, runner, sink, offsets spec, tables), where tables are
    (table, oracle SQL, key of the delta-row bound)."""
    from pyspark.sql import functions as F

    import oracle
    from actyxos_data_flow_spark.sinks import SqliteSink
    from actyxos_data_flow_spark.streaming import runner as runner_mod

    views = _reference_views()
    sink = SqliteSink(os.path.join(work, "recompute.sqlite"))
    recompute = runner_mod.IncrementalRunner.for_union(
        spark, sink, views, mirror_dir=os.path.join(work, "mirror-recompute")
    )
    tables = [
        (views[0][0], oracle.dashboard_sql, ("user_id",)),
        (views[1][0], oracle.usage_sql, ("user_id", "order_id", "started_micros")),
    ]
    out = [("recompute", recompute, sink, recompute.spec, tables)]

    spec = _sum_table()
    sink = SqliteSink(os.path.join(work, "delta_agg.sqlite"))
    agg = runner_mod.IncrementalAggRunner(
        spark,
        sink,
        spec,
        keys=["user_id", "event_type"],
        val_col="val",
        out_col="total",
        prepare=lambda df: df.select("user_id", "event_type", F.col("value").cast("long").alias("val")),
        mirror_dir=os.path.join(work, "mirror-delta_agg"),
    )
    out.append(("delta_agg", agg, sink, spec, [(spec, oracle.sum_sql, ("user_id", "event_type"))]))
    return out


def run_ivm(spark, tracer, log_root, work, cfg, seconds, result):
    """Both incremental runners on one event log: ``IncrementalRunner``
    recomputing the two reference views, and ``IncrementalAggRunner``
    keeping a grouped SUM. Setup commits the history through each in one
    epoch and warms each up with one more; each timed round then drains
    the next ``round_epochs`` epochs through each runner's own
    ``catch_up`` loop, the recompute runner first. An op is one
    1,000-event epoch, committed by both runners."""
    from pyspark.sql import functions as F

    import oracle
    from actyxos_data_flow_spark.sinks import writer as writer_mod
    from actyxos_data_flow_spark.sources import load_table
    from actyxos_data_flow_spark.streaming import runner as runner_mod

    os.makedirs(work, exist_ok=True)
    runners = _runners(spark, work)
    events = load_table(spark, log_root, "events")

    # per-epoch times and the shipped delta batches, recorded at the
    # runners' and the sinks' public entry points
    epochs: dict[str, list[float]] = {call: [] for call, *_ in runners}
    shipped: dict[str, list[dict]] = {call: [] for call, *_ in runners}
    patches = Patches()
    for call, runner, sink, _, _ in runners:
        patches.set(runner, "run_batch", _timed_epochs(runner.run_batch, epochs[call], tracer, call))
        patches.set(sink, "advance_offsets", _recorded_commits(sink.advance_offsets, shipped[call], tracer))
        if tracer.enabled:
            for name, attr in (("mirror.write", "write"), ("mirror.read", "read_previous"), ("mirror.prune", "prune")):
                patches.set(runner.mirror, attr, tracer.wrap(name, getattr(runner.mirror, attr)))
    if tracer.enabled:
        patches.set(runner_mod, "batch_bounds", tracer.wrap("runner.bounds", runner_mod.batch_bounds))
        patches.set(
            runner_mod, "write_snapshots", tracer.wrap("writer.write_snapshots", runner_mod.write_snapshots)
        )
        patches.set(writer_mod, "deltas_to_rows", tracer.wrap("delta.collect", writer_mod.deltas_to_rows))

    ev = cfg.epoch_events
    head = cfg.history - 1 + cfg.warmup_epochs * ev
    with tracer.phase("setup"):
        for _, runner, *_ in runners:
            with tracer.span("setup.history"):
                runner.run_batch(events, cfg.history - 1)
            with tracer.span("setup.warmup"):
                runner.catch_up(events.filter(F.col("event_id") <= head), ev)
    for xs in (*epochs.values(), *shipped.values()):
        xs.clear()

    rounds = cfg.rounds("ivm", seconds)
    with result["usage"].timed(result), tracer.phase("timed"):
        for _ in range(rounds):
            head += cfg.round_epochs * ev
            upto = events.filter(F.col("event_id") <= head)
            for _, runner, *_ in runners:
                with tracer.span("round"):
                    runner.catch_up(upto, ev)
    n_epochs = rounds * cfg.round_epochs
    for call, *_ in runners:
        if len(epochs[call]) != n_epochs or len(shipped[call]) != n_epochs:
            raise RuntimeError(
                f"{call}: expected {n_epochs} epochs and commits, "
                f"got {len(epochs[call])} and {len(shipped[call])}"
            )
    result["op_times"] = [sum(ts) for ts in zip(*epochs.values())]
    result["delta_rows"] = sum(len(b) for xs in shipped.values() for batch in xs for b in batch.values())
    violations = sum(_delta_bound_violations(shipped[call], tables) for call, *_, tables in runners)

    checks: dict[str, bool] = {}
    with tracer.phase("check"):
        for call, runner, sink, spec, tables in runners:
            for t, sql_fn, _ in tables:
                got, want = sink.rows(t), oracle.duck_rows(sql_fn(log_root, head))
                extra, missing = oracle.multiset_diff(got, want)
                checks[f"oracle_{t.name}"] = extra == 0 and missing == 0
            checks[f"{call}_offsets_at_head"] = sink.read_offsets(spec).get("events") == head
            retry = runner.run_batch(events.filter(F.col("event_id") <= head), head)
            checks[f"{call}_retry_applies_nothing"] = retry == 0
    patches.undo()

    # every epoch each runner commits is an operation, and so is each check
    result["attempted"] = len(runners) * n_epochs + len(checks)
    result["failed"] = violations + sum(not ok for ok in checks.values())
    result["checks"] = checks
    result["ops"] = n_epochs


# -- the batch workload ----------------------------------------------------


def _ingest_lifecycle(spark, tracer, docs, store_dir: str):
    """ingest → retract → upsert through a fresh ``MutableCorpusIngestor``
    (exact-dup gate only, the class default). The script must match
    ``oracle.lifecycle_sql``. Returns the ingestor, read back at check
    time."""
    from pyspark.sql import functions as F

    from actyxos_data_flow_spark.streaming.mutable import MutableCorpusIngestor

    doc_id = F.col("doc_id")
    ing = MutableCorpusIngestor(spark, store_dir)
    with tracer.span("ingest.ingest_batch"):
        ing.ingest_batch(docs.filter(doc_id % 2 == 0))
    with tracer.span("ingest.retract_batch"):
        ing.retract_batch(docs.filter(doc_id % 5 == 0).select("doc_id"))
    revised = docs.filter(doc_id % 4 == 0).withColumn("text", F.concat(F.col("text"), F.lit(" (rev 2)")))
    with tracer.span("ingest.upsert_batch"):
        ing.upsert_batch(docs.filter(doc_id % 2 == 1).unionByName(revised))
    return ing


def run_batch_queries(spark, tracer, tables_dir, work, cfg, seconds, result):
    """Whole cold passes, each one run of every query and one ingest
    lifecycle on a fresh store, with caches cleared before each. Setup
    runs one untimed pass first, so the timed passes do not pay the
    JVM's and the code generator's warm-up. Results are checked against
    their oracles at the end."""
    import bench
    import oracle
    from actyxos_data_flow_spark.plans import load_all
    from actyxos_data_flow_spark.sources import load_table

    registry = load_all()
    docs = load_table(spark, tables_dir, "documents").select("doc_id", "text")

    def cold_pass(n: int) -> list[tuple[str, float, object]]:
        """(op, seconds, (cols, rows) | ingestor | error) per op."""
        out = []
        for name in (*QUERIES, LIFECYCLE):
            bench._clear_spark_caches(spark)
            t = time.perf_counter()
            try:
                with tracer.op(f"{n}/{name}"):
                    if name == LIFECYCLE:
                        res = _ingest_lifecycle(spark, tracer, docs, os.path.join(work, f"store{n}"))
                    else:
                        with tracer.span(f"query.{name}"):
                            df = registry[name].fn(spark, tables_dir)
                            res = (df.columns, [tuple(r) for r in df.collect()])
            except Exception as e:  # noqa: BLE001 — a failing op is a failed operation
                res = f"{type(e).__name__}: {e}"
            out.append((name, time.perf_counter() - t, res))
        return out

    with tracer.phase("setup"):
        for _ in range(cfg.warmup_passes):
            cold_pass(0)
    runs: list[tuple[str, float, object]] = []
    passes = cfg.rounds("batch_queries", seconds)
    with result["usage"].timed(result), tracer.phase("timed"):
        for i in range(passes):
            runs += cold_pass(i + 1)

    with tracer.phase("check"):
        want = oracle.table_oracles(tables_dir, {q: registry[q].oracle for q in QUERIES})
        corpus = oracle.duck_rows(oracle.lifecycle_sql(tables_dir))
        failed = 0
        mismatches: dict[str, str] = {}
        for name, _, out in runs:
            if isinstance(out, str):
                failed += 1
                mismatches[name] = out[:300]
            elif name == LIFECYCLE:
                got = [tuple(r) for r in out.corpus().select("doc_id", "text").collect()]
                extra, missing = oracle.multiset_diff(got, corpus)
                if extra or missing:
                    failed += 1
                    mismatches[name] = f"{extra} rows not in the oracle, {missing} missing"
            else:
                cols, rows = out
                n, wcols, whash = want[name]
                if len(rows) != n or sorted(cols) != sorted(wcols) or oracle.value_hash(rows, cols) != whash:
                    failed += 1
                    mismatches[name] = f"rows {len(rows)} vs oracle {n}"
    ops = (*QUERIES, LIFECYCLE)
    result["attempted"] = len(runs)
    result["failed"] = failed
    result["checks"] = {"mismatches": mismatches}
    result["ops"] = passes
    result["op_times"] = [sum(d for _, d, _ in runs[i : i + len(ops)]) for i in range(0, len(runs), len(ops))]
    result["query_times"] = {q: [d for n, d, _ in runs if n == q] for q in ops}


# -- metrics ---------------------------------------------------------------


def end_to_end(result, jobs, stages) -> dict:
    """``executor_cpu_s`` is, for each call an op makes (each runner's
    epoch, or each call of a pass), the executor CPU of its cheapest timed run,
    summed, plus an equal share of the timed work between ops
    (``batch_bounds``): other guests on a shared host only ever add CPU
    time to a call, so the least disturbed run of it estimates the
    program's cost best."""
    from spans import aggregate

    ops = max(1, result["ops"])
    phase = f"{result['workload']}/timed"
    timed = aggregate(stages, key=lambda s: s["phase"], jobs=jobs).get(phase, {})
    per_op = aggregate([s for s in stages if s["phase"] == phase], key=lambda s: s["op"])
    between = per_op.pop(None, {}).get("executor_cpu_ms", 0.0)
    # op tags read "<epoch>/<runner>" (ivm) or "<pass>/<call>" (batch_queries)
    cheapest: dict[str, float] = {}
    for tag, a in per_op.items():
        call = tag.partition("/")[2]
        cheapest[call] = min(cheapest.get(call, float("inf")), a["executor_cpu_ms"])
    result["op_cpu_s"] = {k: round(a["executor_cpu_ms"] / 1000, 3) for k, a in sorted(per_op.items())}
    return {
        "setup_s": result["setup_end"] - result["setup_start"],
        "executor_cpu_s": (sum(cheapest.values()) + between / ops) / 1000.0,
        "spark_jobs": timed.get("jobs", 0) / ops,
        "shuffle_mb": timed.get("shuffle_write_bytes", 0) / 1e6 / ops,
    }


def per_layer(result, tracer, jobs, stages) -> dict:
    """Per-layer metrics from the timed phase's spans; a layer the
    workload does not exercise reads 0."""
    from spans import aggregate

    spans = [s for s in tracer.spans if s.attrs.get("phase") == f"{result['workload']}/timed"]
    own = tracer.self_times()
    by_span = aggregate(stages, key=lambda s: s["span"], jobs=jobs)
    parent = {s.id: s.parent for s in tracer.spans}

    def inclusive(span_id: int) -> dict:
        """Counters of the span and every span under it."""
        total = {"jobs": 0, "executor_cpu_ms": 0.0, "shuffle_write_bytes": 0, "task_skew": 1.0}
        for sid, a in by_span.items():
            if sid is None:
                continue
            cur: int | None = int(sid)
            while cur is not None and cur != span_id:
                cur = parent[cur]
            if cur == span_id:
                for k in ("jobs", "executor_cpu_ms", "shuffle_write_bytes"):
                    total[k] += a[k]
                total["task_skew"] = max(total["task_skew"], a["task_skew"])
        return total

    def self_jobs(name: str) -> int:
        return sum(by_span.get(str(s.id), {}).get("jobs", 0) for s in spans if s.name == name)

    def self_s(name: str) -> float:
        return sum(own[s.id] for s in spans if s.name == name)

    # per op: an epoch of both runners on ivm, a pass on batch_queries
    ops = max(1, result["ops"])
    m: dict[str, float] = {
        "runner.epoch_jobs": sum(inclusive(s.id)["jobs"] for s in spans if s.name == "runner.epoch") / ops
    }
    for span_name, s_metric, jobs_metric in LAYERS:
        m[s_metric] = self_s(span_name) / ops
        if jobs_metric:
            m[jobs_metric] = self_jobs(span_name) / ops
    m["sink.delta_rows"] = result.get("delta_rows", 0) / ops
    m["ingest.jobs"] = sum(self_jobs(name) for name in INGEST_SPANS) / ops
    m["codegen.compiles"] = result["codegen_compiles"] / ops
    m["op.p50_s"] = median(result["op_times"])
    m["proc.cpu_s"] = result["timed_cpu_s"] / ops
    m["proc.peak_rss_mb"] = result["peak_rss_mb"]
    for q in QUERIES:
        qs = [s for s in spans if s.name == f"query.{q}"]
        inc = [inclusive(s.id) for s in qs]
        m[f"query.{q}.s"] = median([s.end - s.start for s in qs])
        m[f"query.{q}.jobs"] = sum(a["jobs"] for a in inc) / ops
        m[f"query.{q}.shuffle_mb"] = sum(a["shuffle_write_bytes"] for a in inc) / 1e6 / ops
        m[f"query.{q}.executor_cpu_s"] = sum(a["executor_cpu_ms"] for a in inc) / 1000.0 / ops
        m[f"query.{q}.task_skew"] = max((a["task_skew"] for a in inc), default=0.0)
    return m


# -- main --------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description="event log → view → SQLite benchmark")
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--smoke",
        action="store_true",
        help="tiny inputs and both metric sets: checks the harness (with --workload all, in one JVM)",
    )
    args = ap.parse_args()
    if args.workload == "all" and not args.smoke:
        ap.error("--workload all needs --smoke")

    # the program under test: fails here, before any work, when the
    # benchmark sits in a directory without it
    try:
        import actyxos_data_flow_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: program not found next to {HERE}: {e}", file=sys.stderr)
        return 2

    cfg = Config(args.smoke)
    workloads = WORKLOADS if args.workload == "all" else (args.workload,)
    state_root = os.path.join(ROOT, ".perfbench")
    t = time.perf_counter()
    inputs = {
        w: build_inputs(cfg, w, args.seed, os.path.join(state_root, "inputs")) for w in workloads
    }
    gen_s = time.perf_counter() - t

    # work directories of runs that were killed before their cleanup
    for stale in glob.glob(os.path.join(state_root, "run-*")):
        if not os.path.exists(f"/proc/{stale.rsplit('-', 1)[1]}"):
            shutil.rmtree(stale, ignore_errors=True)
    work = os.path.join(state_root, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # the program's own scratch directories (tempfile) stay in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    import tempfile

    tempfile.tempdir = None
    log_dir = os.path.join(work, "eventlog")
    traced = bool(args.trace) or args.smoke
    spark = None
    try:
        spark = start_spark(work, log_dir)
        from spans import Tracer, read_event_log

        tracer = Tracer(spark.sparkContext, enabled=traced)
        usage = Usage(spark)
        results = []
        for w in workloads:
            # setup_s runs from process start, less input generation, for
            # the first workload; from the previous workload's end after it
            start = T_START + gen_s if not results else time.perf_counter()
            result = {"workload": w, "setup_start": start, "usage": usage}
            tracer.scope = w
            if w == "batch_queries":
                run_batch_queries(spark, tracer, inputs[w], os.path.join(work, w), cfg, args.seconds, result)
            else:
                run_ivm(spark, tracer, inputs[w], os.path.join(work, w), cfg, args.seconds, result)
            results.append(result)
        stop_spark(spark)
        spark = None

        jobs, stages = read_event_log(log_dir)
        if traced:
            os.makedirs(os.path.join(state_root, "traces"), exist_ok=True)
            tracer.dump(os.path.join(state_root, "traces", f"{args.workload}-seed{args.seed}.json"), jobs, stages)
        units = {**_units("end_to_end"), **_units("per_layer")}
        outs = []
        for result in results:
            w = result["workload"]
            metrics: dict[str, float] = {}
            if not args.trace or args.smoke:
                metrics.update(end_to_end(result, jobs, stages))
            if traced:
                metrics.update(per_layer(result, tracer, jobs, stages))
            summary = {k: result.get(k) for k in ("ops", "checks", "host_steal_share", "op_cpu_s")}
            # where a run's wall time goes: input generation, set-up, the
            # timed phase, and checks plus teardown up to this line
            now = time.perf_counter()
            summary["phase_s"] = {
                "gen": round(gen_s, 2),
                "setup": round(result["setup_end"] - result["setup_start"], 2),
                "timed": round(result["timed_end"] - result["setup_end"], 2),
                "rest": round(now - result["timed_end"], 2),
            }
            summary["op_times"] = [round(x, 4) for x in result["op_times"]]
            if "query_times" in result:
                summary["query_times"] = {q: [round(x, 3) for x in xs] for q, xs in result["query_times"].items()}
            print(json.dumps({"workload": w, **summary}), file=sys.stderr)
            outs.append(
                {
                    "correct": result["failed"] == 0,
                    "attempted": result["attempted"],
                    "failed": result["failed"],
                    "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
                }
            )
    except Exception:  # noqa: BLE001 — report and exit non-zero without a result
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    if len(outs) > 1:
        for w, out in zip(workloads, outs):
            print(json.dumps({"workload": w, **out}))
        out = {
            "correct": all(o["correct"] for o in outs),
            "attempted": sum(o["attempted"] for o in outs),
            "failed": sum(o["failed"] for o in outs),
            "metrics": {},
        }
    else:
        out = outs[0]
    print(json.dumps(out))
    return 0


def _units(section: str) -> dict[str, str]:
    """Units as declared in the repository's BENCHMARK.json."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    with open(path) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


if __name__ == "__main__":
    sys.exit(main())
