"""Exactly-once ingest under a crash at every write point.

Each ingest, retraction, upsert and compaction is run once crash-free,
counting its store writes. Then, for every write point i, the same call
runs on a copy of the starting state, raises at write i, and is
replayed by a fresh ingestor (a restarted process). Every reader must
then equal the crash-free run's, duplicates counted. Every store write
ends in ``DataFrameWriter.parquet`` (``BatchStores.write`` calls it),
which is what the crash wraps."""

from __future__ import annotations

import os
import shutil
from collections import Counter
from contextlib import contextmanager

import pytest
from pyspark.sql.readwriter import DataFrameWriter

from actyxos_data_flow_spark.plans.mutable import _corpus_view
from actyxos_data_flow_spark.plans.vectors import _final_view
from actyxos_data_flow_spark.streaming.ingest import CorpusIngestor
from actyxos_data_flow_spark.streaming.mutable import (
    MutableCorpusIngestor,
    MutableVectorIngestor,
)

# A, B, C chain under the fixed minhash family (est(A,B)=0.5,
# est(B,C)=0.625, est(A,C)=0.125): B is a near-dup of A, C of B.
_TOKS = [f"s26w{i}" for i in range(1, 40)]
A, B, C = (" ".join(_TOKS[i : i + 20]) for i in (0, 5, 10))
OTHER = " ".join(f"z{i}q" for i in range(30))
FRESH = " ".join(f"fresh{i}" for i in range(25))
FRESH2 = " ".join(f"brand{i} new" for i in range(15))


class Crash(Exception):
    pass


@contextmanager
def _writes(crash_at: int | None = None):
    """Record the path of every parquet write; raise at write number
    ``crash_at`` (1-based) before it happens."""
    real = DataFrameWriter.parquet
    paths: list[str] = []

    def wrapped(self, path, *args, **kwargs):
        paths.append(path)
        if len(paths) == crash_at:
            raise Crash(path)
        return real(self, path, *args, **kwargs)

    DataFrameWriter.parquet = wrapped
    try:
        yield paths
    finally:
        DataFrameWriter.parquet = real


def _bag(df) -> Counter:
    return Counter(
        tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in df.collect()
    )


def _assert_exactly_once(tmp_path, start: str, make, op, readers) -> None:
    """Crash ``op`` at each of its writes from state ``start``, replay
    it, and compare every reader with the crash-free run."""
    clean = str(tmp_path / "clean")
    shutil.copytree(start, clean)
    with _writes() as paths:
        op(make(clean))
    want = {name: _bag(read(make(clean))) for name, read in readers.items()}
    assert paths, "the operation wrote nothing"
    bad = []
    for i, path in enumerate(paths, 1):
        d = str(tmp_path / f"crash{i}")
        shutil.copytree(start, d)
        with pytest.raises(Crash), _writes(crash_at=i):
            op(make(d))
        op(make(d))  # the replay
        got = {name: _bag(read(make(d))) for name, read in readers.items()}
        diff = [name for name in readers if got[name] != want[name]]
        if diff:
            bad.append(f"write {i} ({os.path.relpath(path, clean)}): {diff}")
    assert not bad, "readers differ after crash + replay at " + "; ".join(bad)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_corpus_ingest_exactly_once_at_every_write(spark, tmp_path):
    def make(d):
        return CorpusIngestor(
            spark, d, quality_min_fp6=0, postings=True, positional=True, near_dup=True
        )

    start = str(tmp_path / "start")
    make(start).ingest_batch(_docs(spark, [(1, A), (9, OTHER)]))
    # B near-dups A, C near-dups B, 4 is an exact dup of 1, 5 is new
    batch = _docs(spark, [(2, B), (3, C), (4, A), (5, FRESH)])
    readers = {
        "corpus": lambda ing: ing.corpus(),
        "digest_gate": lambda ing: ing._index(),
        "sigs": lambda ing: ing._sigs(),
        "postings": lambda ing: ing.postings(),
        "cms": lambda ing: ing.cms_sketch(),
        "hll": lambda ing: ing.hll_sketch(),
        "doclen": lambda ing: ing.doclen_sketch(),
        "positions": lambda ing: ing.positional_postings(),
        "clusters": lambda ing: ing.clusters(),
    }
    _assert_exactly_once(tmp_path, start, make, lambda ing: ing.ingest_batch(batch), readers)


_MUTABLE_OPS = {
    "ingest": lambda spark, ing: ing.ingest_batch(_docs(spark, [(2, B), (5, FRESH)])),
    "retract": lambda spark, ing: ing.retract_batch(_docs(spark, [(1, None)]).select("doc_id")),
    "upsert": lambda spark, ing: ing.upsert_batch(_docs(spark, [(9, FRESH2), (6, C)])),
    "compact": lambda spark, ing: ing.compact(),
}


@pytest.fixture(scope="module")
def mutable_states(spark, tmp_path_factory):
    """The state before each operation of one lifecycle: state[op] is a
    directory to copy, ops applied in _MUTABLE_OPS order."""
    root = tmp_path_factory.mktemp("mutable_states")
    live = str(root / "live")
    ing = MutableCorpusIngestor(spark, live, quality_min_fp6=0, near_dup=True)
    ing.ingest_batch(_docs(spark, [(1, A), (9, OTHER)]))
    states = {}
    for name, op in _MUTABLE_OPS.items():
        states[name] = str(root / name)
        shutil.copytree(live, states[name])
        op(spark, ing)
    return states


@pytest.mark.parametrize("op", list(_MUTABLE_OPS))
def test_mutable_corpus_exactly_once_at_every_write(spark, tmp_path, mutable_states, op):
    def make(d):
        return MutableCorpusIngestor(spark, d, quality_min_fp6=0, near_dup=True)

    # the registry's view: visible corpus with _seq, joined to clusters
    readers = {
        "corpus_seq_clusters": _corpus_view,
        "digest_gate": lambda ing: ing._index(),
        "sigs": lambda ing: ing._sigs(),
        "edges": lambda ing: ing._edges_visible(),
    }
    _assert_exactly_once(
        tmp_path, mutable_states[op], make, lambda ing: _MUTABLE_OPS[op](spark, ing), readers
    )


def _vec(i, dim=16, scale=1.0):
    v = [0.01] * dim
    v[i % dim] = 1.0
    return [x * scale for x in v]


@pytest.mark.parametrize("op", ["ingest", "retract"])
def test_mutable_vectors_exactly_once_at_every_write(spark, tmp_path, op):
    def make(d):
        return MutableVectorIngestor(spark, d, dim=16)

    def vecs(rows):
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    start = str(tmp_path / "start")
    make(start).ingest_batch(vecs([(1, _vec(0)), (2, _vec(5))]))
    if op == "ingest":
        # 3 is an exact dup of 1, 4 a near-dup of 2, 7 is new
        batch = vecs([(3, _vec(0)), (4, _vec(5, scale=1.0001)), (7, _vec(9))])
        run = lambda ing: ing.ingest_batch(batch)  # noqa: E731
    else:
        ids = spark.createDataFrame([(1,)], "vec_id long")
        run = lambda ing: ing.retract_batch(ids)  # noqa: E731
    readers = {
        "vectors": lambda ing: ing.vectors(),
        "digest_gate": lambda ing: ing._digests(),
        "hsigs_seq": _final_view,
    }
    _assert_exactly_once(tmp_path, start, make, run, readers)


def test_committed_store_read_starts_no_job(spark, tmp_path):
    """Building a committed store's frame passes the recorded schema, so
    Spark runs no schema-inference job for it."""
    ing = MutableCorpusIngestor(spark, str(tmp_path / "c"), quality_min_fp6=0, near_dup=True)
    ing.ingest_batch(_docs(spark, [(1, A), (9, OTHER)]))
    ing.ingest_batch(_docs(spark, [(2, B), (5, FRESH)]))
    ing.retract_batch(_docs(spark, [(9, None)]).select("doc_id"))
    sc = spark.sparkContext
    sc.setJobGroup("store-read", "build the readers of committed stores")
    try:
        frames = [ing.corpus(), ing._index(), ing._sigs(), ing._edges_visible(), ing.clusters()]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("store-read") == []
    assert sorted(r.doc_id for r in frames[0].collect()) == [1, 5]


def test_corpus_asof_on_mutable_and_compacted_stores(spark, tmp_path):
    """corpus_asof reads any ingestor's committed batches, tombstones
    included; a batch folded away by compact() raises."""
    ing = MutableCorpusIngestor(spark, str(tmp_path / "c"), quality_min_fp6=0)
    ing.ingest_batch(_docs(spark, [(1, A)]))
    ing.ingest_batch(_docs(spark, [(9, OTHER)]))
    ing.retract_batch(_docs(spark, [(1, None)]).select("doc_id"))
    assert ing.current_epoch() == 3
    assert sorted(r.doc_id for r in ing.corpus_asof(2).collect()) == [1, 9]
    assert sorted(r.doc_id for r in ing.corpus_asof(3).collect()) == [9]
    ing.compact()
    assert ing.current_epoch() == 4
    assert sorted(r.doc_id for r in ing.corpus_asof(4).collect()) == [9]
    with pytest.raises(ValueError):
        ing.corpus_asof(3)
