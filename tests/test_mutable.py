"""Mutable corpus ingestion (streaming/mutable.py): retract/upsert on
top of the streaming front door — one tombstone append must switch a
document off for EVERY reader, component splits must be recomputed for
affected components only, and upserts must re-enter through the full
gate."""

from __future__ import annotations

from pyspark.sql import functions as F

from actyxos_data_flow_spark.streaming.mutable import MutableCorpusIngestor

# Chain corpus verified against the fixed minhash family: est(A,B)=0.5,
# est(B,C)=0.625 (both >= the 0.5 gate), est(A,C)=0.125 (not near) —
# B bridges A and C, so retracting B must SPLIT the component.
_TOKS = [f"s26w{i}" for i in range(1, 40)]
A_TEXT = " ".join(_TOKS[0:20])
B_TEXT = " ".join(_TOKS[5:25])
C_TEXT = " ".join(_TOKS[10:30])


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")


def _ing(spark, tmp_path, **kw):
    kw.setdefault("quality_min_fp6", 0)
    return MutableCorpusIngestor(spark, str(tmp_path / "corpus"), **kw)


def test_retract_hides_from_corpus_and_readmits_content(spark, tmp_path):
    ing = _ing(spark, tmp_path)
    ing.ingest_batch(_docs(spark, [(1, A_TEXT, "en", "s"), (2, C_TEXT, "en", "s")]))
    # identical content is rejected while doc 1 is live
    s = ing.ingest_batch(_docs(spark, [(7, A_TEXT, "en", "s")]))
    assert s["accepted"] == 0
    assert {r.doc_id for r in ing.corpus().collect()} == {1, 2}

    ing.retract_batch(spark.createDataFrame([(1,)], "doc_id long"))
    assert {r.doc_id for r in ing.corpus().collect()} == {2}
    # the digest stopped gating in the SAME switch: identical content
    # is re-admitted under a new id
    s = ing.ingest_batch(_docs(spark, [(7, A_TEXT, "en", "s")]))
    assert s["accepted"] == 1
    assert {r.doc_id for r in ing.corpus().collect()} == {2, 7}


def test_retract_bridge_splits_component(spark, tmp_path):
    ing = _ing(spark, tmp_path, near_dup=True)
    ing.ingest_batch(_docs(spark, [(1, A_TEXT, "en", "s")]))
    # B and C arrive together: B near-matches history (A) and C
    # near-matches B — both are rejected, but the verified edges
    # A-B and B-C persist and the labeling merges {A, B, C}
    s = ing.ingest_batch(_docs(spark, [(2, B_TEXT, "en", "s"), (3, C_TEXT, "en", "s")]))
    assert s["accepted"] == 0
    labels = {r.node: r.component for r in ing.clusters().collect()}
    assert labels[1] == labels[2] == labels[3]

    # retracting the bridge splits the component; survivors relabel,
    # the removed node leaves the labeling
    out = ing.retract_batch(spark.createDataFrame([(2,)], "doc_id long"))
    assert out["retracted"] == 1 and out["relabeled_components"] == 1
    labels = {r.node: r.component for r in ing.clusters().collect()}
    assert 2 not in labels
    assert labels[1] != labels[3]


def test_retract_untouched_components_keep_labels(spark, tmp_path):
    ing = _ing(spark, tmp_path, near_dup=True)
    other = " ".join(f"z{i}q" for i in range(30))
    ing.ingest_batch(_docs(spark, [(1, A_TEXT, "en", "s"), (9, other, "en", "s")]))
    ing.ingest_batch(_docs(spark, [(2, B_TEXT, "en", "s")]))
    before = {r.node: r.component for r in ing.clusters().collect()}
    ing.retract_batch(spark.createDataFrame([(2,)], "doc_id long"))
    after = {r.node: r.component for r in ing.clusters().collect()}
    assert after[9] == before[9]  # untouched component verbatim
    assert 2 not in after and after[1] == 1


def test_upsert_replaces_content_through_full_gate(spark, tmp_path):
    ing = _ing(spark, tmp_path)
    ing.ingest_batch(_docs(spark, [(1, A_TEXT, "en", "s"), (2, C_TEXT, "en", "s")]))
    new_text = " ".join(f"fresh{i}" for i in range(25))
    s = ing.upsert_batch(_docs(spark, [(1, new_text, "en", "s")]))
    assert s["retracted"] == 1 and s["accepted"] == 1
    rows = {r.doc_id: r.text for r in ing.corpus().collect()}
    assert rows == {1: new_text, 2: C_TEXT}
    # the OLD content's digest no longer gates: it can return under a
    # different id (deliberate — the retraction removed it everywhere)
    s = ing.ingest_batch(_docs(spark, [(5, A_TEXT, "en", "s")]))
    assert s["accepted"] == 1


def test_upsert_identical_content_is_noop_rewrite(spark, tmp_path):
    ing = _ing(spark, tmp_path)
    ing.ingest_batch(_docs(spark, [(1, A_TEXT, "en", "s")]))
    s = ing.upsert_batch(_docs(spark, [(1, A_TEXT, "en", "s")]))
    assert s["retracted"] == 1 and s["accepted"] == 1
    rows = ing.corpus().collect()
    assert len(rows) == 1 and rows[0].doc_id == 1 and rows[0].text == A_TEXT


def test_retract_replay_is_idempotent(spark, tmp_path):
    ing = _ing(spark, tmp_path)
    ing.ingest_batch(_docs(spark, [(1, A_TEXT, "en", "s"), (2, C_TEXT, "en", "s")]))
    ids = spark.createDataFrame([(1,)], "doc_id long")
    ing.retract_batch(ids)
    first = sorted(r.doc_id for r in ing.corpus().collect())
    ing.retract_batch(ids)  # replayed batch
    assert sorted(r.doc_id for r in ing.corpus().collect()) == first == [2]


def test_visible_index_matches_corpus(spark, tmp_path):
    """The admission gate and the corpus view must agree at every
    commit point — the mutable generalization of 'exact-dedup-clean at
    every commit'."""
    ing = _ing(spark, tmp_path)
    ing.ingest_batch(_docs(spark, [(1, A_TEXT, "en", "s"), (2, C_TEXT, "en", "s")]))
    ing.retract_batch(spark.createDataFrame([(2,)], "doc_id long"))
    ing.ingest_batch(_docs(spark, [(3, B_TEXT, "en", "s")]))
    corpus_ids = {r.doc_id for r in ing.corpus().collect()}
    index_ids = {r.doc_id for r in ing._index().collect()}
    assert corpus_ids == index_ids == {1, 3}
    digests = {
        r.digest
        for r in ing.corpus()
        .select(F.md5(F.col("text").cast("binary")).alias("digest"))
        .collect()
    }
    assert digests == {r.digest for r in ing._index().collect()}


# -- vector gate ----------------------------------------------------------


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _base_vec(i, dim=16):
    # deterministic well-separated directions: one-hot-ish per i
    v = [0.01] * dim
    v[i % dim] = 1.0
    return v


def test_vector_retract_and_readmit(spark, tmp_path):
    from actyxos_data_flow_spark.streaming.mutable import MutableVectorIngestor

    ing = MutableVectorIngestor(spark, str(tmp_path / "store"), dim=16)
    ing.ingest_batch(_vecs(spark, [(1, _base_vec(0)), (2, _base_vec(5))]))
    # exact value dup of vector 1 rejected while live
    assert ing.ingest_batch(_vecs(spark, [(9, _base_vec(0))]))["accepted"] == 0
    ing.retract_batch(spark.createDataFrame([(1,)], "vec_id long"))
    assert {r.vec_id for r in ing.vectors().collect()} == {2}
    # same value re-admitted after the switch
    assert ing.ingest_batch(_vecs(spark, [(9, _base_vec(0))]))["accepted"] == 1
    assert {r.vec_id for r in ing.vectors().collect()} == {2, 9}


def test_vector_upsert_reembeds_through_gate(spark, tmp_path):
    from actyxos_data_flow_spark.streaming.mutable import MutableVectorIngestor

    ing = MutableVectorIngestor(spark, str(tmp_path / "store"), dim=16)
    ing.ingest_batch(_vecs(spark, [(1, _base_vec(0)), (2, _base_vec(5))]))
    s = ing.upsert_batch(_vecs(spark, [(1, _base_vec(9))]))
    assert s["retracted"] == 1 and s["accepted"] == 1
    got = {r.vec_id: list(r.embedding) for r in ing.vectors().collect()}
    assert got[1][9 % 16] == 1.0 and got[2][5] == 1.0
    # near-dup of the RETRACTED embedding no longer blocks: the old
    # signature rows are invisible to the band probe
    s = ing.ingest_batch(_vecs(spark, [(7, _base_vec(0))]))
    assert s["accepted"] == 1


def test_vector_upsert_near_dup_of_live_still_rejected(spark, tmp_path):
    from actyxos_data_flow_spark.streaming.mutable import MutableVectorIngestor

    ing = MutableVectorIngestor(spark, str(tmp_path / "store"), dim=16)
    ing.ingest_batch(_vecs(spark, [(1, _base_vec(0)), (2, _base_vec(5))]))
    # a new id arriving with (nearly) vector 2's direction is gated out
    wobble = [x * 1.0001 for x in _base_vec(5)]
    assert ing.ingest_batch(_vecs(spark, [(8, wobble)]))["accepted"] == 0


def test_compact_reclaims_without_changing_views(spark, tmp_path):
    """Compaction drops dead rows from storage and clears tombstones;
    every reader must see identical data before and after, and the
    admission gate must keep behaving identically (same content still
    rejected for live docs, still admitted for retracted ones)."""
    import os

    other = " ".join(f"z{i}q" for i in range(30))
    ing = _ing(spark, tmp_path, near_dup=True)
    ing.ingest_batch(_docs(spark, [(1, A_TEXT, "en", "s"), (9, other, "en", "s")]))
    ing.ingest_batch(_docs(spark, [(2, B_TEXT, "en", "s")]))  # near-dup of A: rejected
    ing.retract_batch(spark.createDataFrame([(1,)], "doc_id long"))
    before_corpus = sorted(r.doc_id for r in ing.corpus().collect())
    before_labels = {r.node: r.component for r in ing.clusters().collect()}
    ing.compact()
    assert sorted(r.doc_id for r in ing.corpus().collect()) == before_corpus == [9]
    assert {r.node: r.component for r in ing.clusters().collect()} == before_labels
    assert not os.path.isdir(ing.tombs_path)
    # raw storage truly shrank: no doc-1 rows anywhere
    raw = spark.read.parquet(ing.docs_path)
    assert raw.filter("doc_id = 1").count() == 0
    # gate behavior unchanged after compaction: exact dup of the LIVE
    # doc still rejected; the retracted doc's content (and its former
    # near-dups) now pass
    assert ing.ingest_batch(_docs(spark, [(7, other, "en", "s")]))["accepted"] == 0
    assert ing.ingest_batch(_docs(spark, [(8, A_TEXT, "en", "s")]))["accepted"] == 1


def test_vector_compact_reclaims(spark, tmp_path):
    import os

    from actyxos_data_flow_spark.streaming.mutable import MutableVectorIngestor

    ing = MutableVectorIngestor(spark, str(tmp_path / "store"), dim=16)
    ing.ingest_batch(_vecs(spark, [(1, _base_vec(0)), (2, _base_vec(5))]))
    ing.retract_batch(spark.createDataFrame([(1,)], "vec_id long"))
    ing.compact()
    assert not os.path.isdir(ing.tombs_path)
    assert {r.vec_id for r in ing.vectors().collect()} == {2}
    assert spark.read.parquet(ing.vectors_path).filter("vec_id = 1").count() == 0
    assert ing.ingest_batch(_vecs(spark, [(9, _base_vec(0))]))["accepted"] == 1


def test_cdc_stream_applies_deletes_then_upserts(spark, tmp_path):
    """Files of (row, op) events drain through the CDC front door:
    upserts replace content by id, deletes retract, and a delete+re-add
    of the same id within one batch lands re-added."""
    import json as j

    from actyxos_data_flow_spark.streaming.mutable import run_cdc_ingest_stream

    src = tmp_path / "src"
    src.mkdir()
    other = " ".join(f"z{i}q" for i in range(30))
    (src / "b1.json").write_text(
        "\n".join(
            j.dumps(d)
            for d in [
                {"doc_id": 1, "text": A_TEXT, "lang": "en", "source": "s", "op": "u"},
                {"doc_id": 9, "text": other, "lang": "en", "source": "s", "op": "u"},
            ]
        )
    )
    stats = run_cdc_ingest_stream(
        spark, str(src), str(tmp_path / "corpus"), str(tmp_path / "ck1"), quality_min_fp6=0
    )
    assert stats[-1]["accepted"] == 2

    new_text = " ".join(f"fresh{i}" for i in range(25))
    (src / "b2.json").write_text(
        "\n".join(
            j.dumps(d)
            for d in [
                {"doc_id": 9, "text": None, "lang": None, "source": None, "op": "d"},
                {"doc_id": 1, "text": new_text, "lang": "en", "source": "s", "op": "u"},
            ]
        )
    )
    stats = run_cdc_ingest_stream(
        spark, str(src), str(tmp_path / "corpus"), str(tmp_path / "ck1"), quality_min_fp6=0
    )
    ing = MutableCorpusIngestor(spark, str(tmp_path / "corpus"), quality_min_fp6=0)
    got = {r.doc_id: r.text for r in ing.corpus().collect()}
    assert got == {1: new_text}


def test_cdc_vector_stream(spark, tmp_path):
    import json as j

    from actyxos_data_flow_spark.streaming.mutable import (
        MutableVectorIngestor,
        run_cdc_vector_stream,
    )

    src = tmp_path / "vsrc"
    src.mkdir()
    (src / "b1.json").write_text(
        "\n".join(
            j.dumps({"vec_id": i, "embedding": _base_vec(i), "op": "u"}) for i in (1, 2)
        )
    )
    run_cdc_vector_stream(spark, str(src), str(tmp_path / "store"), str(tmp_path / "vck"), dim=16)
    (src / "b2.json").write_text(
        "\n".join(
            [
                j.dumps({"vec_id": 2, "embedding": None, "op": "d"}),
                j.dumps({"vec_id": 1, "embedding": _base_vec(7), "op": "u"}),
            ]
        )
    )
    run_cdc_vector_stream(spark, str(src), str(tmp_path / "store"), str(tmp_path / "vck"), dim=16)
    ing = MutableVectorIngestor(spark, str(tmp_path / "store"), dim=16)
    got = {r.vec_id: list(r.embedding) for r in ing.vectors().collect()}
    assert set(got) == {1} and got[1][7] == 1.0


def test_upsert_lazy_existing_ids_keep_other_labels(spark, tmp_path):
    """Regression: upsert_batch derives its retract set LAZILY from the
    digest index, which the retraction itself mutates (tombstone append).
    Before retract_batch pinned the id set (localCheckpoint), the relabel
    re-evaluated the plan post-append, saw an empty/different id set, and
    silently DROPPED the labels of surviving members of hit components."""
    ing = _ing(spark, tmp_path, near_dup=True)
    # doc 2 is a near-dup reject of doc 1 (est(A,B)=0.5 >= gate): it is
    # labeled into component 1 but never enters the corpus or sig index
    ing.ingest_batch(_docs(spark, [(1, A_TEXT, "en", "s"), (2, B_TEXT, "en", "s")]))
    assert {(r["node"], r["component"]) for r in ing.clusters().collect()} == {(1, 1), (2, 1)}
    # upsert doc 1 with changed content: internal retract of {1} hits
    # component 1; survivor 2 must be relabeled (singleton), not lost
    ing.upsert_batch(_docs(spark, [(1, C_TEXT, "en", "s")]))
    labels = {r["node"]: r["component"] for r in ing.clusters().collect()}
    assert labels[2] == 2, f"survivor label lost/wrong: {labels}"
    assert labels[1] == 1  # re-ingested version re-labeled
    assert set(labels) == {1, 2}


def test_mutable_rejects_postings_and_positional(spark, tmp_path):
    """The mutable gate keeps no inverted index, so asking for one must
    fail loudly instead of leaving search() silently empty."""
    import pytest

    for kw in ({"postings": True}, {"postings": True, "positional": True}, {"positional": True}):
        with pytest.raises(ValueError):
            _ing(spark, tmp_path, **kw)
