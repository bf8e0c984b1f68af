"""Mutable corpus ingestion: retract and upsert on top of the streaming
front door.

:class:`.ingest.CorpusIngestor` is append-only — the right default for
an event-sourced corpus, and the reference's own lifecycle (replay /
catch-up / live over an append-only log). Real training corpora also
receive RETRACTIONS (takedowns, license changes) and UPSERTS
(re-crawls). This module extends the gate with both, using the
engine's signed-delta semantics (retraction = the −1 side of the
reference's (record, ±mult) contract, src/flow.rs:129-146) and plain
parquet — no table format dependency.

Mechanics — one atomic visibility switch instead of three rewrites:

- every written row (corpus, digest index, signature index, near-dup
  edge) is stamped with a monotone batch sequence ``_seq``, which the
  store pointer carries (an ingest advances it, a retraction does not);
- a retraction writes ``(doc_id, upto_seq)`` tombstones; EVERY reader
  (corpus view, admission gate, near-dup index, edge set) filters
  ``_seq > max(upto_seq)`` per id. Because all readers consult the
  same tombstone table, one commit retracts a document everywhere at
  once — there is no window where the corpus still shows a row whose
  digest has stopped gating duplicates;
- an upsert is retract-then-ingest: the new version re-enters through
  the full quality/exact/near-dup gate like any arrival (its digest
  row is invisible post-retraction, so identical re-adds are admitted
  deliberately, and changed content re-pairs against the index);
- cluster labels are re-derived for AFFECTED COMPONENTS ONLY: deleting
  a node can split its component (incremental union-find cannot
  un-merge), so the retract path recomputes CC on the surviving edges
  of the components that contained removed nodes — O(affected
  subgraphs), never the whole labeling — and keeps every other
  component's labels verbatim. Verified near-dup edges are persisted
  per batch (doc-count-sized metadata) precisely to make this
  possible.

Replay safety: every ingest, retraction and compaction is one batch of
:class:`.ingest.BatchStores` — its writes, the relabeled clusters and
the advanced ``_seq`` commit in one pointer swap. A crash at any write
point leaves readers on the previous batch; a replay reads that same
state, restamps the same ``_seq`` and overwrites its own directories,
so storage holds each row once, exactly as after a crash-free run.

Storage note: retracted rows stay in parquet until :meth:`compact`
rewrites the stores to their visible rows. At 100 TB the tombstone
table is retraction-count-sized and broadcast-joins against every
reader.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import dedup as D
from .ingest import CorpusIngestor, VectorIngestor, _drive

TOMB_SCHEMA = "tomb_id long, upto_seq long"
EDGE_SCHEMA = "id_a long, id_b long, _seq long"


class _TombstoneStore:
    """Tombstone visibility shared by the mutable document and vector
    gates: the stamped stores read through the tombstones and every
    row written through ``_write`` carries the batch's ``_seq``."""

    _SEQ_STEP = 1  # an ingest advances the sequence; a retraction does not

    def _stamped(self, keys: dict[str, str]) -> None:
        """Declare the stores whose rows carry ``_seq`` and read through
        the tombstones (store → id column)."""
        self._keys = keys
        for store in keys:
            self._stores.schemas[store] += ", _seq long"
        self._stores.schemas["tombstones"] = TOMB_SCHEMA
        self.tombs_path = self._stores.path("tombstones")

    def _read(self, store: str, upto: int | None = None) -> DataFrame:
        raw = self._stores.read(store, upto)
        key = self._keys.get(store)
        return raw if key is None else self._visible(raw, key, upto)

    def _write(self, store: str, df: DataFrame) -> None:
        self._stores.write(store, df.withColumn("_seq", F.lit(self._stores.seq).cast("long")))

    def _tomb_max(self, upto: int | None = None) -> DataFrame:
        t = self._stores.read("tombstones", upto)
        return t.groupBy("tomb_id").agg(F.max("upto_seq").alias("_upto"))

    def _visible(self, df: DataFrame, id_field: str, upto: int | None = None) -> DataFrame:
        t = self._tomb_max(upto).withColumnRenamed("tomb_id", id_field)
        return (
            df.join(t, id_field, "left")
            .filter(F.col("_seq") > F.coalesce(F.col("_upto"), F.lit(-1)))
            .drop("_upto")
        )

    @staticmethod
    def _pinned_ids(ids: DataFrame, id_field: str) -> DataFrame:
        """The distinct ids to retract, as ``tomb_id``, pinned once: the
        tombstone count, its write and the cluster relabel must all see
        the SAME id set, even when ``ids`` is a lazy plan over the very
        stores the tombstones hide rows from (``upsert_batch``)."""
        return ids.select(F.col(id_field).cast("long").alias("tomb_id")).distinct().localCheckpoint()

    def _append_tombstones(self, pinned: DataFrame) -> int:
        """One atomic visibility switch: every reader consults this
        table, so a single committed write retracts the ``pinned`` ids
        (:meth:`_pinned_ids`) everywhere."""
        n = pinned.count()
        if n:
            self._stores.write(
                "tombstones", pinned.withColumn("upto_seq", F.lit(self._stores.seq).cast("long"))
            )
        return n

    def _compact(self, extra: dict[str, DataFrame]) -> None:
        """One batch that replaces every written stamped store (and
        ``extra``) by its visible rows, ``_seq`` kept, and drops the
        tombstones. A crash before its commit leaves the uncompacted
        stores in place."""
        with self._stores.batch():
            written = self._stores.committed()["stores"]
            for store, rows in ({s: self._read(s) for s in self._keys} | extra).items():
                if store in written:
                    self._stores.write(store, rows, replace=True)
            self._stores.clear("tombstones")

    def upsert_batch(self, rows: DataFrame) -> dict:
        """Retract the ids that already exist (visible anywhere in the
        gate), then ingest the batch through the full front door — the
        new versions re-gate, re-dedup, and re-pair like any arrival."""
        key = self._keys["digests"]
        existing = rows.select(F.col(self.id_col).cast("long").alias(self.id_col)).join(
            self._read("digests").select(F.col(key).alias(self.id_col)).distinct(),
            self.id_col,
            "left_semi",
        )
        r = self.retract_batch(existing)
        stats = self.ingest_batch(rows)
        stats["retracted"] = r["retracted"]
        return stats


class MutableCorpusIngestor(_TombstoneStore, CorpusIngestor):
    def __init__(self, *args, **kwargs) -> None:
        super().__init__(*args, **kwargs)
        if self.postings_flag or self.positional_flag:
            raise ValueError(
                "MutableCorpusIngestor keeps no postings or positional index: "
                "a retraction could not take a document's terms back out of them"
            )
        self._stamped({"docs": self.id_col, "sigs": self.id_col, "digests": "doc_id"})
        self._stores.schemas["edges"] = EDGE_SCHEMA

    def _edges_visible(self) -> DataFrame:
        """Persisted near-dup edges whose BOTH endpoints are alive at
        the edge's seq (an endpoint retracted after the edge was drawn
        kills the edge; a later re-add does not resurrect it — the new
        version re-pairs on ingest)."""
        raw = self._stores.read("edges")
        va = self._visible(raw.withColumnRenamed("id_a", "doc_id"), "doc_id").withColumnRenamed(
            "doc_id", "id_a"
        )
        return self._visible(va.withColumnRenamed("id_b", "doc_id"), "doc_id").withColumnRenamed(
            "doc_id", "id_b"
        )

    def _maintain_clusters(self, batch_nodes: DataFrame, near_pairs: DataFrame) -> None:
        self._write("edges", near_pairs.select("id_a", "id_b"))
        super()._maintain_clusters(batch_nodes, near_pairs)

    # -- retract / upsert ----------------------------------------------

    def retract_batch(self, removed_ids: DataFrame) -> dict:
        """Retract documents by id: one tombstone write switches them
        off for every reader (corpus view, admission gate, signature
        index, edge set), and cluster labels are recomputed for the
        affected components only — both commit in one batch. Idempotent
        on replay."""
        ids = self._pinned_ids(removed_ids, self.id_col)
        with self._stores.batch():
            n = self._append_tombstones(ids)
            relabeled = self._relabel_after_retract(ids) if n else 0
        return {"retracted": n, "relabeled_components": relabeled}

    def _relabel_after_retract(self, removed: DataFrame) -> int:
        """Deleting nodes can SPLIT a component — un-mergeable
        incrementally — so recompute CC on the surviving edges of the
        components that contained removed nodes; every other
        component's labels are kept verbatim. ``removed`` holds the
        pinned ``tomb_id`` set."""
        # no labeling committed (always so without near_dup): nothing to
        # split, and the pointer says so without a Spark job
        if not self._committed("clusters"):
            return 0
        labels = self.clusters()
        rm = removed.select(F.col("tomb_id").alias("node"))
        hit = labels.join(rm, "node", "left_semi").select("component").distinct()
        n_hit = hit.count()
        if n_hit == 0:
            return 0
        keep = labels.join(hit, "component", "left_anti")
        sub_nodes = (
            labels.join(F.broadcast(hit), "component", "left_semi")
            .join(rm, "node", "left_anti")
            .select("node")
        )
        edges = self._edges_visible().select("id_a", "id_b")
        sub_edges = (
            edges.join(sub_nodes.withColumnRenamed("node", "id_a"), "id_a", "left_semi")
            .join(sub_nodes.withColumnRenamed("node", "id_b"), "id_b", "left_semi")
        )
        selfs = sub_nodes.select(F.col("node").alias("id_a"), F.col("node").alias("id_b"))
        relab = D.connected_components(sub_edges.unionByName(selfs).distinct())
        new_labels = keep.unionByName(relab.select("node", "component"))
        self._stores.write("clusters", new_labels.localCheckpoint(), replace=True)
        return n_hit

    def compact(self) -> None:
        """Reclaim retracted rows: rewrite every store to its visible
        rows (keeping the _seq stamps) and clear the tombstones, as one
        batch — a crash before its commit leaves the uncompacted stores
        in place, and a rerun starts over."""
        self._compact({"edges": self._edges_visible().select("id_a", "id_b", "_seq")})


class MutableVectorIngestor(_TombstoneStore, VectorIngestor):
    """Retract/upsert for the embedding gate — the vector twin of
    :class:`MutableCorpusIngestor` (no cluster state to maintain, so a
    retraction is purely the tombstone switch: the vector leaves the
    store view, its value digest stops gating exact dups, and its
    signature rows stop producing band candidates, all at once).
    Upsert = retract-then-ingest: a re-embedded vector re-pairs against
    the index through the normal near-dup gate."""

    def __init__(self, *args, **kwargs) -> None:
        super().__init__(*args, **kwargs)
        self._stamped({"vectors": self.id_col, "hsigs": self.id_col, "digests": self.id_col})

    def retract_batch(self, removed_ids: DataFrame) -> dict:
        ids = self._pinned_ids(removed_ids, self.id_col)
        with self._stores.batch():
            return {"retracted": self._append_tombstones(ids)}

    def compact(self) -> None:
        """Reclaim retracted vectors: rewrite the three stores to their
        visible rows and clear the tombstones, as one batch."""
        self._compact({})


def _cdc_step(ing, batch_df: DataFrame, batch_id: int) -> dict:
    """One CDC micro-batch: deletes first, then upserts."""
    batch_df = batch_df.persist()
    try:
        dels = batch_df.filter(F.col("op") == "d").select(ing.id_col)
        ups = batch_df.filter(F.col("op") == "u").drop("op")
        out = {"batch": batch_id}
        out.update({f"del_{k}": v for k, v in ing.retract_batch(dels).items()})
        if ups.limit(1).count():
            out.update(ing.upsert_batch(ups))
        return out
    finally:
        batch_df.unpersist()


def _run_cdc(spark, ing, src_dir, checkpoint_dir, schema, available_now, max_files_per_trigger):
    return _drive(
        spark, src_dir, checkpoint_dir, schema, partial(_cdc_step, ing),
        tick=None if available_now else "1 second",
        max_files_per_trigger=max_files_per_trigger,
    )


def run_cdc_ingest_stream(
    spark,
    src_dir: str,
    corpus_dir: str,
    checkpoint_dir: str,
    schema: str = "doc_id long, text string, lang string, source string, op string",
    quality_min_fp6: int = 500_000,
    near_dup: bool = False,
    trigger_available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> list[dict]:
    """Change-data-capture front door: a Structured Streaming file
    source whose rows carry an ``op`` column — ``'u'`` (upsert: insert
    or replace by id) or ``'d'`` (delete). Each micro-batch applies
    deletes first, then upserts, through :class:`MutableCorpusIngestor`
    — so a batch carrying both a delete and a re-add of the same id
    lands in the re-added state, and replays are idempotent (tombstone
    max() + digest gate). Per-batch stats are returned for assertions/
    metrics; swap the trigger for processingTime to run live.
    ``max_files_per_trigger=1`` makes each dropped file its own
    micro-batch in arrival (mtime) order — availableNow honors it, so a
    scripted file sequence replays as the scripted batch sequence."""
    ing = MutableCorpusIngestor(spark, corpus_dir, quality_min_fp6=quality_min_fp6, near_dup=near_dup)
    return _run_cdc(
        spark, ing, src_dir, checkpoint_dir, schema, trigger_available_now, max_files_per_trigger
    )


def run_cdc_vector_stream(
    spark,
    src_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    dim: int,
    schema: str = "vec_id long, embedding array<double>, op string",
    cosine_threshold: float = 0.98,
    trigger_available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> list[dict]:
    """CDC front door for the vector store — the embedding twin of
    :func:`run_cdc_ingest_stream`: rows carry op = 'u' (upsert) or 'd'
    (delete); deletes apply first, then upserts re-embed through the
    near-dup gate. Replay-idempotent for the same reasons;
    ``max_files_per_trigger=1`` replays a scripted file sequence as the
    scripted batch sequence."""
    ing = MutableVectorIngestor(spark, store_dir, dim=dim, cosine_threshold=cosine_threshold)
    return _run_cdc(
        spark, ing, src_dir, checkpoint_dir, schema, trigger_available_now, max_files_per_trigger
    )
