"""Continuous corpus ingestion: the training-data pipeline's streaming
front door. Each micro-batch of raw documents is quality-gated,
deduplicated WITHIN the batch, deduplicated AGAINST everything already
ingested, and committed to a parquet corpus — so the corpus is
exact-dedup-clean at every commit point.

Scale shape per batch (the part that must stay O(batch), not O(corpus)):

- the quality gate and digest computation are per-row JVM expressions on
  the incoming batch only;
- cross-history dedup is an anti-join of the batch's digests against a
  digest INDEX (digest, doc_id) — a narrow two-column table, not the
  corpus payloads. The index side streams from parquet and the join
  shuffles only digests; at 100 TB, register the index as a bucketed
  table (``df.write.bucketBy(n, "digest").sortBy("digest")
  .saveAsTable(...)``) so the probe's shuffle disappears on the index
  side and only the batch exchanges;
- the accepted rows, their digests, signatures, postings and sketch
  partials each land in a batch-keyed directory of their store, and one
  pointer swap commits them together (:class:`BatchStores`, the same
  never-overwrite-the-committed rule as sinks/writer.write_snapshots).
  A crash at any write point leaves every reader on the previous batch,
  and a replay of the batch overwrites its own directories, so no write
  order has to be argued for.

Used either directly (``CorpusIngestor.ingest_batch`` per epoch) or as
the foreachBatch of a Structured Streaming file/Kafka source
(:func:`run_ingest_stream` — availableNow drain or live trigger).

Reference parity: this is the reference's ingest-dedupe-materialize
lifecycle (src/runner.rs replay/catch-up/live) instantiated for a
document corpus instead of a SQL mirror, with its exactly-once commit
(src/runner.rs:81-123) as the pointer swap.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators import dedup as D
from ..operators import text as X

DIGEST_SCHEMA = "digest string, doc_id long"
POINTER = "_COMMITTED"


class BatchStores:
    """The ingest stores' one commit protocol. Every store is a
    directory of batch directories ``<store>/_b=<n>``; the pointer file
    ``<root>/_COMMITTED`` holds the last committed batch number, the
    mutable gates' sequence ``seq``, and per store the live batches and
    the schema they were written with.

    - write (:meth:`write`): batch n+1 writes each store to
      ``<store>/_b=<n+1>`` with overwrite — a directory no committed
      pointer names;
    - commit (:meth:`batch`): one ``os.replace`` of the pointer makes
      every write of the batch visible at once; directories the new
      pointer does not name are then pruned (best-effort: the pointer
      has already moved);
    - read (:meth:`read`): only committed batches, always under the
      recorded schema.

    A crash before the swap leaves readers on batch n, and a replay of
    the same call reads that same state, so it recomputes the same rows
    and overwrites its own directories: every store is exactly-once at
    every write point. A ``replace`` write (the cluster labeling, every
    store in ``compact()``) makes its batch the store's only live one —
    the newest committed labeling wins."""

    def __init__(self, spark: SparkSession, root: str, schemas: dict[str, str]) -> None:
        self.spark = spark
        self.root = root
        self.schemas = schemas  # declared schema of each store, used while it is empty
        self.seq = 0
        self._next: dict | None = None

    def path(self, store: str) -> str:
        return os.path.join(self.root, store)

    def committed(self) -> dict:
        try:
            with open(os.path.join(self.root, POINTER)) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"batch": 0, "seq": 0, "stores": {}}

    @contextmanager
    def batch(self, seq_step: int = 0):
        """One batch: the writes inside the block commit together when
        it exits normally, and an exception commits nothing.
        ``seq_step=1`` advances ``seq`` (an ingest); 0 keeps it (a
        retraction, a compaction). A batch that writes nothing and keeps
        ``seq`` commits nothing."""
        old = self.committed()
        nxt = copy.deepcopy(old)
        nxt["batch"] += 1
        nxt["seq"] += seq_step
        self.seq = nxt["seq"]
        self._next = nxt
        try:
            yield
        finally:
            self._next = None
        if nxt["stores"] == old["stores"] and nxt["seq"] == old["seq"]:
            return
        os.makedirs(self.root, exist_ok=True)
        tmp = os.path.join(self.root, POINTER + ".tmp")
        with open(tmp, "w") as f:
            json.dump(nxt, f)
        os.replace(tmp, os.path.join(self.root, POINTER))
        for store in set(old["stores"]) | set(nxt["stores"]):
            live = {f"_b={b}" for b in nxt["stores"].get(store, {}).get("batches", [])}
            path = self.path(store)
            dead = set(os.listdir(path)) - live if live and os.path.isdir(path) else ()
            for d in dead:
                shutil.rmtree(os.path.join(path, d), ignore_errors=True)
            if not live:
                shutil.rmtree(path, ignore_errors=True)

    def write(self, store: str, df: DataFrame, replace: bool = False) -> None:
        """The one store write: ``df`` to the open batch's directory of
        ``store``. ``replace`` makes it the store's only live batch."""
        b = self._next["batch"]
        df.write.mode("overwrite").parquet(os.path.join(self.path(store), f"_b={b}"))
        entry = self._next["stores"].setdefault(store, {"batches": []})
        entry["batches"] = [b] if replace else entry["batches"] + [b]
        if replace:
            entry["base"] = b
        entry["schema"] = df.schema.jsonValue()

    def clear(self, store: str) -> None:
        """Drop every batch of ``store`` when the open batch commits."""
        self._next["stores"].pop(store, None)

    def read(self, store: str, upto: int | None = None) -> DataFrame:
        """The committed batches of ``store`` (those up to batch
        ``upto`` if given), under the schema they were written with; an
        empty frame of the declared schema while none is committed. An
        empty or absent store is an empty frame, never an error, but a
        corrupt batch still raises on scan — treating it as empty would
        switch the gate off and let duplicates in.

        Passing the schema spares the parquet schema-inference job, so
        building the frame starts no Spark job while the store has at
        most 32 live batch directories. Above that
        (``spark.sql.sources.parallelPartitionDiscovery.threshold``)
        Spark lists the directories in parallel, one job per read;
        ``compact()`` folds a store's directories back into one."""
        entry = self.committed()["stores"].get(store)
        if entry is None:
            return self.spark.createDataFrame([], self.schemas[store])
        if upto is not None and upto < entry.get("base", 0):
            raise ValueError(f"{store}: batch {upto} was folded into batch {entry['base']}")
        schema = StructType.fromJson(entry["schema"])
        dirs = [
            os.path.join(self.path(store), f"_b={b}")
            for b in entry["batches"]
            if upto is None or b <= upto
        ]
        if not dirs:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*dirs)


class _Stored:
    """What both ingest gates share: one :class:`BatchStores` and the
    read/write hooks the mutable gates override (tombstone visibility
    on reads, the ``_seq`` stamp on writes)."""

    _SEQ_STEP = 0

    def _read(self, store: str, upto: int | None = None) -> DataFrame:
        return self._stores.read(store, upto)

    def _write(self, store: str, df: DataFrame) -> None:
        self._stores.write(store, df)

    def _committed(self, store: str) -> bool:
        """Whether any batch of ``store`` is committed — read from the
        pointer, without a Spark job."""
        return store in self._stores.committed()["stores"]


def _cosine_ge(ea, eb, threshold: float):
    """cos(ea, eb) >= threshold as an EXACT integer comparison — the
    vector gate's membership test, portable across engine builds:

        dot9 >= 0  AND  den² · dot9² >= num² · sq9(ea) · sq9(eb)

    with threshold = num/den (Fraction of the decimal literal, e.g.
    0.98 → 49/50) and dot9/sq9 the per-term floor(x·y·1e9 + 0.5) BIGINT
    sums (operators.similarity._dot9/_sq9 — identical integers on any
    engine because each per-term double product is one IEEE-exact op).
    The double-quotient form cos >= t can flip a candidate sitting
    within one build's ulp of the threshold; squaring the quantized
    integers cannot. Narrow decimal casts keep every product clearly
    under precision 38 (values ≤ ~1e25 for unit-scale dims ≤ 10^3)."""
    from fractions import Fraction

    from ..operators import similarity as S

    frac = Fraction(str(threshold))
    num, den = frac.numerator, frac.denominator
    if num <= 0:
        raise ValueError("cosine threshold must be positive")
    d9 = S._dot9(ea, eb)
    lhs = d9.cast("decimal(14,0)") * d9.cast("decimal(14,0)") * F.lit(den * den)
    rhs = (
        F.lit(num * num).cast("decimal(8,0)")
        * S._sq9(ea).cast("decimal(12,0)")
        * S._sq9(eb).cast("decimal(12,0)")
    )
    return (d9 >= 0) & (lhs >= rhs)


def _directed_drops(near: DataFrame, batch_ids: DataFrame, id_col: str) -> DataFrame:
    """Which BATCH members to reject given undirected near-pairs: a
    batch doc/vector drops if it near-matches history (partner not in
    the batch) or a smaller-id batch member. Shared by the document and
    vector gates."""
    directed = near.select(F.col("id_a").alias("x"), F.col("id_b").alias("p")).unionByName(
        near.select(F.col("id_b").alias("x"), F.col("id_a").alias("p"))
    )
    xs = batch_ids.select(F.col(id_col).alias("x"))
    pb = batch_ids.select(F.col(id_col).alias("p"), F.lit(1).alias("_pb"))
    return (
        directed.join(xs, "x", "left_semi")
        .join(pb, "p", "left")
        .filter(F.col("_pb").isNull() | (F.col("p") < F.col("x")))
        .select(F.col("x").alias(id_col))
        .distinct()
    )


class CorpusIngestor(_Stored):
    def __init__(
        self,
        spark: SparkSession,
        corpus_dir: str,
        quality_min_fp6: int = 500_000,
        id_col: str = "doc_id",
        text_col: str = "text",
        near_dup: bool = False,
        num_hashes: int = 8,
        band_size: int = 2,
        sim_threshold: float = 0.5,
        postings: bool = False,
        positional: bool = False,
    ) -> None:
        self.spark = spark
        hs = ", ".join(f"h{s} long" for s in range(num_hashes))
        self._stores = BatchStores(
            spark,
            corpus_dir,
            {
                "docs": f"{id_col} long, {text_col} string",
                "digests": DIGEST_SCHEMA,
                "sigs": f"{id_col} long, {hs}",
                "clusters": "node long, component long",
                "postings": f"term string, {id_col} long, tf long",
                "doclens": f"{id_col} long, dl int",
                "cms": "row int, bucket long, c long",
                "hll": "idx long, r int",
                "hdr": "bid long, c long",
                "positions": f"{id_col} long, term string, pos int",
            },
        )
        self.docs_path = self._stores.path("docs")
        self.postings_flag = postings
        self.positional_flag = positional
        self.quality_min_fp6 = quality_min_fp6
        self.id_col = id_col
        self.text_col = text_col
        self.near_dup = near_dup
        self.num_hashes = num_hashes
        self.band_size = band_size
        self.sim_threshold = sim_threshold

    def _index(self) -> DataFrame:
        return self._read("digests").select("digest", "doc_id")

    def _sigs(self) -> DataFrame:
        return self._read("sigs").drop("_seq")

    # -- incremental cluster labels (near_dup mode) ---------------------
    #
    # The labels table (node, component) covers every doc that reached
    # the near-dup stage — including REJECTED near-dups, whose label is
    # their provenance ("this arrival belongs to cluster X"); exact-dup
    # arrivals never reach it (their cluster is their digest-twin's).
    # Merges can relabel HISTORIC nodes, so each batch writes a full new
    # labeling as a replace write of the batch: it commits with the
    # batch's other stores, and the newest committed labeling wins. At
    # corpus scale this table is two longs per ingested doc —
    # doc-count-sized metadata, not corpus-sized data.

    def clusters(self) -> DataFrame:
        """The committed (node, component) labeling."""
        return self._read("clusters")

    def _maintain_clusters(self, batch_nodes: DataFrame, near_pairs: DataFrame) -> None:
        """Fold this batch's verified near-dup edges into the standing
        labeling (operators.dedup.connected_components_delta — prior
        labels enter as depth-1 star edges, so only delta chains need
        contracting). Batch docs with no partner enter as self-pairs and
        come out singletons."""
        from ..operators.dedup import connected_components_delta

        ids = batch_nodes.select(F.col(self.id_col).cast("long").alias("_id"))
        selfs = ids.select(F.col("_id").alias("id_a"), F.col("_id").alias("id_b"))
        edges = near_pairs.select("id_a", "id_b").unionByName(selfs)
        new_labels = connected_components_delta(self.clusters(), edges)
        # localCheckpoint cuts CC's iterative lineage before the write;
        # checkpoint() on a real cluster
        self._stores.write("clusters", new_labels.localCheckpoint(), replace=True)

    def _near_dup_gate(self, fresh: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
        """MinHash-LSH near-dup gate for one ingest batch: signatures of
        the batch band-probe the persisted signature INDEX plus the
        batch itself (the :func:`..dedup.lsh_delta_pairs` shape — the
        index side is never self-joined), and candidate similarity is
        the MinHash ESTIMATOR (fraction of agreeing signature
        components) — so history shingles are never stored; the index
        is (id, k longs), O(corpus docs), not O(corpus tokens).

        A batch doc drops if it near-matches history, or near-matches a
        smaller-id batch doc. Returns (accepted, accepted_sigs,
        near_pairs) — the verified pairs feed incremental cluster
        maintenance.

        Materialization discipline (the round-12 wall-clock fix): the
        batch signatures are checkpointed ONCE — the band probe, BOTH
        sides of the estimator join, and the signature write all read
        the same computed rows (lazily, minhash ran once per consumer:
        3×+ per batch) — and the verified pair set is checkpointed
        before anything derives from it, because drops/accepted/
        accepted_sigs/cluster-maintenance each re-ran the whole
        estimator join when ``near`` stayed lazy. Checkpointing near
        also pins the edge set against later commits to the signature
        index. Both frames are model-sized: O(batch) signatures,
        verified pairs. At cluster scale swap localCheckpoint for
        reliable checkpoint()."""
        sig_new = D.minhash_signatures_arrays(
            D.shingle_arrays(fresh, self.id_col, self.text_col),
            self.id_col,
            self.num_hashes,
        ).localCheckpoint()
        pairs = D.lsh_delta_pairs(
            self._sigs(), sig_new, self.id_col, self.num_hashes, self.band_size
        )
        both = F.broadcast(pairs)
        all_sigs = self._sigs().unionByName(sig_new)
        sa = all_sigs.select(F.col(self.id_col).alias("id_a"), *[F.col(f"h{s}").alias(f"a{s}") for s in range(self.num_hashes)])
        sb = all_sigs.select(F.col(self.id_col).alias("id_b"), *[F.col(f"h{s}").alias(f"b{s}") for s in range(self.num_hashes)])
        est = sum(
            (F.col(f"a{s}") == F.col(f"b{s}")).cast("int") for s in range(self.num_hashes)
        ) / F.lit(float(self.num_hashes))
        near = (
            both.join(sa, "id_a").join(sb, "id_b")
            .filter(est >= self.sim_threshold)
            .select("id_a", "id_b")
            .localCheckpoint()
        )
        drops = _directed_drops(near, fresh.select(self.id_col), self.id_col)
        accepted = fresh.join(drops, self.id_col, "left_anti")
        return accepted, sig_new.join(drops, self.id_col, "left_anti"), near

    def ingest_batch(self, docs: DataFrame) -> dict:
        """Gate, dedup (intra-batch then vs history), commit. Returns
        counts {'arrived', 'gated', 'accepted'} for observability. Every
        store the batch writes commits in one pointer swap, so a replay
        after a crash at any write point lands the batch exactly once."""
        with self._stores.batch(self._SEQ_STEP):
            scored = X.quality_score(docs, self.id_col, self.text_col).select(
                self.id_col, "quality_fp6"
            )
            # quality_score is a pure projection (one row per doc), so the
            # arrived and gated counts come from ONE aggregate over the
            # scored batch instead of two separate scans
            _counts = scored.agg(
                F.count(F.lit(1)).alias("_arrived"),
                F.sum(
                    (F.col("quality_fp6") >= self.quality_min_fp6).cast("long")
                ).alias("_gated"),
            ).first()
            arrived, n_gated = _counts["_arrived"], int(_counts["_gated"] or 0)
            # join on the passing ids only: the score stays out of the corpus
            gated = docs.join(
                scored.filter(F.col("quality_fp6") >= self.quality_min_fp6).select(self.id_col),
                self.id_col,
            )
            with_digest = gated.withColumn(
                "digest", F.md5(F.col(self.text_col).cast("binary"))
            )
            # intra-batch dedup: keep the whole smallest-id row per digest
            # (hash aggregate — no window sort)
            rec = F.struct(*[F.col(c) for c in with_digest.columns])
            in_batch = (
                with_digest.groupBy("digest")
                .agg(F.min_by(rec, F.col(self.id_col)).alias("_rec"))
                .select("_rec.*")
            )
            # cross-history dedup: anti-join on the digest index only.
            # Without a committed index the join is skipped: adaptive
            # execution drops a join against an empty side only once that
            # side has run, so whether the other side's shuffle had already
            # started — one more job and its shuffle — was left to timing
            fresh = (
                in_batch.join(self._index(), "digest", "left_anti")
                if self._committed("digests")
                else in_batch
            )
            sigs = None
            near = None
            pre_gate = None
            if self.near_dup:
                pre_gate = fresh.persist()  # nodes entering the near-dup stage
                # the gate checkpoints the batch signatures and the verified
                # pair set internally (see _near_dup_gate) — sigs/near are
                # cheap model-sized reads from here on
                fresh, sigs, near = self._near_dup_gate(pre_gate)
            # Cluster maintenance runs even when accepted == 0: a batch of
            # pure near-dup rejects still merges its arrivals' labels.
            out = fresh.persist()
            try:
                accepted = out.count()
                if accepted:
                    self._write("docs", out.drop("digest"))
                    if sigs is not None:
                        self._write("sigs", sigs)
                    if self.postings_flag:
                        self._write_postings(out.drop("digest"))
                    self._write(
                        "digests",
                        out.select("digest", F.col(self.id_col).cast("long").alias("doc_id")),
                    )
                if pre_gate is not None and pre_gate.limit(1).count():
                    self._maintain_clusters(pre_gate, near)
            finally:
                out.unpersist()
                if pre_gate is not None:
                    pre_gate.unpersist()
        return {"arrived": arrived, "gated": n_gated, "accepted": accepted}

    def _write_postings(self, docs: DataFrame) -> None:
        """Inverted-index and sketch maintenance is embarrassingly
        incremental: tf and positions are doc-local, so each batch adds
        its own postings/doclens/positions; df, N, Σdl are query-time
        aggregates over the merged index (bm25_from_index), and the
        count-min sketch and HDR histogram (sum-monoids) and HyperLogLog
        registers (a max-monoid) merge per-batch partials at read — so
        every maintained model equals a from-scratch build over the
        corpus (invariants pinned in tests/test_streaming.py)."""
        from ..operators.cms import cms_build
        from ..operators.hll import hll_registers
        from ..operators.quantiles import hdr_build
        from ..operators.retrieval import build_positional_postings, build_postings

        post, dl = build_postings(docs, self.id_col, self.text_col)
        self._write("postings", post)
        self._write("doclens", dl)
        self._write("cms", cms_build(post, item_col="term", weight_col="tf"))
        self._write("hll", hll_registers(post, "term"))
        self._write("hdr", hdr_build(dl.select(F.col("dl").cast("long").alias("dl")), "dl"))
        if self.positional_flag:
            self._write("positions", build_positional_postings(docs, self.id_col, self.text_col))

    def corpus(self) -> DataFrame:
        return self._read("docs").drop("_seq")

    def current_epoch(self) -> int:
        """The number of the last committed batch (ingest, retraction or
        compaction; a batch that changed nothing does not count)."""
        return self._stores.committed()["batch"]

    def corpus_asof(self, epoch: int) -> DataFrame:
        """The corpus exactly as it stood after batch ``epoch`` (see
        :meth:`current_epoch`). The read names only the batch
        directories up to ``epoch``, so historical snapshots cost
        proportional-to-snapshot I/O, not full-corpus I/O. A batch
        folded away by ``compact()`` raises ValueError."""
        return self._read("docs", upto=epoch).drop("_seq")

    def postings(self) -> DataFrame:
        """The incrementally-maintained inverted index (term, id, tf)."""
        return self._read("postings")

    def doclens(self) -> DataFrame:
        return self._read("doclens")

    def search(self, terms: list[str], k: int = 10) -> DataFrame:
        """BM25 over the maintained index — identical results to a
        from-scratch index over ``corpus()`` (tf is doc-local; df/N/Σdl
        aggregate at query time)."""
        from ..operators.retrieval import bm25_from_index

        return bm25_from_index(self.postings(), self.doclens(), terms, k=k, id_col=self.id_col)

    def batch_drift(self, docs: DataFrame) -> DataFrame:
        """Pre-admission drift check for an arriving batch: JSD of the
        batch's term distribution against the standing corpus's —
        derived from the MAINTAINED postings (Σ tf per term), so the
        standing side never re-tokenizes the corpus. One row
        (jsd, n_terms); gate on it before ingest_batch to quarantine a
        drifted source (0 ≤ jsd ≤ ln 2 ≈ 0.693)."""
        from ..operators.drift import drift_report, term_dist

        base = self.postings().groupBy("term").agg(
            F.sum("tf").cast("long").alias("cnt")
        )
        total, _ = drift_report(base, term_dist(docs, self.text_col))
        return total

    def cms_sketch(self) -> DataFrame:
        """The maintained count-min sketch: per-batch partial cells
        merged by sum (the sketch is a commutative monoid, so the
        merged table equals a from-scratch build over the corpus —
        invariant pinned in tests). d×w rows max."""
        return self._read("cms").groupBy("row", "bucket").agg(F.sum("c").alias("c"))

    def hll_sketch(self) -> DataFrame:
        """The maintained HyperLogLog register table: per-batch
        registers merged by max (max is the sketch's monoid, so the
        merged table equals a from-scratch build over the corpus's
        distinct terms — invariant pinned in tests). m rows max."""
        return self._read("hll").groupBy("idx").agg(F.max("r").alias("r"))

    def positional_postings(self) -> DataFrame:
        """The incrementally-maintained positional index
        (term, id, pos); requires ``positional=True``."""
        return self._read("positions")

    def phrase_search(self, phrase: list[str], k: int = 10) -> DataFrame:
        """Exact-phrase top-k over the maintained positional index —
        identical results to operators/retrieval.phrase_search over
        ``corpus()`` (positions are doc-local)."""
        from pyspark.sql import Window as W

        pp = self.positional_postings()
        first = pp.filter(F.col("term") == phrase[0]).select(self.id_col, "pos")
        hits = first
        for i, t in enumerate(phrase[1:], start=1):
            nxt = pp.filter(F.col("term") == t).select(
                F.col(self.id_col), (F.col("pos") - i).alias("pos")
            )
            hits = hits.join(nxt, [self.id_col, "pos"])
        perdoc = hits.groupBy(self.id_col).agg(F.count(F.lit(1)).alias("n_hits"))
        lim = perdoc.orderBy(
            F.col("n_hits").desc(), F.col(self.id_col).asc()
        ).limit(k)
        w = W.orderBy(F.col("n_hits").desc(), F.col(self.id_col).asc())
        return lim.withColumn("rank", F.row_number().over(w))

    def doclen_sketch(self) -> DataFrame:
        """The maintained HDR doc-length histogram: per-batch bucket
        counts merged by sum (equal to a from-scratch build over the
        corpus's doc lengths — invariant pinned in tests)."""
        return self._read("hdr").groupBy("bid").agg(F.sum("c").alias("c"))

    def doclen_quantiles(self, quantiles: list[float]) -> DataFrame:
        """Corpus doc-length percentiles (token counts) answered from
        the maintained bucket model — within 2^-5 relative error,
        without rescanning a single document."""
        from ..operators.quantiles import hdr_quantiles

        return hdr_quantiles(self.doclen_sketch(), quantiles)

    def distinct_terms_estimate(self) -> DataFrame:
        """One-row distinct-term cardinality estimate of the standing
        corpus, answered from 512 bytes of maintained state."""
        from ..operators.hll import hll_estimate

        return hll_estimate(self.hll_sketch())


def _drive(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    schema: str,
    step,
    tick: str | None = None,
    on_batch=None,
    max_files_per_trigger: int | None = None,
):
    """The one Structured Streaming driver of the ingest front doors:
    JSON files under ``src_dir`` feed ``step(batch_df, batch_id) ->
    stats`` once per micro-batch. Without a ``tick`` it drains what is
    there (availableNow — the catch-up phase) and returns every
    micro-batch's stats; with one it runs live on a processingTime
    trigger, hands each batch's stats to ``on_batch`` and returns the
    running query."""
    stats: list[dict] = []
    report = stats.append if tick is None else on_batch

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        out = step(batch_df, batch_id)
        if report is not None:
            report(out)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    trigger = {"availableNow": True} if tick is None else {"processingTime": tick}
    q = (
        reader.json(src_dir)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**trigger)
        .start()
    )
    if tick is not None:
        return q
    q.awaitTermination()
    return stats


def run_ingest_stream(
    spark: SparkSession,
    src_dir: str,
    corpus_dir: str,
    checkpoint_dir: str,
    schema: str = "doc_id long, text string, lang string, source string",
    quality_min_fp6: int = 500_000,
    near_dup: bool = False,
) -> list[dict]:
    """Drive CorpusIngestor from a Structured Streaming file source
    (availableNow drain — the catch-up phase; swap the trigger for
    processingTime to run live). Each micro-batch commits through
    ingest_batch; per-batch stats are collected for assertion/metrics."""
    ing = CorpusIngestor(spark, corpus_dir, quality_min_fp6=quality_min_fp6, near_dup=near_dup)
    return _drive(spark, src_dir, checkpoint_dir, schema, lambda df, _: ing.ingest_batch(df))


def run_ingest_live(
    spark: SparkSession,
    src_dir: str,
    corpus_dir: str,
    checkpoint_dir: str,
    schema: str = "doc_id long, text string, lang string, source string",
    quality_min_fp6: int = 500_000,
    tick: str = "1 second",
    on_batch=None,
    near_dup: bool = False,
):
    """Live ingest: same per-batch commit protocol as
    :func:`run_ingest_stream` but on a ``processingTime`` tick — files
    landing while the query runs are gated/deduped/appended within a
    tick (the corpus front door's steady state; the reference's live
    phase, src/runner.rs:322-355, for documents). Returns the running
    StreamingQuery — caller stops it. Restarting with the same
    checkpoint resumes; the digest index makes replays idempotent."""
    ing = CorpusIngestor(spark, corpus_dir, quality_min_fp6=quality_min_fp6, near_dup=near_dup)
    return _drive(
        spark, src_dir, checkpoint_dir, schema, lambda df, _: ing.ingest_batch(df),
        tick=tick, on_batch=on_batch,
    )


class VectorIngestor(_Stored):
    """Continuous EMBEDDING ingestion — the vector twin of
    :class:`CorpusIngestor`: each batch of (vec_id, embedding[, ...])
    rows is exact-deduplicated (value digest), near-deduplicated against
    everything already ingested via incremental hyperplane-LSH
    (``similarity.hyperplane_delta_pairs`` band-probes the persisted
    signature index — O(batch × bands) per batch, base×base never
    redone) with exact-cosine verification on the candidates only, and
    committed to a parquet vector store.

    Scale shape per batch: signatures are pure JVM folds on the batch;
    the band probe is an equi-join against a (vec_id, hsig) index —
    O(corpus vectors) narrow rows, not the vectors themselves; cosine
    verification joins ONLY candidate ids back to the stores. Vectors,
    signatures and digests commit together in one pointer swap
    (:class:`BatchStores`), the same as the document gate.
    """

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        dim: int,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        planes: int = 16,
        n_bands: int = 4,
        cosine_threshold: float = 0.98,
    ) -> None:
        self.spark = spark
        self._stores = BatchStores(
            spark,
            store_dir,
            {
                "vectors": f"{id_col} long, {vec_col} array<double>",
                "hsigs": f"{id_col} long, hsig string",
                "digests": f"digest string, {id_col} long",
            },
        )
        self.vectors_path = self._stores.path("vectors")
        self.dim = dim
        self.id_col = id_col
        self.vec_col = vec_col
        self.planes = planes
        self.n_bands = n_bands
        self.cosine_threshold = cosine_threshold

    def _hsigs(self) -> DataFrame:
        return self._read("hsigs").drop("_seq")

    def _digests(self) -> DataFrame:
        return self._read("digests").drop("_seq")

    def vectors(self) -> DataFrame:
        return self._read("vectors").drop("_seq")

    def history_vectors(self) -> DataFrame:
        """Visible (id, vector) history for the verify join."""
        return self._read("vectors").select(self.id_col, self.vec_col)

    def ingest_batch(self, vecs: DataFrame) -> dict:
        from ..operators import similarity as S

        with self._stores.batch(self._SEQ_STEP):
            arrived = vecs.count()
            # value digest: exact float-wise identity (deterministic JVM
            # float→string rendering on both writer and prober)
            digest = F.md5(
                F.concat_ws(",", F.transform(F.col(self.vec_col), lambda x: x.cast("string")))
            )
            with_digest = vecs.withColumn("digest", digest)
            rec = F.struct(*[F.col(c) for c in with_digest.columns])
            in_batch = (
                with_digest.groupBy("digest")
                .agg(F.min_by(rec, F.col(self.id_col)).alias("_rec"))
                .select("_rec.*")
            )
            # no committed index: no anti-join (see the document gate)
            fresh = (
                in_batch.join(self._digests(), "digest", "left_anti")
                if self._committed("digests")
                else in_batch
            ).persist()
            try:
                # same materialization discipline as the document gate: the
                # batch signatures and the verified pair set are each
                # computed ONCE (lazily, the signature fold re-ran for the
                # band probe and the hsigs write, and the cosine-verify
                # join re-ran for the admission count and every write)
                sig_new = S.hyperplane_signature(
                    fresh, self.dim, self.vec_col, self.id_col, planes=self.planes
                ).localCheckpoint()
                cand = S.hyperplane_delta_pairs(
                    self._hsigs(), sig_new, self.id_col, self.planes, self.n_bands
                )
                # exact-cosine verify on candidates only: ids join back to
                # the vector store (history) ∪ the batch — candidate-sized
                all_vecs = self.history_vectors().unionByName(
                    fresh.select(self.id_col, self.vec_col)
                )
                va = all_vecs.select(F.col(self.id_col).alias("id_a"), F.col(self.vec_col).alias("_ea"))
                vb = all_vecs.select(F.col(self.id_col).alias("id_b"), F.col(self.vec_col).alias("_eb"))
                near = (
                    F.broadcast(cand)
                    .join(va, "id_a")
                    .join(vb, "id_b")
                    .filter(_cosine_ge(F.col("_ea"), F.col("_eb"), self.cosine_threshold))
                    .select("id_a", "id_b")
                    .localCheckpoint()
                )
                drops = _directed_drops(near, fresh.select(self.id_col), self.id_col)
                accepted_df = fresh.join(drops, self.id_col, "left_anti").persist()
                try:
                    accepted = accepted_df.count()
                    if accepted:
                        self._write("vectors", accepted_df.drop("digest"))
                        self._write("hsigs", sig_new.join(drops, self.id_col, "left_anti"))
                        self._write(
                            "digests",
                            accepted_df.select(
                                "digest", F.col(self.id_col).cast("long").alias(self.id_col)
                            ),
                        )
                finally:
                    accepted_df.unpersist()
            finally:
                fresh.unpersist()
        return {"arrived": arrived, "accepted": accepted}


def run_vector_ingest_stream(
    spark: SparkSession,
    src_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    dim: int,
    schema: str | None = None,
    cosine_threshold: float = 0.98,
) -> list[dict]:
    """Drive :class:`VectorIngestor` from a Structured Streaming file
    source (availableNow drain; swap the trigger for processingTime to
    run live) — the embedding twin of :func:`run_ingest_stream`. Source
    files are JSON rows of (vec_id, embedding). Each micro-batch
    commits through ``ingest_batch``; per-batch stats are returned."""
    schema = schema or "vec_id long, embedding array<double>"
    ing = VectorIngestor(spark, store_dir, dim=dim, cosine_threshold=cosine_threshold)
    return _drive(spark, src_dir, checkpoint_dir, schema, lambda df, _: ing.ingest_batch(df))
