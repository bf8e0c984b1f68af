"""Continuous corpus ingestion: the training-data pipeline's streaming
front door. Each micro-batch of raw documents is quality-gated,
deduplicated WITHIN the batch, deduplicated AGAINST everything already
ingested, and appended to a parquet corpus — so the corpus is
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
- accepted rows append to the corpus in one write, their digests to the
  index in a second. Ordering (corpus first, index last) makes a crash
  between the two REPLAY-safe: a digest missing from the index lets a
  duplicate in on retry, a digest present without its row would drop
  data — so the index is committed only after its rows (same
  mirror-pointer reasoning as sinks/writer.write_snapshots).

Used either directly (``CorpusIngestor.ingest_batch`` per epoch) or as
the foreachBatch of a Structured Streaming file/Kafka source
(:func:`run_ingest_stream` — availableNow drain or live trigger).

Reference parity: this is the reference's ingest-dedupe-materialize
lifecycle (src/runner.rs replay/catch-up/live) instantiated for a
document corpus instead of a SQL mirror.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import text as X

DIGEST_SCHEMA = "digest string, doc_id long"


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


class CorpusIngestor:
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
        epochs: bool = False,
    ) -> None:
        self.spark = spark
        self.docs_path = os.path.join(corpus_dir, "docs")
        self.index_path = os.path.join(corpus_dir, "digests")
        self.sigs_path = os.path.join(corpus_dir, "sigs")
        self.clusters_path = os.path.join(corpus_dir, "clusters")
        self.postings_flag = postings
        self.postings_path = os.path.join(corpus_dir, "postings")
        self.doclen_path = os.path.join(corpus_dir, "doclens")
        self.cms_path = os.path.join(corpus_dir, "cms")
        self.hll_path = os.path.join(corpus_dir, "hll")
        self.hdr_path = os.path.join(corpus_dir, "hdr")
        self.positional_flag = positional
        self.positions_path = os.path.join(corpus_dir, "positions")
        self.epochs_flag = epochs
        self.epoch_file = os.path.join(corpus_dir, "_EPOCH")
        self.quality_min_fp6 = quality_min_fp6
        self.id_col = id_col
        self.text_col = text_col
        self.near_dup = near_dup
        self.num_hashes = num_hashes
        self.band_size = band_size
        self.sim_threshold = sim_threshold

    def _read_or_empty(self, path: str, schema: str) -> DataFrame:
        """Empty frame ONLY for a genuinely absent/empty index. A
        corrupt or unreadable index must raise: silently treating it as
        empty would disable dedup for the batch and pollute the corpus
        with re-ingested duplicates."""
        if os.path.isdir(path):
            import glob

            if glob.glob(os.path.join(path, "*.parquet")) or glob.glob(
                os.path.join(path, "part-*")
            ):
                return self.spark.read.parquet(path)
        return self.spark.createDataFrame([], schema)

    def _index(self) -> DataFrame:
        return self._read_or_empty(self.index_path, DIGEST_SCHEMA)

    def _sig_schema(self) -> str:
        hs = ", ".join(f"h{s} long" for s in range(self.num_hashes))
        return f"{self.id_col} long, {hs}"

    def _sigs(self) -> DataFrame:
        return self._read_or_empty(self.sigs_path, self._sig_schema())

    # -- incremental cluster labels (near_dup mode) ---------------------
    #
    # The labels table (node, component) covers every doc that reached
    # the near-dup stage — including REJECTED near-dups, whose label is
    # their provenance ("this arrival belongs to cluster X"); exact-dup
    # arrivals never reach it (their cluster is their digest-twin's).
    # Merges can relabel HISTORIC nodes, so each batch commits a full
    # new labeling. Crash safety uses the mirror-pointer pattern
    # (sinks/writer.py): labels land in an epoch directory keyed by the
    # batch fingerprint, then a pointer file swaps atomically
    # (os.replace) — a crash mid-write leaves the pointer on the old,
    # complete epoch; a replayed batch maps to the same epoch directory
    # and overwrites it. At corpus scale this table is two longs per
    # ingested doc — doc-count-sized metadata, not corpus-sized data.

    def _clusters_current(self) -> str | None:
        try:
            with open(os.path.join(self.clusters_path, "_CURRENT")) as f:
                return f.read().strip() or None
        except FileNotFoundError:
            return None

    def clusters(self) -> DataFrame:
        """The committed (node, component) labeling."""
        epoch = self._clusters_current()
        if epoch is None:
            return self.spark.createDataFrame([], "node long, component long")
        return self.spark.read.parquet(os.path.join(self.clusters_path, epoch))

    def _commit_clusters(self, labels: DataFrame, epoch: str) -> None:
        target = os.path.join(self.clusters_path, epoch)
        labels.write.mode("overwrite").parquet(target)
        os.makedirs(self.clusters_path, exist_ok=True)
        tmp = os.path.join(self.clusters_path, "_CURRENT.tmp")
        with open(tmp, "w") as f:
            f.write(epoch)
        os.replace(tmp, os.path.join(self.clusters_path, "_CURRENT"))
        # prune superseded epochs (best-effort; pointer already moved)
        import shutil

        for d in os.listdir(self.clusters_path):
            if d not in (epoch, "_CURRENT") and not d.startswith("_CURRENT"):
                shutil.rmtree(os.path.join(self.clusters_path, d), ignore_errors=True)

    def _maintain_clusters(self, batch_nodes: DataFrame, near_pairs: DataFrame) -> str:
        """Fold this batch's verified near-dup edges into the standing
        labeling (operators.dedup.connected_components_delta — prior
        labels enter as depth-1 star edges, so only delta chains need
        contracting). Batch docs with no partner enter as self-pairs and
        come out singletons. Returns the committed epoch key."""
        from ..operators.dedup import connected_components_delta

        ids = batch_nodes.select(F.col(self.id_col).cast("long").alias("_id"))
        fp = ids.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.min("_id"), F.lit(0)).alias("lo"),
            F.coalesce(F.max("_id"), F.lit(0)).alias("hi"),
            F.coalesce(F.sum("_id"), F.lit(0)).alias("s"),
        ).first()
        epoch = f"n{fp['n']}_lo{fp['lo']}_hi{fp['hi']}_s{fp['s']}"
        selfs = ids.select(F.col("_id").alias("id_a"), F.col("_id").alias("id_b"))
        edges = near_pairs.select("id_a", "id_b").unionByName(selfs)
        new_labels = connected_components_delta(self.clusters(), edges)
        # localCheckpoint: materialize BEFORE the write so the plan no
        # longer references the previous epoch's files (and CC's
        # iterative lineage is cut); checkpoint() on a real cluster
        self._commit_clusters(new_labels.localCheckpoint(), epoch)
        return epoch

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
        sides of the estimator join, and the signature append all read
        the same computed rows (lazily, minhash ran once per consumer:
        3×+ per batch) — and the verified pair set is checkpointed
        before anything derives from it, because drops/accepted/
        accepted_sigs/cluster-maintenance each re-ran the whole
        estimator join when ``near`` stayed lazy. Checkpointing near
        here also pins the edge set as of the PRE-APPEND signature
        index (cluster maintenance runs after this batch's sigs land —
        a lazy plan would see the batch's own rows in the index). Both
        frames are model-sized: O(batch) signatures, verified pairs.
        At cluster scale swap localCheckpoint for reliable
        checkpoint()."""
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
        """Gate, dedup (intra-batch then vs history), append. Returns
        counts {'arrived', 'gated', 'accepted'} for observability."""
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
        gated = docs.join(
            scored.filter(F.col("quality_fp6") >= self.quality_min_fp6), self.id_col
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
        # cross-history dedup: anti-join on the digest index only
        fresh = in_batch.join(self._index(), "digest", "left_anti")
        sigs = None
        near = None
        pre_gate = None
        if self.near_dup:
            pre_gate = fresh.persist()  # nodes entering the near-dup stage
            # the gate checkpoints the batch signatures and the verified
            # pair set internally (see _near_dup_gate) — sigs/near are
            # cheap model-sized reads from here on
            fresh, sigs, near = self._near_dup_gate(pre_gate)
        # Write order = corpus → signatures → clusters → digest index.
        # The digest index is the ADMISSION GATE (the anti-join), so it
        # commits LAST: a crash anywhere earlier re-admits the batch on
        # replay (at-least-once duplicates, recoverable) — whereas
        # committing the digest before the sigs/clusters would gate the
        # docs out forever with their signatures permanently missing
        # from the near-dup index (silent recall loss, unrecoverable).
        # Cluster maintenance runs even when accepted == 0: a batch of
        # pure near-dup rejects still merges its arrivals' labels.
        out = fresh.persist()
        try:
            accepted = out.count()
            if accepted:
                if self.epochs_flag:
                    # epoch-partitioned layout => TIME TRAVEL: corpus
                    # state as of any batch is a partition-pruned read
                    # (_epoch <= n), the lakehouse snapshot pattern with
                    # plain parquet. The counter bumps AFTER the write:
                    # a crash between them replays the batch into the
                    # SAME epoch directory (at-least-once, consistent
                    # with the admission-gate posture).
                    seq = self.current_epoch() + 1
                    (
                        out.drop("digest")
                        .withColumn("_epoch", F.lit(seq))
                        .write.mode("append")
                        .partitionBy("_epoch")
                        .parquet(self.docs_path)
                    )
                    tmp = self.epoch_file + ".tmp"
                    with open(tmp, "w") as f:
                        f.write(str(seq))
                    os.replace(tmp, self.epoch_file)
                else:
                    out.drop("digest").write.mode("append").parquet(self.docs_path)
                if sigs is not None:
                    sigs.write.mode("append").parquet(self.sigs_path)
                if self.postings_flag:
                    # Inverted-index maintenance is embarrassingly
                    # incremental: tf is doc-local, so the batch's
                    # postings/doclens just append; df, N, Σdl are
                    # query-time aggregates over the merged index
                    # (bm25_from_index), so the maintained index scores
                    # EXACTLY like a from-scratch rebuild — invariant
                    # pinned in tests/test_streaming.py. Same
                    # at-least-once posture as the corpus append
                    # (commits before the digest admission gate).
                    from ..operators.cms import cms_build
                    from ..operators.retrieval import build_postings

                    post, dl = build_postings(
                        out.drop("digest"), self.id_col, self.text_col
                    )
                    post.write.mode("append").parquet(self.postings_path)
                    dl.write.mode("append").parquet(self.doclen_path)
                    # the count-min sketch is a commutative monoid —
                    # per-batch partial cells append; readers merge by
                    # sum over (row, bucket) (cms_sketch()), identical
                    # to a from-scratch build over the corpus
                    cms_build(post, item_col="term", weight_col="tf").write.mode(
                        "append"
                    ).parquet(self.cms_path)
                    # ... and the HyperLogLog registers are a max-monoid:
                    # per-batch registers append, readers merge by max
                    # (hll_sketch()) — distinct-term cardinality tracks
                    # the growing corpus at 512 bytes of state
                    from ..operators.hll import hll_registers

                    hll_registers(post, "term").write.mode("append").parquet(
                        self.hll_path
                    )
                    # ... and the HDR doc-length histogram is a
                    # sum-monoid like the CMS: per-batch bucket counts
                    # append, readers merge by sum — corpus length
                    # percentiles from a few KB of maintained state
                    from ..operators.quantiles import hdr_build

                    hdr_build(
                        dl.select(F.col("dl").cast("long").alias("dl")), "dl"
                    ).write.mode("append").parquet(self.hdr_path)
                    if self.positional_flag:
                        # positions are doc-local like tf, so the
                        # phrase index appends too — phrase queries
                        # over the merged index match a from-scratch
                        # build exactly
                        from ..operators.retrieval import (
                            build_positional_postings,
                        )

                        build_positional_postings(
                            out.drop("digest"), self.id_col, self.text_col
                        ).write.mode("append").parquet(self.positions_path)
            if pre_gate is not None and pre_gate.limit(1).count():
                self._maintain_clusters(pre_gate, near)
            if accepted:
                out.select(
                    "digest", F.col(self.id_col).cast("long").alias("doc_id")
                ).write.mode("append").parquet(self.index_path)
        finally:
            out.unpersist()
            if pre_gate is not None:
                pre_gate.unpersist()
        return {"arrived": arrived, "gated": n_gated, "accepted": accepted}

    def corpus(self) -> DataFrame:
        df = self.spark.read.parquet(self.docs_path)
        return df.drop("_epoch") if "_epoch" in df.columns else df

    def current_epoch(self) -> int:
        try:
            with open(self.epoch_file) as f:
                return int(f.read().strip() or 0)
        except FileNotFoundError:
            return 0

    def corpus_asof(self, epoch: int) -> DataFrame:
        """The corpus exactly as it stood after ingest batch ``epoch``
        (requires ``epochs=True``). A partition-pruned read — the scan
        touches only ``_epoch <= epoch`` directories (PartitionFilters,
        plan-asserted in tests), so historical snapshots cost
        proportional-to-snapshot I/O, not full-corpus I/O."""
        df = self.spark.read.parquet(self.docs_path)
        return df.filter(F.col("_epoch") <= epoch).drop("_epoch")

    def postings(self) -> DataFrame:
        """The incrementally-maintained inverted index (term, id, tf)."""
        return self._read_or_empty(
            self.postings_path, f"term string, {self.id_col} long, tf long"
        )

    def doclens(self) -> DataFrame:
        return self._read_or_empty(self.doclen_path, f"{self.id_col} long, dl int")

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
        parts = self._read_or_empty(self.cms_path, "row int, bucket long, c long")
        return parts.groupBy("row", "bucket").agg(F.sum("c").alias("c"))

    def hll_sketch(self) -> DataFrame:
        """The maintained HyperLogLog register table: per-batch
        registers merged by max (max is the sketch's monoid, so the
        merged table equals a from-scratch build over the corpus's
        distinct terms — invariant pinned in tests). m rows max."""
        parts = self._read_or_empty(self.hll_path, "idx long, r int")
        return parts.groupBy("idx").agg(F.max("r").alias("r"))

    def positional_postings(self) -> DataFrame:
        """The incrementally-maintained positional index
        (term, id, pos); requires ``positional=True``."""
        return self._read_or_empty(
            self.positions_path, f"{self.id_col} long, term string, pos int"
        )

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
        parts = self._read_or_empty(self.hdr_path, "bid long, c long")
        return parts.groupBy("bid").agg(F.sum("c").alias("c"))

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
    stats: list[dict] = []

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        stats.append(ing.ingest_batch(batch_df))

    q = (
        spark.readStream.schema(schema)
        .json(src_dir)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stats


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

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        stats = ing.ingest_batch(batch_df)
        if on_batch is not None:
            on_batch(stats)

    return (
        spark.readStream.schema(schema)
        .json(src_dir)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=tick)
        .start()
    )


class VectorIngestor:
    """Continuous EMBEDDING ingestion — the vector twin of
    :class:`CorpusIngestor`: each batch of (vec_id, embedding[, ...])
    rows is exact-deduplicated (value digest), near-deduplicated against
    everything already ingested via incremental hyperplane-LSH
    (``similarity.hyperplane_delta_pairs`` band-probes the persisted
    signature index — O(batch × bands) per batch, base×base never
    redone) with exact-cosine verification on the candidates only, and
    appended to a parquet vector store.

    Scale shape per batch: signatures are pure JVM folds on the batch;
    the band probe is an equi-join against a (vec_id, hsig) index —
    O(corpus vectors) narrow rows, not the vectors themselves; cosine
    verification joins ONLY candidate ids back to the stores. Write
    order = vectors → signatures → digest index (admission gate LAST,
    same replay reasoning as the document gate).
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
        self.vectors_path = os.path.join(store_dir, "vectors")
        self.hsigs_path = os.path.join(store_dir, "hsigs")
        self.index_path = os.path.join(store_dir, "digests")
        self.dim = dim
        self.id_col = id_col
        self.vec_col = vec_col
        self.planes = planes
        self.n_bands = n_bands
        self.cosine_threshold = cosine_threshold

    def _read_or_empty(self, path: str, schema: str) -> DataFrame:
        import glob

        if os.path.isdir(path) and (
            glob.glob(os.path.join(path, "*.parquet")) or glob.glob(os.path.join(path, "part-*"))
        ):
            return self.spark.read.parquet(path)
        return self.spark.createDataFrame([], schema)

    def _hsigs(self) -> DataFrame:
        return self._read_or_empty(self.hsigs_path, f"{self.id_col} long, hsig string")

    def _digests(self) -> DataFrame:
        return self._read_or_empty(self.index_path, f"digest string, {self.id_col} long")

    def vectors(self) -> DataFrame:
        return self.spark.read.parquet(self.vectors_path)

    def ingest_batch(self, vecs: DataFrame) -> dict:
        from ..operators import similarity as S

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
        fresh = in_batch.join(self._digests(), "digest", "left_anti").persist()
        try:
            # same materialization discipline as the document gate: the
            # batch signatures and the verified pair set are each
            # computed ONCE (lazily, the signature fold re-ran for the
            # band probe and the hsigs append, and the cosine-verify
            # join re-ran for the admission count and every write)
            sig_new = S.hyperplane_signature(
                fresh, self.dim, self.vec_col, self.id_col, planes=self.planes
            ).localCheckpoint()
            cand = S.hyperplane_delta_pairs(
                self._hsigs(), sig_new, self.id_col, self.planes, self.n_bands
            )
            # exact-cosine verify on candidates only: ids join back to
            # the vector store (history) ∪ the batch — candidate-sized
            all_vecs = self._read_or_empty(
                self.vectors_path, f"{self.id_col} long, {self.vec_col} array<double>"
            ).select(self.id_col, self.vec_col).unionByName(
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
            accepted = accepted_df.count()
            if accepted:
                accepted_df.drop("digest").write.mode("append").parquet(self.vectors_path)
                sig_new.join(drops, self.id_col, "left_anti").write.mode("append").parquet(
                    self.hsigs_path
                )
                accepted_df.select(
                    "digest", F.col(self.id_col).cast("long").alias(self.id_col)
                ).write.mode("append").parquet(self.index_path)
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
    stats: list[dict] = []

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        stats.append(ing.ingest_batch(batch_df))

    q = (
        spark.readStream.schema(schema)
        .json(src_dir)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stats
