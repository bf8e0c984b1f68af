"""Oracle-gated mutable-corpus lifecycle replay.

``streaming/mutable.py`` implements the engine's retraction contract —
the −1 side of the reference's (record, ±mult) delta semantics
(/root/reference/src/flow.rs:129-146) applied to a document corpus:
tombstone visibility, digest re-admission after retraction, upsert =
retract-then-reingest, and affected-component cluster relabeling. Until
this round that surface was pytest-verified only (the driver gate is
batch). This module puts it under the same DuckDB value-hash gate as
every other operator: a FIXED scripted sequence of ingest / retract /
upsert batches runs through :class:`MutableCorpusIngestor` (near-dup
gate ON), and the oracle replays the identical sequence in pure SQL —
per-batch quality gate → intra-batch digest dedup → admission anti-join
against the *visible* digest index → MinHash banded delta-pairs against
the *visible* signature index → estimator verify → directed drops —
then derives the final corpus view and cluster labels.

Cluster-label equivalence: the engine maintains labels incrementally
(delta-CC per ingest, affected-component recompute per retract). Min-id
connected components is history-independent given the final node and
edge sets, and both evolutions preserve "label = min member id", so the
oracle computes the end-state labeling directly as a recursive-CTE
transitive closure over the FINAL visible edge set (an edge dies when
an endpoint is tombstoned at-or-after the edge's seq; re-adding the
endpoint later does not resurrect it) plus self-nodes for every
arrival that reached the near-dup stage and is still visible.

The scripted sequence (all predicates on ``documents``):

  B1 ingest  : doc_id % 3 == 0                          (seq 1)
  B2 ingest  : doc_id % 3 == 1                          (seq 2)
  B3 retract : doc_id % 5 == 0                          (tombstones upto_seq=2)
  B4 upsert  : doc_id % 3 == 2  (new arrivals)
             ∪ doc_id % 6 == 0  with text || ' (rev 2)' (revisions)
               → internal retract of still-visible ids (upto_seq=2),
                 then one combined ingest               (seq 3)

Scale shape: identical to the ingest gate it drives — per batch
O(batch) quality/digest work, an anti-join against the digest INDEX,
and banded LSH probes against the signature INDEX; the tombstone table
is retraction-count-sized and broadcast-joins every reader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cache
from ..sources import load_table
from . import register
from .text import QUALITY_FP6_SQL

QUALITY_MIN_FP6 = 500_000  # fp6 integer gate (== 0.5)
NUM_HASHES = 8
MIN_AGREE = 4  # sim_threshold 0.5 over 8 hashes
_BANDS = "(0, h0, h1), (1, h2, h3), (2, h4, h5), (3, h6, h7)"
_AGREE = " + ".join(f"(sa.h{s} = sb.h{s})::INT" for s in range(NUM_HASHES))
_SIG_COLS = ", ".join(f"h{s}" for s in range(NUM_HASHES))


def _gate_sql(tag: str, src: str, vidx: str | None, vsig: str | None) -> str:
    """CTE chain for one ingest batch ``tag`` reading documents from CTE
    ``src`` (doc_id, text), admission-gated against visible digest index
    ``vidx`` (digest) and near-dup-gated against visible signature index
    ``vsig`` (doc_id, h0..h7). Emits f{tag} (fresh pre-gate rows),
    near{tag} (verified pairs), acc{tag} (accepted rows) and
    accsig{tag} (accepted signatures)."""
    fresh = (
        f"SELECT * FROM b{tag} WHERE digest NOT IN (SELECT digest FROM {vidx})"
        if vidx
        else f"SELECT * FROM b{tag}"
    )
    if vsig:
        bands_all = (
            f"SELECT doc_id, band, s1, s2 FROM {vsig}, LATERAL (VALUES {_BANDS})"
            f" AS v(band, s1, s2) UNION ALL SELECT * FROM bn{tag}"
        )
        all_sigs = f"SELECT * FROM {vsig} UNION ALL SELECT * FROM sig{tag}"
    else:
        bands_all = f"SELECT * FROM bn{tag}"
        all_sigs = f"SELECT * FROM sig{tag}"
    return f"""
q{tag} AS MATERIALIZED (
  SELECT doc_id, text, string_split(text, ' ') AS tokens
  FROM {src}
), g{tag} AS MATERIALIZED (
  SELECT doc_id, text FROM q{tag}
  WHERE {QUALITY_FP6_SQL} >= {QUALITY_MIN_FP6}
), d{tag} AS MATERIALIZED (
  SELECT doc_id, text, md5(text) AS digest FROM g{tag}
), b{tag} AS MATERIALIZED (
  SELECT * FROM d{tag} WHERE doc_id IN (SELECT min(doc_id) FROM d{tag} GROUP BY digest)
), f{tag} AS MATERIALIZED (
  {fresh}
), sh{tag} AS MATERIALIZED (
  SELECT DISTINCT doc_id, unnest(
    list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
                   i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' '))
  ) AS shingle
  FROM f{tag} WHERE len(string_split(text, ' ')) >= 3
), sig{tag} AS MATERIALIZED (
  SELECT doc_id,
         {", ".join(f"min(('0x' || substr(md5(shingle), 1, 15))::BIGINT + {s} * ('0x' || substr(md5(shingle), 17, 15))::BIGINT) AS h{s}" for s in range(NUM_HASHES))}
  FROM sh{tag} GROUP BY doc_id
), bn{tag} AS MATERIALIZED (
  SELECT doc_id, band, s1, s2 FROM sig{tag}, LATERAL (VALUES {_BANDS}) AS v(band, s1, s2)
), ba{tag} AS MATERIALIZED (
  {bands_all}
), cp{tag} AS MATERIALIZED (
  SELECT DISTINCT least(n.doc_id, a.doc_id) AS id_a, greatest(n.doc_id, a.doc_id) AS id_b
  FROM bn{tag} n JOIN ba{tag} a ON n.band = a.band AND n.s1 = a.s1 AND n.s2 = a.s2
  WHERE n.doc_id <> a.doc_id
), asg{tag} AS MATERIALIZED (
  {all_sigs}
), near{tag} AS MATERIALIZED (
  SELECT c.id_a, c.id_b
  FROM cp{tag} c JOIN asg{tag} sa ON sa.doc_id = c.id_a JOIN asg{tag} sb ON sb.doc_id = c.id_b
  WHERE {_AGREE} >= {MIN_AGREE}
), dir{tag} AS MATERIALIZED (
  SELECT id_a AS x, id_b AS p FROM near{tag}
  UNION ALL SELECT id_b, id_a FROM near{tag}
), drop{tag} AS MATERIALIZED (
  SELECT DISTINCT x FROM dir{tag}
  WHERE x IN (SELECT doc_id FROM f{tag})
    AND (p NOT IN (SELECT doc_id FROM f{tag}) OR p < x)
), acc{tag} AS MATERIALIZED (
  SELECT * FROM f{tag} WHERE doc_id NOT IN (SELECT x FROM drop{tag})
), accsig{tag} AS MATERIALIZED (
  SELECT * FROM sig{tag} WHERE doc_id NOT IN (SELECT x FROM drop{tag})
)"""


MUTABLE_REPLAY_ORACLE = f"""
WITH RECURSIVE
src1 AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
src2 AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1),
src4 AS MATERIALIZED (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2
  UNION ALL
  SELECT doc_id, text || ' (rev 2)' AS text FROM documents WHERE doc_id % 6 = 0
),
{_gate_sql("1", "src1", None, None)},
{_gate_sql("2", "src2", "(SELECT digest FROM acc1)", "accsig1")},
t3 AS MATERIALIZED (SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
idx12 AS MATERIALIZED (
  SELECT digest, doc_id, 1 AS seq FROM acc1
  UNION ALL SELECT digest, doc_id, 2 AS seq FROM acc2
),
t4 AS MATERIALIZED (
  SELECT DISTINCT i.doc_id FROM idx12 i JOIN src4 s ON s.doc_id = i.doc_id
  WHERE i.doc_id NOT IN (SELECT doc_id FROM t3)
),
toms AS MATERIALIZED (SELECT doc_id FROM t3 UNION SELECT doc_id FROM t4),
vidx4 AS MATERIALIZED (SELECT digest FROM idx12 WHERE doc_id NOT IN (SELECT doc_id FROM toms)),
vsig4 AS MATERIALIZED (
  SELECT * FROM (SELECT * FROM accsig1 UNION ALL SELECT * FROM accsig2)
  WHERE doc_id NOT IN (SELECT doc_id FROM toms)
),
{_gate_sql("4", "src4", "vidx4", "vsig4")},
corpus AS MATERIALIZED (
  SELECT doc_id, md5(text) AS digest, 1 AS seq FROM acc1
  WHERE doc_id NOT IN (SELECT doc_id FROM toms)
  UNION ALL
  SELECT doc_id, md5(text), 2 FROM acc2 WHERE doc_id NOT IN (SELECT doc_id FROM toms)
  UNION ALL
  SELECT doc_id, md5(text), 3 FROM acc4
),
nodes AS MATERIALIZED (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id FROM f1 WHERE doc_id NOT IN (SELECT doc_id FROM toms)
    UNION ALL SELECT doc_id FROM f2 WHERE doc_id NOT IN (SELECT doc_id FROM toms)
    UNION ALL SELECT doc_id FROM f4
  )
),
edges AS MATERIALIZED (
  SELECT id_a, id_b FROM near1
  WHERE id_a NOT IN (SELECT doc_id FROM toms) AND id_b NOT IN (SELECT doc_id FROM toms)
  UNION
  SELECT id_a, id_b FROM near2
  WHERE id_a NOT IN (SELECT doc_id FROM toms) AND id_b NOT IN (SELECT doc_id FROM toms)
  UNION
  SELECT id_a, id_b FROM near4
),
sym AS MATERIALIZED (
  SELECT id_a AS s, id_b AS d FROM edges UNION SELECT id_b, id_a FROM edges
),
cc AS (
  SELECT doc_id AS node, doc_id AS comp FROM nodes
  UNION
  SELECT e.d, c.comp FROM cc c JOIN sym e ON e.s = c.node
),
labels AS MATERIALIZED (SELECT node, min(comp) AS component FROM cc GROUP BY node)
SELECT COALESCE(c.doc_id, l.node) AS doc_id, c.digest,
       CAST(c.seq AS BIGINT) AS seq, l.component
FROM corpus c FULL OUTER JOIN labels l ON l.node = c.doc_id
"""


@register("mutable_corpus_replay", oracle=MUTABLE_REPLAY_ORACLE)
def mutable_corpus_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the scripted B1..B4 lifecycle through the REAL mutable gate
    (fresh store per call; near-dup gate ON with the module defaults)
    and return (doc_id, digest, seq, component): the final visible
    corpus view full-outer-joined with the committed cluster labeling —
    both under the value hash. localCheckpoint pins the result so the
    returned plan no longer references the per-call store files."""
    import tempfile

    from ..streaming.mutable import MutableCorpusIngestor

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = cache.pin_dir(tempfile.mkdtemp(prefix="mutable_replay_"))
    ing = MutableCorpusIngestor(spark, base, quality_min_fp6=QUALITY_MIN_FP6, near_dup=True)
    ing.ingest_batch(docs.filter(F.col("doc_id") % 3 == 0))
    ing.ingest_batch(docs.filter(F.col("doc_id") % 3 == 1))
    ing.retract_batch(docs.filter(F.col("doc_id") % 5 == 0).select("doc_id"))
    batch4 = docs.filter(F.col("doc_id") % 3 == 2).unionByName(
        docs.filter(F.col("doc_id") % 6 == 0).withColumn(
            "text", F.concat(F.col("text"), F.lit(" (rev 2)"))
        )
    )
    ing.upsert_batch(batch4)
    return _corpus_view(ing)


@register("mutable_corpus_compact_replay", oracle=MUTABLE_REPLAY_ORACLE)
def mutable_corpus_compact_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same B1..B4 lifecycle, then :meth:`compact` — the physical
    reclaim (every store rewritten to its visible rows, tombstones
    cleared) — and the view re-read from the COMPACTED storage. Held to
    the IDENTICAL oracle as mutable_corpus_replay: compaction must
    preserve the logical corpus view and cluster labeling bit-for-bit,
    which is precisely the contract that makes background reclaim safe
    to run at any time on a 100 TB mutable corpus."""
    import tempfile

    from ..streaming.mutable import MutableCorpusIngestor

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = cache.pin_dir(tempfile.mkdtemp(prefix="mutable_compact_"))
    ing = MutableCorpusIngestor(spark, base, quality_min_fp6=QUALITY_MIN_FP6, near_dup=True)
    ing.ingest_batch(docs.filter(F.col("doc_id") % 3 == 0))
    ing.ingest_batch(docs.filter(F.col("doc_id") % 3 == 1))
    ing.retract_batch(docs.filter(F.col("doc_id") % 5 == 0).select("doc_id"))
    batch4 = docs.filter(F.col("doc_id") % 3 == 2).unionByName(
        docs.filter(F.col("doc_id") % 6 == 0).withColumn(
            "text", F.concat(F.col("text"), F.lit(" (rev 2)"))
        )
    )
    ing.upsert_batch(batch4)
    ing.compact()
    # post-compaction read: the raw store IS the visible view (the
    # tombstone filter stays in the reader to prove it is now a no-op)
    return _corpus_view(ing)


def _corpus_view(ing) -> DataFrame:
    """(doc_id, digest, seq, component): the visible corpus view
    full-outer-joined with the committed cluster labeling — the shared
    hashed output of every lifecycle-replay row."""
    view = ing._read("docs").select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("digest"),
        F.col("_seq").alias("seq"),
    )
    labels = ing.clusters().select(F.col("node").alias("doc_id"), "component")
    return view.join(labels, "doc_id", "full_outer").select(
        "doc_id", "digest", "seq", "component"
    ).localCheckpoint()


@register("cdc_ingest_replay", oracle=MUTABLE_REPLAY_ORACLE)
def cdc_ingest_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME B1..B4 lifecycle driven through the Structured
    Streaming CDC front door (streaming/mutable.run_cdc_ingest_stream)
    instead of direct ingestor calls: three JSON files dropped into a
    watched directory — B1 upserts, B2 upserts, then ONE file carrying
    the B3 deletes AND the B4 upserts together (each micro-batch
    applies deletes first, then upserts, so the combined file IS the
    B3→B4 sequence; upserting a fresh id tombstones nothing, so 'u' on
    B1/B2 equals plain ingest). maxFilesPerTrigger=1 under availableNow
    replays the files as ordered micro-batches (mtime order, pinned
    explicitly). Held to the IDENTICAL oracle as mutable_corpus_replay:
    the streaming path must land bit-for-bit the same corpus state and
    cluster labels as the batch path — the exactly-once-replay contract
    transposed from the reference's offset-resume sinks
    (/root/reference/src/db/db.rs:60-96) onto the ingest plane."""
    import os
    import shutil
    import tempfile

    from ..streaming.mutable import MutableCorpusIngestor, run_cdc_ingest_stream

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = cache.pin_dir(tempfile.mkdtemp(prefix="cdc_replay_"))
    src = os.path.join(base, "src")
    os.makedirs(src)
    b1 = docs.filter(F.col("doc_id") % 3 == 0).withColumn("op", F.lit("u"))
    b2 = docs.filter(F.col("doc_id") % 3 == 1).withColumn("op", F.lit("u"))
    b34 = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select("doc_id", F.lit(None).cast("string").alias("text"), F.lit("d").alias("op"))
        .unionByName(docs.filter(F.col("doc_id") % 3 == 2).withColumn("op", F.lit("u")))
        .unionByName(
            docs.filter(F.col("doc_id") % 6 == 0)
            .withColumn("text", F.concat(F.col("text"), F.lit(" (rev 2)")))
            .withColumn("op", F.lit("u"))
        )
    )
    for i, bdf in enumerate((b1, b2, b34)):
        stage = os.path.join(base, f"stage{i}")
        bdf.coalesce(1).write.json(stage)
        part = next(p for p in os.listdir(stage) if p.endswith(".json"))
        dst = os.path.join(src, f"batch{i}.json")
        shutil.move(os.path.join(stage, part), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))  # pin mtime order
    run_cdc_ingest_stream(
        spark,
        src,
        os.path.join(base, "corpus"),
        os.path.join(base, "ckpt"),
        schema="doc_id long, text string, op string",
        quality_min_fp6=QUALITY_MIN_FP6,
        near_dup=True,
        max_files_per_trigger=1,
    )
    ing = MutableCorpusIngestor(
        spark, os.path.join(base, "corpus"), quality_min_fp6=QUALITY_MIN_FP6, near_dup=True
    )
    return _corpus_view(ing)
