"""Oracle-gated mutable VECTOR-store lifecycle replay.

The embedding twin of :mod:`plans.mutable`: ``streaming/ingest.py``'s
:class:`VectorIngestor` / ``streaming/mutable.py``'s
:class:`MutableVectorIngestor` implement the reference's (record, ±mult)
retraction contract (/root/reference/src/flow.rs:129-146) for a vector
store — exact value-identity dedup, incremental hyperplane-LSH near-dup
gating against a persisted signature index, tombstone retraction and
upsert-as-retract-then-reingest. Until this round that surface was
pytest-verified only; this module holds it to the same DuckDB value-hash
gate as the document lifecycle, through BOTH front doors:

- ``mutable_vectors_replay`` drives the scripted sequence through
  direct ``MutableVectorIngestor`` calls;
- ``cdc_vector_replay`` drives the IDENTICAL sequence through the
  Structured Streaming CDC source (op = 'u'/'d' rows, deletes applied
  before upserts within a batch) and must land bit-for-bit the same
  store state — the exactly-once-replay contract on the embedding
  plane.

The scripted sequence (over the ``embeddings`` table):

  B1 upsert : vec_id % 3 == 0 (fresh → plain ingest)      (seq 1)
  B2 upsert : vec_id % 3 == 1                              (seq 2)
  B3 one batch: delete vec_id % 5 == 0 (tombstones upto 2),
       then upsert vec_id % 3 == 2 (fresh)
            ∪ vec_id % 6 == 0 with REVERSED embedding (re-embeds:
              internal retract of still-visible ids, then ingest)
                                                           (seq 3)

Near-dup verification is the EXACT integer form (round-9 convention,
streaming/ingest._cosine_ge): cos >= 49/50 tested as
d9 >= 0 AND 2500·d9² >= 2401·na9·nb9 over the per-term
floor(x·y·1e9 + 0.5) BIGINT sums — each per-term double product is one
IEEE-exact operation, so every engine build lands on identical
integers; the double-quotient form could flip a candidate sitting
within one build's ulp of the threshold.

Scale shape: per batch O(batch) digest/signature work, band probes
against the (id, 16-bit sig) index — O(corpus) NARROW rows, vectors
never self-join — and cosine verification joins candidate ids only.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cache
from ..operators import similarity as S
from ..sources import load_table
from . import register

VDIM = 64
VPLANES = 16
VBANDS = 4
VCOS_THRESHOLD = 0.98
_FRAC = Fraction(str(VCOS_THRESHOLD))
_NUM2 = _FRAC.numerator**2  # 2401
_DEN2 = _FRAC.denominator**2  # 2500

_VSIGN_ROWS = ", ".join(
    f"({p}, {d + 1}, {s})"
    for p, row in enumerate(S.hyperplane_signs(VPLANES, VDIM))
    for d, s in enumerate(row)
)
_VBAND_ROWS = ", ".join(
    f"({b}, {st}, {w})" for b, (st, w) in enumerate(S.hyperplane_bands(VPLANES, VBANDS))
)


def _vgate_sql(tag: str, src: str, vidx: str | None, vsig: str | None) -> str:
    """CTE chain for one vector ingest batch ``tag`` reading
    (vec_id, embedding) from CTE ``src``, admission-gated against the
    visible store's exact embedding values ``vidx`` (the digest gate —
    md5-of-rendered-floats equality IS exact array equality, so the
    oracle joins on the list itself) and near-dup-gated against visible
    signatures ``vsig`` (vec_id, hsig). Emits f{tag} (fresh rows),
    sig{tag}, near{tag}, acc{tag}, accsig{tag}."""
    fresh = (
        f"SELECT b.* FROM vb{tag} b LEFT JOIN {vidx} i ON i.embedding = b.embedding"
        " WHERE i.embedding IS NULL"
        if vidx
        else f"SELECT * FROM vb{tag}"
    )
    if vsig:
        bands_all = (
            f"SELECT vec_id, b.band, substr(hsig, b.st, b.w) AS piece FROM {vsig},"
            f" LATERAL (VALUES {_VBAND_ROWS}) AS b(band, st, w)"
            f" UNION ALL SELECT * FROM vbn{tag}"
        )
    else:
        bands_all = f"SELECT * FROM vbn{tag}"
    hist = (
        f"SELECT vec_id, embedding FROM {vidx} UNION ALL SELECT vec_id, embedding FROM f{tag}"
        if vidx
        else f"SELECT vec_id, embedding FROM f{tag}"
    )
    return f"""
vb{tag} AS MATERIALIZED (
  SELECT min(vec_id) AS vec_id, embedding FROM {src} GROUP BY embedding
), f{tag} AS MATERIALIZED (
  {fresh}
), vhu{tag} AS MATERIALIZED (
  SELECT vec_id, unnest(embedding)::DOUBLE AS x,
         unnest(range(1, 1 + len(embedding))) AS d
  FROM f{tag}
), vproj{tag} AS MATERIALIZED (
  SELECT vhu{tag}.vec_id, signs.p, sum(vhu{tag}.x * signs.s) AS pr
  FROM vhu{tag} JOIN signs ON signs.d = vhu{tag}.d GROUP BY 1, 2
), sig{tag} AS MATERIALIZED (
  SELECT vec_id, string_agg(CASE WHEN pr > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS hsig
  FROM vproj{tag} GROUP BY 1
), vbn{tag} AS MATERIALIZED (
  SELECT vec_id, b.band, substr(hsig, b.st, b.w) AS piece
  FROM sig{tag}, LATERAL (VALUES {_VBAND_ROWS}) AS b(band, st, w)
), vba{tag} AS MATERIALIZED (
  {bands_all}
), vcp{tag} AS MATERIALIZED (
  SELECT DISTINCT least(n.vec_id, a.vec_id) AS id_a, greatest(n.vec_id, a.vec_id) AS id_b
  FROM vbn{tag} n JOIN vba{tag} a ON n.band = a.band AND n.piece = a.piece
  WHERE n.vec_id <> a.vec_id
), vall{tag} AS MATERIALIZED (
  {hist}
), vu{tag} AS MATERIALIZED (
  SELECT c.id_a, c.id_b, unnest(ea.embedding)::DOUBLE AS x, unnest(eb.embedding)::DOUBLE AS y
  FROM vcp{tag} c
  JOIN vall{tag} ea ON ea.vec_id = c.id_a
  JOIN vall{tag} eb ON eb.vec_id = c.id_b
), vs{tag} AS MATERIALIZED (
  SELECT id_a, id_b,
         sum(CAST(floor(x * y * 1e9 + 0.5) AS BIGINT)) AS d9,
         sum(CAST(floor(x * x * 1e9 + 0.5) AS BIGINT)) AS na9,
         sum(CAST(floor(y * y * 1e9 + 0.5) AS BIGINT)) AS nb9
  FROM vu{tag} GROUP BY 1, 2
), near{tag} AS MATERIALIZED (
  SELECT id_a, id_b FROM vs{tag}
  WHERE d9 >= 0 AND {_DEN2} * (d9::HUGEINT * d9) >= {_NUM2} * (na9::HUGEINT * nb9)
), vdir{tag} AS MATERIALIZED (
  SELECT id_a AS x, id_b AS p FROM near{tag}
  UNION ALL SELECT id_b, id_a FROM near{tag}
), vdrop{tag} AS MATERIALIZED (
  SELECT DISTINCT x FROM vdir{tag}
  WHERE x IN (SELECT vec_id FROM f{tag})
    AND (p NOT IN (SELECT vec_id FROM f{tag}) OR p < x)
), acc{tag} AS MATERIALIZED (
  SELECT * FROM f{tag} WHERE vec_id NOT IN (SELECT x FROM vdrop{tag})
), accsig{tag} AS MATERIALIZED (
  SELECT * FROM sig{tag} WHERE vec_id NOT IN (SELECT x FROM vdrop{tag})
)"""


VECTOR_REPLAY_ORACLE = f"""
WITH
signs AS MATERIALIZED (SELECT * FROM (VALUES {_VSIGN_ROWS}) AS t(p, d, s)),
vsrc1 AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 = 0),
vsrc2 AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 = 1),
vsrc4 AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 = 2
  UNION ALL
  SELECT vec_id, list_reverse(embedding) AS embedding FROM embeddings WHERE vec_id % 6 = 0
),
{_vgate_sql("1", "vsrc1", None, None)},
{_vgate_sql("2", "vsrc2", "acc1", "accsig1")},
vt3 AS MATERIALIZED (SELECT vec_id FROM embeddings WHERE vec_id % 5 = 0),
vt4 AS MATERIALIZED (
  SELECT DISTINCT s.vec_id FROM vsrc4 s
  WHERE s.vec_id IN (SELECT vec_id FROM acc1 UNION ALL SELECT vec_id FROM acc2)
    AND s.vec_id NOT IN (SELECT vec_id FROM vt3)
),
vtoms AS MATERIALIZED (SELECT vec_id FROM vt3 UNION SELECT vec_id FROM vt4),
vidx4 AS MATERIALIZED (
  SELECT vec_id, embedding FROM (
    SELECT vec_id, embedding FROM acc1 UNION ALL SELECT vec_id, embedding FROM acc2
  ) WHERE vec_id NOT IN (SELECT vec_id FROM vtoms)
),
vsig4 AS MATERIALIZED (
  SELECT * FROM (SELECT * FROM accsig1 UNION ALL SELECT * FROM accsig2)
  WHERE vec_id NOT IN (SELECT vec_id FROM vtoms)
),
{_vgate_sql("4", "vsrc4", "vidx4", "vsig4")}
SELECT vec_id, hsig, CAST(1 AS BIGINT) AS seq FROM accsig1
WHERE vec_id NOT IN (SELECT vec_id FROM vtoms)
UNION ALL
SELECT vec_id, hsig, CAST(2 AS BIGINT) AS seq FROM accsig2
WHERE vec_id NOT IN (SELECT vec_id FROM vtoms)
UNION ALL
SELECT vec_id, hsig, CAST(3 AS BIGINT) AS seq FROM accsig4
"""


def _final_view(ing) -> DataFrame:
    """Visible (vec_id, hsig, seq) — the hashed end state (signature
    strings + sequence stamps; embeddings stay pass-through doubles and
    never enter the hash)."""
    out = ing._read("hsigs").select("vec_id", "hsig", F.col("_seq").alias("seq"))
    return out.localCheckpoint()


def _scripted_batches(spark: SparkSession, sf_dir: str):
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    b1 = emb.filter(F.col("vec_id") % 3 == 0)
    b2 = emb.filter(F.col("vec_id") % 3 == 1)
    dels = emb.filter(F.col("vec_id") % 5 == 0).select("vec_id")
    ups3 = emb.filter(F.col("vec_id") % 3 == 2).unionByName(
        emb.filter(F.col("vec_id") % 6 == 0).withColumn("embedding", F.reverse("embedding"))
    )
    return b1, b2, dels, ups3


@register("mutable_vectors_replay", oracle=VECTOR_REPLAY_ORACLE)
def mutable_vectors_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scripted B1..B3 vector lifecycle through direct
    MutableVectorIngestor calls (fresh store per call): exact-identity
    admission, hyperplane-LSH near-dup gate with the EXACT integer
    cosine membership, tombstone deletes, reversed-embedding upserts.
    Returns the visible (vec_id, hsig, seq) end state."""
    import tempfile

    from ..streaming.mutable import MutableVectorIngestor

    base = cache.pin_dir(tempfile.mkdtemp(prefix="vec_replay_"))
    ing = MutableVectorIngestor(
        spark, base, dim=VDIM, planes=VPLANES, n_bands=VBANDS, cosine_threshold=VCOS_THRESHOLD
    )
    b1, b2, dels, ups3 = _scripted_batches(spark, sf_dir)
    ing.upsert_batch(b1)
    ing.upsert_batch(b2)
    ing.retract_batch(dels)
    ing.upsert_batch(ups3)
    return _final_view(ing)


@register("cdc_vector_replay", oracle=VECTOR_REPLAY_ORACLE)
def cdc_vector_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME B1..B3 lifecycle through the Structured Streaming CDC
    front door (streaming/mutable.run_cdc_vector_stream): three JSON
    files — B1 upserts, B2 upserts, then ONE file carrying the deletes
    AND the B3 upserts (per micro-batch, deletes apply first). Held to
    the IDENTICAL oracle as mutable_vectors_replay: the streaming path
    must land bit-for-bit the same signatures, visibility and sequence
    stamps as the direct-call path."""
    import os
    import shutil
    import tempfile

    from ..streaming.mutable import MutableVectorIngestor, run_cdc_vector_stream

    base = cache.pin_dir(tempfile.mkdtemp(prefix="cdc_vec_"))
    src = os.path.join(base, "src")
    os.makedirs(src)
    b1, b2, dels, ups3 = _scripted_batches(spark, sf_dir)
    f1 = b1.withColumn("op", F.lit("u"))
    f2 = b2.withColumn("op", F.lit("u"))
    f3 = dels.select(
        "vec_id", F.lit(None).cast("array<double>").alias("embedding"), F.lit("d").alias("op")
    ).unionByName(ups3.withColumn("op", F.lit("u")))
    for i, bdf in enumerate((f1, f2, f3)):
        stage = os.path.join(base, f"stage{i}")
        bdf.coalesce(1).write.json(stage)
        part = next(p for p in os.listdir(stage) if p.endswith(".json"))
        dst = os.path.join(src, f"batch{i}.json")
        shutil.move(os.path.join(stage, part), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))  # pin mtime order
    run_cdc_vector_stream(
        spark,
        src,
        os.path.join(base, "store"),
        os.path.join(base, "ckpt"),
        dim=VDIM,
        cosine_threshold=VCOS_THRESHOLD,
        max_files_per_trigger=1,
    )
    ing = MutableVectorIngestor(
        spark,
        os.path.join(base, "store"),
        dim=VDIM,
        planes=VPLANES,
        n_bands=VBANDS,
        cosine_threshold=VCOS_THRESHOLD,
    )
    return _final_view(ing)
