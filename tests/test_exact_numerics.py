"""Round-9 exact-integer kernels: the α=3/10 root ladder and the
fixed-point cosine membership — the constructions that replaced the
last build-sensitive numerics in hashed outputs. These tests pin the
EXACTNESS contracts (floor-root identities, cross-engine parity with
the DuckDB CTE generator, quantized-membership equivalence), not just
values."""

from __future__ import annotations

import math
import random

from actyxos_data_flow_spark.operators.text import _iroot5, alpha3_10_p6


def test_alpha3_10_p6_is_exact_floor_composition():
    """p6 must be EXACTLY iroot5(isqrt(u³·10³)·10^15): both roots are
    true integer floors (r^k <= m < (r+1)^k), and the full-share case
    lands on 10^6 exactly."""
    rng = random.Random(9)
    cases = [(1, 1), (1, 10), (1, 10**12), (10**12 - 1, 10**12), (7, 613)]
    for t in (3, 97, 10**6, 10**9, 7 * 10**13):
        cases += [(rng.randint(1, t), t) for _ in range(40)]
    for n, total in cases:
        u = (n * 10**9) // total
        m1 = u * u * u * 1000
        y = math.isqrt(m1)
        assert y * y <= m1 < (y + 1) * (y + 1)
        m2 = y * 10**15
        p6 = alpha3_10_p6(n, total)
        assert p6**5 <= m2 < (p6 + 1) ** 5, (n, total, p6)
        assert 0 <= p6 <= 10**6
    assert alpha3_10_p6(5, 5) == 10**6
    assert alpha3_10_p6(0, 10) == 0


def test_iroot5_boundaries():
    for r in (0, 1, 2, 999, 10**6):
        if r > 0:
            assert _iroot5(r**5) == r
            assert _iroot5(r**5 - 1) == r - 1
        assert _iroot5(r**5 + 1) == r if r > 0 else _iroot5(1) == 1


def test_p6_kernel_duckdb_parity():
    """The DuckDB CTE generator (plans/text.p6_exact_ctes) must produce
    the SAME integer as the Python kernel for every (n, total) —
    including boundary shares — independent of libm: since round 10 the
    generator is SEED-FREE (each root digit is max(d) over a range()
    join filtered by the defining integer inequality), so equality is
    by construction, and this test is the regression net for the
    generator's digit/overflow bookkeeping."""
    import duckdb

    from actyxos_data_flow_spark.plans.text import p6_exact_ctes

    rng = random.Random(31)
    rows = [(1, 1), (1, 7), (6, 7), (1, 10**9), (10**9, 10**9)]
    rows += [(rng.randint(1, 10**7), 10**7) for _ in range(30)]
    # adversarial floor-root boundaries: u = 10·a² makes m1 = u³·10³ a
    # PERFECT square ((10³a³)²), so isqrt sits exactly on the edge where
    # a seeded candidate one off flips the floor — the round-7..9 oracle's
    # libm-seeded ladder could silently clamp here; the round-10
    # digit-search must land exactly.  total=10^9 makes u = n verbatim.
    for a in (1, 7, 123, 9999, 10**4):
        for du in (-1, 0, 1):
            n = 10 * a * a + du
            if 1 <= n <= 10**9:
                rows.append((n, 10**9))
    rows = sorted(set(rows))
    con = duckdb.connect()
    con.execute("CREATE TABLE mc0(source VARCHAR, n BIGINT, total BIGINT)")
    con.executemany(
        "INSERT INTO mc0 VALUES (?, ?, ?)", [(f"{n}/{t}", n, t) for n, t in rows]
    )
    # per-row total: present (source, n) with its own total as mt via join
    sql = f"""
WITH mc AS (SELECT source, n FROM mc0),
mt AS (SELECT 1 AS one),
{p6_exact_ctes("m").replace("m" + "t.total", "(SELECT total FROM mc0 c WHERE c.source = mc.source)")}
SELECT source, p6 FROM mp
"""
    got = dict(con.execute(sql).fetchall())
    for n, t in rows:
        assert int(got[f"{n}/{t}"]) == alpha3_10_p6(n, t), (n, t)


def test_cosine_ge_matches_exact_rational_membership(spark):
    """_cosine_ge's squared-integer comparison must agree with the
    EXACT rational comparison on the quantized integers for every pair
    (this is the definition it implements), and with the double cosine
    away from the threshold."""
    from fractions import Fraction

    import pyspark.sql.functions as F

    from actyxos_data_flow_spark.streaming.ingest import _cosine_ge

    rng = random.Random(5)

    def unit(d=8):
        v = [rng.uniform(-1, 1) for _ in range(d)]
        s = math.sqrt(sum(x * x for x in v))
        return [x / s for x in v]

    pairs = []
    for i in range(40):
        a = unit()
        if i % 3 == 0:
            b = [x + rng.uniform(-0.01, 0.01) for x in a]  # near-dup
            s = math.sqrt(sum(x * x for x in b))
            b = [x / s for x in b]
        else:
            b = unit()
        pairs.append((i, a, b))
    df = spark.createDataFrame(pairs, "i long, a array<double>, b array<double>")
    got = {
        r["i"]: r["m"]
        for r in df.select("i", _cosine_ge(F.col("a"), F.col("b"), 0.98).alias("m")).collect()
    }
    thr = Fraction("0.98")
    for i, a, b in pairs:
        d9 = sum(math.floor(x * y * 1e9 + 0.5) for x, y in zip(a, b))
        na9 = sum(math.floor(x * x * 1e9 + 0.5) for x in a)
        nb9 = sum(math.floor(y * y * 1e9 + 0.5) for y in b)
        expect = d9 >= 0 and Fraction(d9 * d9, na9 * nb9) >= thr * thr
        assert got[i] == expect, (i, d9, na9, nb9)
        # sanity: agrees with double cosine away from the threshold
        cos = sum(x * y for x, y in zip(a, b)) / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )
        if abs(cos - 0.98) > 1e-6:
            assert got[i] == (cos >= 0.98), (i, cos)


def test_env_fingerprint_masks_are_full_in_builder_env(spark):
    """In the builder environment every sentinel matches its committed
    constant, so both fingerprint probes must return exactly 127 rows
    (the all-bits mask); and the DuckDB oracle must agree with the
    in-process evaluation row-for-row. On a machine whose libm/DuckDB
    genuinely differ from the committed builder constants this is a
    true ENVIRONMENT statement, not a bug — skip instead of failing,
    like the repo's other env-gated tests (ADVICE r10); the divergence
    itself stays covered by the drops-named-bit test below."""
    import duckdb
    import pytest

    from actyxos_data_flow_spark.plans import envprobe as E

    local_spark = dict(E._spark_sentinels(spark))
    local_duck = {
        name: str(duckdb.connect().execute(f"SELECT CAST({sql} AS VARCHAR)").fetchone()[0])
        for name, sql in E._SENTINELS
    }
    if any(
        local_spark.get(f"spark.{n}") != E.BUILDER_SPARK_SENTINELS[n]
        or local_duck[n] != E.BUILDER_DUCKDB_SENTINELS[n]
        for n, _ in E._SENTINELS
    ):
        pytest.skip("local libm/DuckDB sentinels differ from committed builder constants")

    s = E.env_fingerprint_spark(spark, "")
    d = E.env_fingerprint_duckdb(spark, "")
    n_sent = len(E._SENTINELS)
    full = (1 << n_sent) - 1
    assert s.count() == full == d.count()
    orows = duckdb.connect().execute(E.DUCKDB_FINGERPRINT_ORACLE).fetchall()
    assert len(orows) == full and {r[0] for r in orows} == set(range(1, full + 1))


def test_env_fingerprint_mask_drops_named_bit_on_divergence(monkeypatch, spark):
    """A diverging sentinel must clear exactly ITS bit — the row count
    names the primitive (the whole point of the row-count encoding)."""
    from actyxos_data_flow_spark.plans import envprobe as E

    bad = dict(E.BUILDER_SPARK_SENTINELS)
    bad["sqrt_2"] = "not-the-value"
    monkeypatch.setattr(E, "BUILDER_SPARK_SENTINELS", bad)
    idx = [n for n, _ in E._SENTINELS].index("sqrt_2")
    expect = ((1 << len(E._SENTINELS)) - 1) & ~(1 << idx)
    assert E.env_fingerprint_spark(spark, "").count() == expect


def test_ns_micros_is_exact_floor_division(spark):
    """``ns_micros`` is ``floor(ns / 1000)`` on every long, with no
    decimal cast: both signs of every remainder boundary, values past
    double precision, the long extremes and NULL."""
    from actyxos_data_flow_spark.functions.scalar import ns_micros

    big = 1_700_000_000_123_456_789
    edges = [0, 1, 999, 1000, 1001, big, 2**63 - 1]
    vals = [s * v for v in edges for s in (1, -1)] + [-(2**63), None]
    df = spark.createDataFrame([(v,) for v in vals], "ns long")
    got = [r.us for r in df.select(ns_micros("ns").alias("us")).collect()]
    assert got == [None if v is None else v // 1000 for v in vals]
