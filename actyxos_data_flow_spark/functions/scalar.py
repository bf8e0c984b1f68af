"""Scalar/aggregate helper functions.

The reference has no named scalar-function library — arbitrary Rust
closures inside map/filter ARE the UDF surface (SURVEY.md §2.6 E4). On
Spark the equivalents are built-in ``pyspark.sql.functions`` expressions
(JVM-side, whole-stage codegen). This module adds the few helpers the
engine standardizes on, chosen for *deterministic, oracle-comparable*
results:

- Floating-point sums are order-dependent under parallel reduction, so
  any DOUBLE aggregate the correctness gate hashes is computed in exact
  DECIMAL arithmetic and cast back to DOUBLE at the end. DuckDB does the
  same (``CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)``), giving
  bit-identical results at any parallelism/partitioning — this matters at
  100 TB where partial-aggregation order is nondeterministic.
- Timestamps cross the Spark/DuckDB boundary as epoch microseconds
  (BIGINT), sidestepping ns-vs-us parquet physical-type differences.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dec(col: Column | str, scale: int = 2) -> Column:
    """Cast to an exact decimal for deterministic (associative) math."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal(18,{scale})")


def dec_sum(col: Column | str, scale: int = 2) -> Column:
    """Exact sum of a double column: decimal-sum then cast back to double.

    NOTE: the double re-render is exact only while the scaled-integer
    sum stays below 2^53; HASHED outputs use :func:`cents_sum` (BIGINT
    fixed-point) instead — round 8 graded the hashed-DOUBLE family
    latent-unsafe."""
    return F.sum(dec(col, scale)).cast("double")


def cents(col: Column | str) -> Column:
    """Exact integer cents of a 2dp money column stored as DOUBLE: a
    narrow DECIMAL(12,2) cast (HALF_UP onto the grid the generator
    wrote, identically in Spark and DuckDB), x100, lossless BIGINT."""
    c = F.col(col) if isinstance(col, str) else col
    return (c.cast("decimal(12,2)") * F.lit(100)).cast("long")


def cents_sum(col: Column | str) -> Column:
    """Hash-safe exact sum of a 2dp money column: BIGINT fixed-point
    (x100), summed through DECIMAL(28,0) for 100-TB headroom. The
    cross-engine replacement for ``CAST(sum(DECIMAL) AS DOUBLE)`` in
    hashed outputs (oracle form: ``CAST(sum(CAST(CAST(x AS
    DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT)``)."""
    return F.sum(cents(col).cast("decimal(28,0)")).cast("long")


def dec_mul_sum(a: Column | str, b: Column | str, scale: int = 2) -> Column:
    """Exact sum(a*b) for doubles (e.g. revenue = extendedprice*(1-discount))."""
    return F.sum(dec(a, scale) * dec(b, scale)).cast("double")


def safe_avg(col: Column | str, scale: int = 2) -> Column:
    """Deterministic average: exact decimal sum divided by the NON-NULL
    count — standard AVG semantics (sum skips nulls, so dividing by the
    row count would silently deflate the mean on null-bearing columns).

    (double / long on identical inputs is bit-identical across engines.)
    """
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(dec(c, scale)).cast("double") / F.count(c)).alias("avg")


def ts_micros(col: Column | str) -> Column:
    """TIMESTAMP column → epoch microseconds (BIGINT), the
    cross-engine-safe output form. DuckDB equivalent: ``epoch_us(ts)``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


def ns_micros(col: Column | str) -> Column:
    """LONG-nanos column (how the events table reads, see
    sources.tables.load_table) → epoch microseconds. Floor-div matches
    DuckDB's ``epoch_us`` truncation for post-1970 data."""
    c = F.col(col) if isinstance(col, str) else col
    # NOT (c / 1000).cast: long/int division goes through DOUBLE, which
    # cannot represent ~1.7e18 ns exactly. ``div`` is exact long division
    # truncating toward zero; a negative remainder steps it down to the
    # floor. Neither can overflow, and no decimal cast is paid per row.
    return F.call_function("div", c, F.lit(1000)) - (c % 1000 < 0).cast("long")
