"""Reference answers and comparisons computed outside the program.

The IVM views are recomputed here in DuckDB SQL, straight from the
generated parquet log, and compared with the SQLite tables as multisets.
Registry queries are compared with their DuckDB oracle on row count,
column names and an order-insensitive value hash, as the repository's
correctness gate does.
"""

from __future__ import annotations

import os
from collections import Counter

import duckdb

from tools.check import value_hash


def _events(log_dir: str, head: int) -> str:
    return (
        f"(SELECT * FROM read_parquet('{log_dir}/events.parquet/*.parquet') "
        f"WHERE event_id <= {int(head)})"
    )


def dashboard_sql(log_dir: str, head: int) -> str:
    """Latest non-error event per user: machine-dashboard's
    ``group_by(user_id).max_by(event_id)``."""
    return f"""
    SELECT user_id, status, order_value, since_micros FROM (
      SELECT user_id,
             CASE WHEN event_type = 'purchase' THEN 'working' ELSE 'idle' END AS status,
             CASE WHEN event_type = 'purchase' THEN value END AS order_value,
             epoch_us(ts) AS since_micros,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      FROM {_events(log_dir, head)} WHERE event_type <> 'error'
    ) WHERE rn = 1"""


def usage_sql(log_dir: str, head: int) -> str:
    """machine-usage's interval pairing: a 'purchase' (stop) right after a
    'signup' (start) of the same (user, order) emits one interval."""
    return f"""
    WITH tagged AS (
      SELECT user_id, CAST(floor(value) AS BIGINT) % 10 AS order_id,
             CASE WHEN event_type = 'signup' THEN 'start' ELSE 'stop' END AS kind,
             epoch_us(ts) AS ts_micros, event_id
      FROM {_events(log_dir, head)} WHERE event_type IN ('signup', 'purchase')
    ), paired AS (
      SELECT *, lag(kind) OVER w AS prev_kind, lag(ts_micros) OVER w AS prev_ts
      FROM tagged WINDOW w AS (PARTITION BY user_id, order_id ORDER BY event_id)
    )
    SELECT user_id, order_id, prev_ts AS started_micros,
           ts_micros - prev_ts AS duration_micros
    FROM paired WHERE kind = 'stop' AND prev_kind = 'start'"""


def sum_sql(log_dir: str, head: int) -> str:
    """Grouped SUM of whole-number values per (user_id, event_type)."""
    return f"""
    SELECT user_id, event_type, sum(CAST(value AS BIGINT)) AS total, count(*) AS _n
    FROM {_events(log_dir, head)} GROUP BY user_id, event_type"""


def lifecycle_sql(tables_dir: str) -> str:
    """The visible corpus, ``(doc_id, text)``, after the benchmark's ingest
    lifecycle through a ``MutableCorpusIngestor`` with the exact-dup gate
    only: ingest the even ids; retract ids divisible by 5; upsert the odd
    ids plus a revised text of ids divisible by 4. An ingest keeps
    documents whose quality score passes the registry's gate, keeps the
    lowest id per text digest within the batch and drops digests the
    visible index already holds. An upsert first retracts the ids of the
    batch that are visible, then ingests the batch."""
    from actyxos_data_flow_spark.plans.mutable import QUALITY_MIN_FP6
    from actyxos_data_flow_spark.plans.text import QUALITY_FP6_SQL

    def gate(tag: str) -> str:
        """CTEs g<tag> (passes the quality gate) and d<tag> (lowest id
        per digest) over batch b<tag>."""
        return f"""g{tag} AS (
      SELECT doc_id, text, md5(text) AS digest FROM (
        SELECT doc_id, text, string_split(text, ' ') AS tokens FROM b{tag}
      ) WHERE {QUALITY_FP6_SQL} >= {QUALITY_MIN_FP6}
    ),
    d{tag} AS (SELECT * FROM g{tag} WHERE doc_id IN (SELECT min(doc_id) FROM g{tag} GROUP BY digest))"""

    return f"""
    WITH docs AS (SELECT doc_id, text FROM read_parquet('{tables_dir}/documents.parquet')),
    b1 AS (SELECT * FROM docs WHERE doc_id % 2 = 0),
    b3 AS (
      SELECT * FROM docs WHERE doc_id % 2 = 1
      UNION ALL SELECT doc_id, text || ' (rev 2)' FROM docs WHERE doc_id % 4 = 0
    ),
    {gate("1")},
    {gate("3")},
    vis AS (SELECT * FROM d1 WHERE doc_id % 5 <> 0),
    vis3 AS (SELECT * FROM vis WHERE doc_id NOT IN (SELECT doc_id FROM b3)),
    acc3 AS (SELECT * FROM d3 WHERE digest NOT IN (SELECT digest FROM vis3))
    SELECT doc_id, text FROM vis3 UNION ALL SELECT doc_id, text FROM acc3"""


def multiset_diff(got: list[tuple], want: list[tuple]) -> tuple[int, int]:
    """(rows only in ``got``, rows only in ``want``), counting copies."""
    g, w = Counter(map(tuple, got)), Counter(map(tuple, want))
    return sum((g - w).values()), sum((w - g).values())


def duck_rows(sql: str) -> list[tuple]:
    with duckdb.connect() as con:
        return con.execute(sql).fetchall()


def table_oracles(tables_dir: str, queries: dict[str, str]) -> dict[str, tuple[int, list[str], str]]:
    """Run each oracle SQL once over the generated tables (every parquet
    file in ``tables_dir`` is a view): name → (row count, column names,
    value hash)."""
    out = {}
    with duckdb.connect() as con:
        for f in sorted(os.listdir(tables_dir)):
            t = f.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{f}')")
        for name, sql in queries.items():
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
            out[name] = (len(rows), cols, value_hash(rows, cols))
    return out
