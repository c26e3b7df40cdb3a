"""Output checks, run outside the timed region.

Query results are compared with each query's registered DuckDB oracle
over the same parquet files: same column names, same row count and
the same rows, order-insensitive, floats compared at six decimals.
The txlog workload is checked against a DuckDB model that applies the
same seeded upserts and deletes.
"""

from __future__ import annotations

import math
import os
from concurrent.futures import ThreadPoolExecutor

import duckdb

from datagen import TABLES
from harness import cores


def _canon(v):
    if v is None:
        return ("<null>",)
    if isinstance(v, float):
        return ("nan",) if math.isnan(v) else ("f", round(v, 6))
    if isinstance(v, (list, tuple)):
        return ("a",) + tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return ("m",) + tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return (type(v).__name__[:1], str(v))


def canon_rows(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def duck(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def mismatch(cols: list[str], rows, ocols: list[str], orows) -> str | None:
    """Why two results differ, or None when they match."""
    if sorted(cols) != sorted(ocols):
        return f"columns {sorted(cols)} != {sorted(ocols)}"
    if len(rows) != len(orows):
        return f"{len(rows)} rows != {len(orows)}"
    a, b = canon_rows(cols, rows), canon_rows(ocols, orows)
    if a != b:
        return f"first diff {next((x, y) for x, y in zip(a, b) if x != y)}"
    return None


def check_queries(results: dict[str, tuple], data_dir: str) -> dict[str, str]:
    """``results`` maps query name to (columns, rows) from Spark. Returns
    the queries whose rows differ from their oracle, with the reason.
    The oracles run on parallel cursors: most read one small row group,
    which DuckDB scans on one thread."""
    from mapreduceapp_spark.plans.registry import get_query

    oracles = {name: get_query(name).oracle for name in results}
    sqls = list(dict.fromkeys(q for q in oracles.values() if q))  # some are shared
    con = duck(data_dir)

    def expect(sql: str) -> tuple[list[str], list]:
        cur = con.cursor()
        try:
            res = cur.execute(sql)
            return [d[0] for d in res.description], res.fetchall()
        finally:
            cur.close()

    try:
        with ThreadPoolExecutor(cores()) as pool:
            expected = dict(zip(sqls, pool.map(expect, sqls)))
    finally:
        con.close()
    bad: dict[str, str] = {}
    for name, (cols, rows) in results.items():
        if oracles[name] is None:
            bad[name] = "no oracle"
            continue
        why = mismatch(cols, rows, *expected[oracles[name]])
        if why:
            bad[name] = why
    return bad


# The snapshot aggregate the txlog reads compute, in whole cents so
# that summation order cannot change the result.
ORDERS_AGG = ("SELECT o_orderstatus, count(*) AS n, "
              "sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents, "
              "max(o_orderkey) AS max_key FROM model GROUP BY o_orderstatus")


class OrdersModel:
    """The orders table as DuckDB sees it after the same commits."""

    def __init__(self, orders_path: str) -> None:
        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE TABLE model AS SELECT * FROM read_parquet('{orders_path}')")

    def upsert(self, batch) -> None:
        self.con.register("batch", batch)
        self.con.execute(
            "DELETE FROM model WHERE o_orderkey IN (SELECT o_orderkey FROM batch)")
        self.con.execute("INSERT INTO model SELECT * FROM batch")
        self.con.unregister("batch")

    def delete(self, keys) -> None:
        self.con.register("keys", keys)
        self.con.execute(
            "DELETE FROM model WHERE o_orderkey IN (SELECT o_orderkey FROM keys)")
        self.con.unregister("keys")

    def aggregate(self) -> tuple[list[str], list[tuple]]:
        res = self.con.execute(ORDERS_AGG)
        return [d[0] for d in res.description], res.fetchall()

    def row(self, key: int) -> tuple[list[str], list[tuple]]:
        res = self.con.execute("SELECT * FROM model WHERE o_orderkey = ?", [key])
        return [d[0] for d in res.description], res.fetchall()

    def close(self) -> None:
        self.con.close()


def curated_model(drop_paths: list[str]) -> tuple[list[str], list[tuple]]:
    """The curated ingest table as DuckDB computes it from every dropped
    document file: the quality floor, then the PII scrub."""
    from mapreduceapp_spark.functions.text import TOKEN_SPLIT_RE
    from mapreduceapp_spark.operators.curation import (
        MIN_TOKENS, PII_EMAIL_RE, PII_EMAIL_TOKEN, PII_PHONE_RE,
        PII_PHONE_TOKEN,
    )

    files = ", ".join(f"'{p}'" for p in drop_paths)
    sql = f"""
    WITH d AS (
      SELECT *, len(list_filter(string_split_regex(lower(text),
                 '{TOKEN_SPLIT_RE}'), x -> x != '')) AS ntok
      FROM read_parquet([{files}]))
    SELECT doc_id, lang, source,
           regexp_replace(regexp_replace(text, '{PII_EMAIL_RE}',
             '{PII_EMAIL_TOKEN}', 'g'), '{PII_PHONE_RE}', '{PII_PHONE_TOKEN}', 'g')
             AS text,
           ntok
    FROM d WHERE ntok >= {MIN_TOKENS}"""
    con = duckdb.connect()
    try:
        res = con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()
    finally:
        con.close()
