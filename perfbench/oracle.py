"""DuckDB output checks, run after the timed section.

Registry calls with fixed parameters are checked against their
``oracle_sql()`` entry. Requests with their own parameters are checked
against the same SQL with the registry's fixed literals replaced by the
request's. Rows compare as an order-insensitive multiset of exactly
stringified cells (floats by ``repr``), so any drift fails.
"""

from __future__ import annotations

import os

import duckdb

import __spark_entry__ as entry

TABLES = ("nation", "customer", "documents", "embeddings")


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    """A connection holding the run's input tables, plus the property
    graph the registry derives from them (``persons``, ``edges``,
    ``sym_edges``) as tables."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM '{path}'")
    for t in ("persons", "edges", "sym_edges"):
        con.execute(f"CREATE TABLE {t} AS {entry.GRAPH_CTES} SELECT * FROM {t}")
    return con


def over_tables(sql: str) -> str:
    """A graph oracle with its graph-deriving CTEs dropped, so that it
    reads the graph tables of ``connect`` (derived once, not once per
    query or per pagerank round)."""
    if not sql.startswith(entry.GRAPH_CTES):
        return sql
    return "WITH _graph AS (SELECT 1)" + sql[len(entry.GRAPH_CTES) :]


def _cell(v) -> str:
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (list, tuple)):
        return ",".join(sorted(_cell(x) for x in v))
    return str(v)


def fingerprint(cols, rows) -> tuple[list[str], list[str]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    return sorted(cols), lines


def same(spark_cols, spark_rows, con, sql: str) -> bool:
    res = con.execute(sql)
    ocols = [d[0] for d in res.description]
    return fingerprint(spark_cols, spark_rows) == fingerprint(ocols, res.fetchall())


def sql_list(values) -> str:
    return entry._sql_list(list(values))


def registry_sql(name: str, **swap: tuple[str, str]) -> str:
    """``oracle_sql()[name]`` with each (registry literal, request
    literal) pair in ``swap`` substituted; a literal that is absent is an
    error, so a registry change cannot silently unbind a check."""
    sql = entry.oracle_sql()[name]
    for old, new in swap.values():
        if old not in sql:
            raise KeyError(f"{name}: literal {old!r} not in its oracle SQL")
        sql = sql.replace(old, new)
    return over_tables(sql)
