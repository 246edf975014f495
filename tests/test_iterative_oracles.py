"""The iterative graph algorithms against their unrolled DuckDB oracles.

Same comparison as scripts/check_oracle.py (schema, row count and the
exact order-insensitive cell fingerprint, after the oracle margin lint),
run on the test SF for every registry entry backed by a superstep loop.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_REPO, "scripts"))

import __spark_entry__ as entrymod
from check_oracle import DRIVER_UNSAFE, table_fingerprint

ITERATIVE = [
    "g_pagerank",
    "g_pagerank_prod",
    "g_connected_components",
    "g_personalized_pagerank",
    "g_hits",
    "g_label_propagation",
    "g_sssp",
    "g_bfs_distances",
    "g_kcore",
    "g_closeness_landmarks",
    "g_betweenness_landmarks",
]


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb.connect()
    for t in entrymod.ALL_TABLES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM '{os.path.join(sf_dir, t)}.parquet'"
        )
    return c


@pytest.fixture(scope="module")
def registry():
    return entrymod.queries(), entrymod.oracle_sql()


@pytest.mark.parametrize("name", ITERATIVE)
def test_iterative_matches_oracle(spark, sf_dir, con, registry, name):
    queries, oracles = registry
    lint = entrymod.oracle_margin_lints().get(name)
    if lint is not None:
        margin = con.execute(lint).fetchone()[0]
        assert margin is not None and margin >= entrymod.ORACLE_MARGIN_FLOOR
    sdf = queries[name](spark, sf_dir)
    scols, sn, _, slines = table_fingerprint(
        sdf.columns, [tuple(r) for r in sdf.collect()]
    )
    res = con.execute(oracles[name])
    ocols, on, _, olines = table_fingerprint(
        [d[0] for d in res.description], res.fetchall()
    )
    assert (scols, sn) == (ocols, on)
    assert not any(DRIVER_UNSAFE in line for line in slines + olines)
    assert slines == olines
