"""Replicates the driver's correctness gate locally: run each queries() entry
on Spark and its oracle_sql() on DuckDB at sf0.001, compare row count, column
names, and order-insensitive value hash."""

from __future__ import annotations

import hashlib
import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod
from tests.conftest import SF_DIR

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _value_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "\x01".join(_norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\x02")
    return h.hexdigest()


ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()


def test_every_oracle_key_has_a_query():
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, name):
    sdf = QUERIES[name](spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    con = _duck(SF_DIR)
    res = con.execute(ORACLES[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    con.close()

    assert sorted(scols) == sorted(dcols), (scols, dcols)
    assert len(srows) == len(drows), f"{name}: {len(srows)} vs {len(drows)}"
    sh = _value_hash(srows, scols)
    dh = _value_hash(drows, dcols)
    if sh != dh:
        sset = {"\x01".join(_norm_cell(r[i]) for i in sorted(range(len(scols)), key=lambda i: scols[i])) for r in srows}
        dset = {"\x01".join(_norm_cell(r[i]) for i in sorted(range(len(dcols)), key=lambda i: dcols[i])) for r in drows}
        only_s = list(sset - dset)[:3]
        only_d = list(dset - sset)[:3]
        pytest.fail(f"{name}: value hash mismatch\n spark-only: {only_s}\n duck-only: {only_d}")


@pytest.mark.parametrize(
    "name", sorted(set(QUERIES) - set(ORACLES))
)
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_entry_runs(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


SF01_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.01")


def _strict_cell(v):
    return repr(v) if isinstance(v, float) else _norm_cell(v)


@pytest.mark.parametrize(
    "name", ["late_shipment_priority", "nation_trade_volume", "returned_items"]
)
def test_money_and_count_queries_match_oracle_exactly(spark, name):
    """Queries whose answers are sums of money or counts match the oracle
    to the last digit at sf0.01 (floats compared by ``repr``, not ``.6g``),
    and the oracle returns no HUGEINT column (DuckDB's plain integer sum)."""
    con = _duck(SF01_DIR)
    rel = con.sql(ORACLES[name])
    assert "HUGEINT" not in [str(t) for t in rel.types], rel.types
    dcols = rel.columns
    drows = rel.fetchall()
    con.close()
    sdf = QUERIES[name](spark, SF01_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    def lines(rows, cols):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return sorted("\x01".join(_strict_cell(r[i]) for i in order) for r in rows)

    assert sorted(scols) == sorted(dcols)
    assert lines(srows, scols) == lines(drows, dcols)
