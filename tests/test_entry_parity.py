"""Emulates the driver's correctness gate: every queries() entry runs on
Spark and its oracle_sql() twin on DuckDB over the same parquet tables;
row count, sorted column names, and order-insensitive values must match.
Runs at sf0.001 for speed (the driver uses sf0.01)."""

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def duck(sql: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    rel = con.sql(sql)
    cols, rows = rel.columns, rel.fetchall()
    con.close()
    return cols, rows


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm_val(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return round(v, 9)
        return v

    out = [tuple(norm_val(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def test_every_query_has_oracle():
    assert set(ORACLES) == set(QUERIES)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_parity(spark, name):
    sdf = QUERIES[name](spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    dcols, drows = duck(ORACLES[name])

    assert sorted(scols) == sorted(dcols), f"{name}: column mismatch {scols} vs {dcols}"
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} vs {len(drows)}"
    ns, nd = normalize(srows, scols), normalize(drows, dcols)
    mism = [i for i, (a, b) in enumerate(zip(ns, nd)) if a != b][:5]
    assert ns == nd, f"{name}: value mismatch at {mism}: " + "; ".join(
        f"spark={ns[i]} duck={nd[i]}" for i in mism
    )


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns
