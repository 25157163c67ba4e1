"""Driver-contract pre-validation: run every queries() entry on Spark
and its oracle_sql() twin on DuckDB over the same parquet, compare
row multisets (the driver's hash compare, done directly)."""

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _duck(sql: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con.execute(sql)


def _normval(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    return v


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(_normval(r[i]) for i in order) for r in rows
    )


ORACLE_KEYS = sorted(entrymod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_query_matches_oracle(spark, name):
    q = entrymod.queries()[name]
    sdf = q(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    res = _duck(entrymod.oracle_sql()[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: columns {scols} vs {dcols}"
    got, want = _rowset(scols, srows), _rowset(dcols, drows)
    assert len(got) == len(want), f"{name}: rowcount {len(got)} vs {len(want)}"
    if got != want:
        diff = [(g, w) for g, w in zip(got, want) if g != w][:3]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diff}")


def test_rows_only_queries_run(spark):
    """Queries without oracles must still run and return sane rows."""
    qs = entrymod.queries()
    for name in set(qs) - set(entrymod.oracle_sql()):
        df = qs[name](spark, SF_DIR)
        assert df.count() >= 0, name


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_queries_share_one_generator_and_span_reader():
    """Every fixture blob generator goes through _per_doc and every
    span query through _exploded_spans: one batch loop, one explode."""
    with open(entrymod.__file__, encoding="utf-8") as f:
        src = f.read()
    assert src.count(".mapInPandas(") == 1
    assert src.count('posexplode("spans")') == 1
