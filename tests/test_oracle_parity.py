"""Queries whose Spark form shares a kernel or a construction with other
queries, checked against their DuckDB oracles the way
tools/check_correctness.py checks every query: row count, column names and
its order-insensitive value hash (canon / table_hash are imported from that
tool, not copied). Runs over the sf0.001 table set (TESTDATA.md), which sits
in a ``testdata/`` directory beside the repository checkout."""

import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.path.join(os.path.dirname(REPO), "testdata", "sf0.001")

QUERIES = (
    "langid_heuristic",
    "quality_score",
    "quality_routing",
    "jaccard_pairs",
    "jaccard_group_edges",
    "minhash_lsh_pairs",
    "dup_span_strip",
)


def _load_check_correctness():
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(REPO, "tools", "check_correctness.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


cc = _load_check_correctness()


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in cc.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="sf0.001 test data absent")
@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_oracle(spark, duck, name):
    from scrubah_pii_spark.entry_queries import QUERIES as ALL, oracle_map

    sdf = ALL[name](spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(oracle_map()[name])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert len(srows) == len(orows)
    assert sorted(scols) == sorted(ocols)
    assert cc.table_hash(scols, srows) == cc.table_hash(ocols, orows)
