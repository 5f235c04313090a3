"""The correctness gate, locally: every declared query must match its
DuckDB oracle on the sf0.001 testdata (same comparison the driver runs at
sf0.01: rowcount + schema + order-insensitive values)."""

import pytest

from datatools_spark.queries import ORACLE, QUERIES

from .oracle_harness import compare, duck_con

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    return duck_con(SF_DIR)


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_query_matches_oracle(spark, con, name):
    issues = compare(spark, con, QUERIES[name], ORACLE[name], SF_DIR)
    assert not issues, issues


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLE)))
def test_rows_only_queries_run(spark, name):
    assert QUERIES[name](spark, SF_DIR).count() >= 0


def test_cms_store_estimate_on_empty_corpus(spark, tmp_path):
    """An empty documents table: every probe's estimate and exact count
    is 0 — the rows the oracle's ``count(tok.w)`` returns — not NULL."""
    import shutil

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datatools_spark.queries import _mm_store_root
    sf = str(tmp_path)
    pq.write_table(pa.table({"doc_id": pa.array([], pa.int64()),
                             "text": pa.array([], pa.string())}),
                   f"{sf}/documents.parquet")
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf}/documents.parquet')")
    name = "doc_cms_store_estimate"
    try:
        rows = QUERIES[name](spark, sf).collect()
        assert len(rows) == 4
        assert {(r["cms_est"], r["exact"]) for r in rows} == {(0, 0)}
        assert not compare(spark, con, QUERIES[name], ORACLE[name], sf)
    finally:
        shutil.rmtree(_mm_store_root(sf, "cms4x1024"), ignore_errors=True)
