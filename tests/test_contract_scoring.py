"""The scoring, token and proximity contract entries against their DuckDB
oracle_sql() twins: rows compared value by value at canon precision, as
tools/check_contract.py does for the whole contract."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod
from tools.check_contract import TABLES, canon

SF_DIR = "/root/testdata/sf0.001"

ENTRIES = [
    "bm25_topk",
    "payload_topk",
    "plm_topk",
    "wand_pruned_topk",
    "idf",
    "term_df_pruned",
    "doc_lengths",
    "postings_tf",
    "token_set_ops",
    "minspan_proximity_udf",
    "minspan_proximity_3term",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", ENTRIES)
def test_entry_matches_oracle(spark, duck, name):
    df = entrymod.queries()[name](spark, SF_DIR)
    got = [r.asDict() for r in df.collect()]
    oracle = duck.sql(entrymod.oracle_sql()[name]).df()
    assert got, name
    assert canon(got, df.columns) == canon(
        oracle.to_dict("records"), list(oracle.columns)
    )
