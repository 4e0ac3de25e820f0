"""q_tpch_pricing_summary against exact decimal arithmetic and its DuckDB
twin on a hand-built lineitem table: a half-cent tie group and a group
whose scaled product sums exceed 2^63."""

from __future__ import annotations

import datetime as dt
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import __spark_entry__ as entrymod
from tools.check_contract import canon

SHIP = dt.datetime(1998, 1, 1)
# (flag, status, quantity, extendedprice, discount, tax)
TIE_ROWS = [
    # Σ price·(1−disc) = 335918163.655 exactly; its nearest double is
    # 335918163.65499997…, so rounding the double instead of the decimal
    # lands on the wrong side of the half cent.
    ("R", "O", 1.0, 335918163.00, 0.00, 0.00),
    ("R", "O", 1.0, 1.31, 0.50, 0.00),
]
# 1000 rows × 9.9e11: Σ price·(1−disc) in 10^-4 units ≈ 9.9e18 and
# Σ price·(1−disc)·(1+tax) in 10^-6 units ≈ 1.0e21, both past 2^63, while
# every row's product stays inside a long (and DuckDB's DECIMAL(18,6)).
BIG_ROWS = [("A", "F", 1.0, 990000000000.00, 0.00, 0.01)] * 1000


def _write_lineitem(rows, sf_dir) -> None:
    cols = list(zip(*rows))
    n = len(rows)
    table = pa.table(
        {
            "l_orderkey": pa.array(range(n), pa.int64()),
            "l_partkey": pa.array([1] * n, pa.int64()),
            "l_suppkey": pa.array([1] * n, pa.int64()),
            "l_linenumber": pa.array([1] * n, pa.int32()),
            "l_quantity": pa.array(cols[2], pa.float64()),
            "l_extendedprice": pa.array(cols[3], pa.float64()),
            "l_discount": pa.array(cols[4], pa.float64()),
            "l_tax": pa.array(cols[5], pa.float64()),
            "l_returnflag": pa.array(cols[0], pa.string()),
            "l_linestatus": pa.array(cols[1], pa.string()),
            "l_shipdate": pa.array([SHIP] * n, pa.timestamp("us")),
        }
    )
    pq.write_table(table, f"{sf_dir}/lineitem.parquet")


def _exact_cents(rows, with_tax: bool) -> float:
    total = Decimal(0)
    for _, _, _, price, disc, tax in rows:
        p, d, t = (Decimal(str(v)) for v in (price, disc, tax))
        total += p * (1 - d) * ((1 + t) if with_tax else 1)
    return float(total.quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))


def test_pricing_summary_exact_at_ties_and_past_long(spark, tmp_path):
    sf_dir = str(tmp_path)
    _write_lineitem(TIE_ROWS + BIG_ROWS, sf_dir)

    df = entrymod.q_tpch_pricing_summary(spark, sf_dir)
    got = {(r.l_returnflag, r.l_linestatus): r for r in df.collect()}
    for key, rows in ((("R", "O"), TIE_ROWS), (("A", "F"), BIG_ROWS)):
        assert got[key].sum_disc_price == _exact_cents(rows, False), key
        assert got[key].sum_charge == _exact_cents(rows, True), key
        assert got[key].count_order == len(rows)
    assert got[("R", "O")].sum_disc_price == 335918163.66

    con = duckdb.connect()
    con.sql(f"CREATE VIEW lineitem AS SELECT * FROM '{sf_dir}/lineitem.parquet'")
    oracle = con.sql(entrymod.oracle_sql()["tpch_pricing_summary"]).df()
    assert canon([r.asDict() for r in got.values()], df.columns) == canon(
        oracle.to_dict("records"), list(oracle.columns)
    )
