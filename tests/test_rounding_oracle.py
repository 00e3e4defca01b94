"""Half-cent rounding parity between a query and its DuckDB oracle.

``tpch_q3_shipping_priority`` sums revenue exactly in DECIMAL and rounds
to cents. Rounding after the cast to double put exact half-cents on
different sides in Spark and DuckDB (1.005 is 1.00499… as a double);
``queries.core._dsum_round`` rounds the decimal first, on both sides.
Hypothesis plants line items whose revenues end in a half cent and
compares the query with its oracle and with an exact half-up model."""

from __future__ import annotations

import datetime as dt
import os
import uuid
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from metar_pipeline_spark.queries import all_queries
from tools.check_oracle import canon

Q3 = "tpch_q3_shipping_priority"

# Half-cent prices (in tenths of a cent) whose double lies below the
# half, so that rounding the double goes down in DuckDB: 1.005 is
# 1.00499… as a double. Most half-cent doubles do not show it.
BELOW_HALF = [145, 285, 565, 575, 1005, 1015, 1025, 1035]

# one order: its line items as (price in tenths of a cent ending in 5,
# discount); every item's revenue then has a half cent before summing
orders = st.lists(
    st.lists(
        st.tuples(
            st.one_of(
                st.sampled_from(BELOW_HALF),
                st.integers(min_value=0, max_value=99_999).map(
                    lambda k: 10 * k + 5
                ),
            ),
            st.sampled_from([0.0, 0.5]),
        ),
        min_size=1,
        max_size=3,
    ),
    min_size=1,
    max_size=12,
)


def _write_tables(root: str, lines: list[list[tuple[int, float]]]) -> None:
    before = dt.datetime(1998, 3, 1)
    after = dt.datetime(1998, 4, 1)
    n = len(lines)
    tables = {
        "customer": {"c_custkey": [1], "c_mktsegment": ["BUILDING"]},
        "orders": {
            "o_orderkey": list(range(n)),
            "o_custkey": [1] * n,
            "o_orderdate": [before] * n,
            "o_orderpriority": ["1-URGENT"] * n,
        },
        "lineitem": {
            "l_orderkey": [o for o, items in enumerate(lines) for _ in items],
            "l_extendedprice": [p / 1000 for items in lines for p, _ in items],
            "l_discount": [d for items in lines for _, d in items],
            "l_shipdate": [after] * sum(map(len, lines)),
        },
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"))


def _model(lines) -> dict[int, float]:
    """Exact revenue per order, rounded half-up to cents."""
    out = {}
    for o, items in enumerate(lines):
        rev = sum(
            Decimal(repr(p / 1000)) * (1 - Decimal(repr(d))) for p, d in items
        )
        out[o] = float(rev.quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))
    return out


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture,
                           HealthCheck.too_slow],
)
@example(lines=[[(p, 0.0)] for p in BELOW_HALF])
@given(lines=orders)
def test_q3_half_cent_revenue_matches_oracle(spark, tmp_path, lines):
    root = str(tmp_path / uuid.uuid4().hex)
    os.makedirs(root)
    _write_tables(root, lines)
    spec = all_queries()[Q3]
    sdf = spec.spark_fn(spark, root)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    for t in ("customer", "orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(root, t)}.parquet')"
        )
    cur = con.execute(spec.oracle)
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()
    con.close()

    assert canon(srows, scols) == canon(orows, ocols)
    want = _model(lines)
    for r in sdf.collect():
        assert r.revenue == want[r.o_orderkey], (r, want[r.o_orderkey])
