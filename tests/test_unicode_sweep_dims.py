"""Multibyte sweep over events + TPC-H-ish dims.

tests/test_unicode_sweep.py covers every documents-reading oracle; this
module closes the rest of the string surface: one adversarial multibyte
row is appended to EACH table that has string columns (events, customer,
supplier, part, orders, lineitem, nation, region — foreign keys chained so
the new rows flow through joins), and every registered oracle whose SQL
reads any of those string columns is driven through the full driver-style
comparison. The sweep set is DERIVED from the oracle SQL (scan for string
column names), so a new dim-reading query is swept automatically.

The appended rows use valid numerics (2-decimal money, in-range dates) so
exact-arithmetic and GK-exact-regime invariants hold; only the string
columns are adversarial (CJK, emoji, combining accents, RTL, casefold
traps, multibyte JSON values in events.props).
"""

from __future__ import annotations

import datetime
import os
import shutil

import pytest

from spark_streaming_invoice_anomaly_detection_spark.plans.registry import (
    REGISTRY,
    queries,
)
from spark_streaming_invoice_anomaly_detection_spark.schemas import TESTDATA_TABLES

from .oracle import assert_matches_oracle, duckdb_con

queries()  # force registry load

#: String columns per mutated table — the sweep enumerates oracles by
#: whether their SQL mentions any of these column names.
STRING_COLS: dict[str, list[str]] = {
    "events": ["event_type", "props"],
    "customer": ["c_name", "c_mktsegment"],
    "supplier": ["s_name"],
    "part": ["p_name", "p_brand", "p_type"],
    "orders": ["o_orderstatus", "o_orderpriority"],
    "lineitem": ["l_returnflag", "l_linestatus"],
    "nation": ["n_name"],
    "region": ["r_name"],
}

#: Appended rows, keyed by table. Key columns are offsets ADDED to the
#: fixture's max key so ids stay unique at any SF; the FK chain
#: region->nation->customer/supplier->orders->lineitem (+part) is wired
#: through the same offsets so multibyte names survive joins.
_TS = datetime.datetime(2024, 1, 15, 12, 0, 0, 123456)
_DATE = datetime.datetime(1996, 6, 15)


def _mutated_rows(maxkeys: dict[str, int]) -> dict[str, dict]:
    rk = maxkeys["region"] + 1
    nk = maxkeys["nation"] + 1
    ck = maxkeys["customer"] + 1
    sk = maxkeys["supplier"] + 1
    pk = maxkeys["part"] + 1
    ok = maxkeys["orders"] + 1
    ek = maxkeys["events"] + 1
    return {
        "region": {"r_regionkey": rk, "r_name": "RÉGION_ÜNÏ 区域 🌍"},
        "nation": {
            "n_nationkey": nk,
            "n_name": "NATIÖN_日本 ÅLAND İstanbul",
            "n_regionkey": rk,
        },
        "customer": {
            "c_custkey": ck,
            "c_name": "Müller 顧客 José 👨‍👩‍👧‍👦",
            "c_nationkey": nk,
            "c_acctbal": 1234.56,
            "c_mktsegment": "SEGMENT_ÜÑÎ straße",
        },
        "supplier": {
            "s_suppkey": sk,
            "s_name": "Suppliér 供応商 Ærø منتج",
            "s_nationkey": nk,
            "s_acctbal": 999.99,
        },
        "part": {
            "p_partkey": pk,
            "p_name": "pièce 部品 ñandú widget",
            "p_brand": "Brand#Ü1",
            "p_type": "ÉCONOMY 特殊 ﬁne",
            "p_size": 7,
            "p_retailprice": 901.23,
        },
        "orders": {
            "o_orderkey": ok,
            "o_custkey": ck,
            "o_orderstatus": "Ü",
            "o_totalprice": 1000.00,
            "o_orderdate": _DATE,
            "o_orderpriority": "5-PRIORITÉ_低",
        },
        "lineitem": {
            "l_orderkey": ok,
            "l_partkey": pk,
            "l_suppkey": sk,
            "l_linenumber": 1,
            "l_quantity": 3.0,
            "l_extendedprice": 123.45,
            "l_discount": 0.05,
            "l_tax": 0.03,
            "l_returnflag": "Ü",
            "l_linestatus": "Ø",
            "l_shipdate": datetime.datetime(1996, 7, 1),
        },
        "events": {
            "event_id": ek,
            "ts": _TS,
            "user_id": 99999,
            "event_type": "クリック_событие🎉",
            "value": 42.5,
            "props": '{"k": 3, "note": "日本語 ノート 🚀 naïve"}',
        },
    }


_KEY_COL = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "events": "event_id",
}

_ALL_STRING_COLS = [c for cols in STRING_COLS.values() for c in cols]

SWEEP_NAMES = sorted(
    n
    for n, s in REGISTRY.items()
    if s.oracle is not None
    and any(c in s.oracle for c in _ALL_STRING_COLS)
)

#: Correct-but-empty allowed, mirroring tests/test_queries_oracle.EMPTY_OK.
EMPTY_OK = {"join_anti", "nation_volume_shipping"}


@pytest.fixture(scope="module")
def unidim_sf_dir(tmp_path_factory, sf_dir):
    """sf_dir clone where every string-bearing table carries one
    multibyte row, FK-chained so the rows survive joins."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = str(tmp_path_factory.mktemp("unidim_sf"))
    bases = {
        t: pq.read_table(os.path.join(sf_dir, f"{t}.parquet"))
        for t in _KEY_COL
    }
    maxkeys = {
        t: pa.compute.max(bases[t][_KEY_COL[t]]).as_py() for t in bases
    }
    rows = _mutated_rows(maxkeys)
    for t in TESTDATA_TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        if t not in rows:
            shutil.copy(src, os.path.join(out, f"{t}.parquet"))
            continue
        base = bases.get(t) or pq.read_table(src)
        row = rows[t]
        # build the one-row table with the base schema's exact types
        # (preserves e.g. events.ts parquet TIMESTAMP(NANOS))
        extra = pa.table(
            {
                f.name: pa.array([row[f.name]], type=f.type)
                for f in base.schema
            }
        )
        pq.write_table(
            pa.concat_tables([base, extra]), os.path.join(out, f"{t}.parquet")
        )
    return out


@pytest.fixture(scope="module")
def unidim_con(unidim_sf_dir):
    c = duckdb_con(unidim_sf_dir)
    yield c
    c.close()


def test_sweep_covers_the_dim_string_surface():
    """Derived sweep floor: every oracle reading a string column of the
    mutated tables is in the set, and the set can't silently empty out."""
    assert len(SWEEP_NAMES) >= 65
    for must in (
        "pricing_summary",          # l_returnflag/l_linestatus group keys
        "join_five_way_volume",     # n_name/r_name through a 5-way join
        "validation_cascade",       # event_type routing
        "json_extract",             # multibyte JSON values in props
        "string_funcs",             # p_name/p_brand/p_type string ops
        "top_returning_customers",  # c_name through fact-fact join
        "invoice_featurize_ranked", # composite flagship (c_name window)
    ):
        assert must in SWEEP_NAMES
    # and the row fixtures cover every table that has string columns
    assert set(STRING_COLS) == set(_mutated_rows(dict.fromkeys(_KEY_COL, 0)))


@pytest.mark.parametrize("name", SWEEP_NAMES)
def test_oracle_survives_multibyte_dims(spark, unidim_sf_dir, unidim_con, name):
    spec = REGISTRY[name]
    df = spec.spark(spark, unidim_sf_dir)
    assert_matches_oracle(
        df, unidim_con, spec.oracle, name=name, allow_empty=name in EMPTY_OK
    )
