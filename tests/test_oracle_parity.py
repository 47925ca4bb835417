"""The local mirror of the driver's correctness gate: every registered
query runs on Spark AND its DuckDB oracle on the same parquet; results
must match as order-insensitive multisets with identical column names.

Floats are compared EXACTLY (bit-for-bit) — the determinism contract
(integer units + identical expression trees) is designed to make that
hold; a tolerance here would hide contract violations the driver's
value-hash would catch.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

SF_DIR = os.environ.get("DWAX_TEST_SF", "/root/testdata/sf0.001")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            v = 0.0  # -0.0 -> 0.0
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _canon(df_pandas):
    cols = sorted(df_pandas.columns)
    rows = [
        tuple(_canon_cell(r[c]) for c in cols)
        for r in df_pandas.to_dict("records")
    ]
    return cols, sorted(rows)


def _query_names():
    from dask_awkward_sandbox_spark.plans import ORACLES, QUERIES

    return sorted(QUERIES), ORACLES


NAMES, _ = _query_names()

# The always-on subset of the sweep below: one TPC-H slot, one nested
# HOF slot, one dedup slot and one join slot, so a default
# `pytest tests/` run still checks values end to end against DuckDB
# (the read path and the session confs every slot shares included).
SMOKE = [
    "q1_pricing_summary",
    "q_reduce_order_count",
    "q_dedup_minhash_clusters",
    "q3_shipping_priority",
]

# r15 (verdict item 2, explicitly sanctioned): the full 50-slot
# Spark-vs-DuckDB sweep is the single most expensive block of the
# default suite (~2 min on a calm box, ~5 on a loaded one) and the
# driver re-runs EXACTLY this comparison itself every round
# (CORRECTNESS_r*.json, at sf0.001 and sf0.01) — so the default
# `pytest tests/` run skips it to fit the driver's verification
# window, and any query-touching change must run it explicitly:
#   DWAX_ORACLE_TESTS=1 pytest tests/test_oracle_parity.py
# (optionally with DWAX_TEST_SF=/root/testdata/sf0.01). Setting
# DWAX_TEST_SF alone also enables it — an explicit SF request is an
# explicit run request.
_full_sweep = pytest.mark.skipif(
    os.environ.get("DWAX_ORACLE_TESTS") != "1"
    and "DWAX_TEST_SF" not in os.environ,
    reason="driver-covered oracle sweep; set DWAX_ORACLE_TESTS=1 to run",
)


def _assert_matches_oracle(spark, name):
    from dask_awkward_sandbox_spark.plans import ORACLES, QUERIES

    sdf = QUERIES[name](spark, SF_DIR).toPandas()
    if name not in ORACLES:
        # rows-only check, mirroring the driver's weaker gate
        assert sdf.shape[0] >= 0
        return
    con = _duck(SF_DIR)
    odf = con.execute(ORACLES[name]).df()
    scols, srows = _canon(sdf)
    ocols, orows = _canon(odf)
    assert scols == ocols, f"{name}: columns {scols} != {ocols}"
    assert len(srows) == len(orows), f"{name}: {len(srows)} rows vs {len(orows)}"
    mismatches = [
        (a, b) for a, b in zip(srows, orows) if a != b
    ]
    assert not mismatches, f"{name}: first mismatches {mismatches[:5]}"


@pytest.mark.parametrize("name", SMOKE)
def test_oracle_smoke(spark, name):
    _assert_matches_oracle(spark, name)


@_full_sweep
@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, name):
    _assert_matches_oracle(spark, name)
