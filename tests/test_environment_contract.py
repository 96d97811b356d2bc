"""Load-bearing runtime facts, pinned so the next silent environment
drift fails loudly instead of shipping wrong answers.

Round 4 context: upgrading to pyspark 4.1.2 + pandas 2.2 changed how
events.parquet's timestamp column surfaces (long-nanos → TIMESTAMP_NTZ;
`spark.sql.legacy.parquet.nanosAsLong` became accepted-but-ignored) and
what resolution Arrow hands pandas state kernels (datetime64[ns] →
datetime64[us]).  Four queries broke, two of them silently.  Each class
of breakage gets a contract test here.
"""
from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from splitserve_spark.tables import DEFAULT_SF_DIR, Tables, normalize_event_ts
from tests.oracle_utils import SF_DIR, SF_DIR_ORACLE


def test_events_ts_normalizes_to_micros_timestamp(spark):
    """Batch loader contract: events.ts is TIMESTAMP (LTZ) with µs
    precision preserved, whatever the on-disk/runtime representation.
    (Round-4 breakage: NTZ leaked through and downstream casts failed.)"""
    t = Tables(spark, SF_DIR)
    assert dict(t.events.dtypes)["ts"] == "timestamp"
    # µs precision must survive: 2024-epoch timestamps are 16 digits in
    # µs; sub-second parts must be non-zero somewhere in the table.
    row = t.events.select(
        F.max(F.expr("unix_micros(ts)")).alias("mx"),
        F.max(F.expr("unix_micros(ts) % 1000000")).alias("subsec"),
    ).first()
    assert len(str(row["mx"])) == 16, row["mx"]
    assert row["subsec"] > 0, "sub-second precision lost in ts normalization"


def test_stream_schema_matches_batch_contract(spark):
    """Stream loader contract: _events_stream yields the same ts type as
    the batch loader (round-4 breakage: hard-coded `ts long` schema made
    the file source emit 20 of 960 rows)."""
    from splitserve_spark.streaming.stateful import _events_stream

    stream = _events_stream(spark, SF_DIR)
    assert stream.isStreaming
    assert dict(stream.dtypes)["ts"] == "timestamp"


def test_normalizer_handles_all_three_representations(spark):
    """bigint-nanos, TIMESTAMP_NTZ and TIMESTAMP must all normalize to
    the same instant."""
    us = 1706640381466163  # 2024-01-30T18:46:21.466163Z
    base = spark.createDataFrame([(us * 1000,)], "ts long")
    ntz = spark.sql(
        f"SELECT make_timestamp_ntz(2024, 1, 30, 18, 46, 21.466163) AS ts"
    )
    ltz = spark.sql(f"SELECT timestamp_micros({us}) AS ts")
    outs = [
        normalize_event_ts(df).select(F.expr("unix_micros(ts)").alias("us")).first()["us"]
        for df in (base, ntz, ltz)
    ]
    assert outs == [us, us, us], outs


def test_pandas_epoch_micros_is_resolution_independent():
    """State-kernel contract: epoch-µs extraction must not assume the
    datetime64 unit (round-4 breakage: `astype(int64)//1000` silently
    divided µs-resolution values by 1000 → ms emitted as µs)."""
    ts = pd.Timestamp("2024-01-30 18:46:21.466163")
    want = 1706640381466163
    for unit in ("ns", "us", "ms"):
        s = pd.Series([ts]).astype(f"datetime64[{unit}]")
        got = int(((s - pd.Timestamp(0)) // pd.Timedelta(microseconds=1)).max())
        expect = want if unit != "ms" else (want // 1000) * 1000
        assert got == expect, (unit, got)


def test_kernel_sees_16_digit_micros(spark):
    """End-to-end: the custom stateful operator emits true epoch-µs
    (16 digits for 2024 data), not over-truncated ms (13 digits)."""
    from splitserve_spark.registry import REGISTRY, load_all

    load_all()
    out = REGISTRY["stream_stateful_profile"].fn(spark, SF_DIR).toPandas()
    assert len(out) > 0
    assert (out["last_ts_micros"].astype("int64") > 10**15).all(), (
        "last_ts_micros magnitude wrong — ms/µs truncation regressed"
    )


def test_nanos_as_long_flag_is_irrelevant(spark):
    """The engine must not depend on `nanosAsLong` having effect: the
    loader contract holds whether the flag is honored (≤4.0) or ignored
    (≥4.1)."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pytest.skip("conf not settable in this deployment")
    t = Tables(spark, SF_DIR)
    assert dict(t.events.dtypes)["ts"] == "timestamp"


@pytest.mark.parametrize("sf_dir", [SF_DIR, SF_DIR_ORACLE, DEFAULT_SF_DIR])
def test_orders_key_is_unique(spark, sf_dir):
    """o_orderkey is the key of orders (non-null, distinct) at every
    test SF.  Q16/Q94/Q95 count one row per surviving order key with
    count(1) and sum one o_totalprice per key, which equals the
    oracles' count(DISTINCT)/DISTINCT forms only under this key."""
    row = Tables(spark, sf_dir).orders.selectExpr(
        "count(1) AS n", "count(DISTINCT o_orderkey) AS keys"
    ).first()
    assert row["n"] > 0 and row["keys"] == row["n"], (sf_dir, row)
