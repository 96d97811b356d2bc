from __future__ import annotations

import pytest

from splitserve_spark.registry import REGISTRY, load_all
from tests.oracle_utils import SF_DIR, SF_DIR_ORACLE, check_query

load_all()

# Select by module, not by hand-maintained list (r6 advice pattern):
# every tpcds_paper query is oracled, so new shapes are auto-covered.
QDS = sorted(
    n
    for n, s in REGISTRY.items()
    if s.fn.__module__ == "splitserve_spark.operators.tpcds_paper"
)


@pytest.mark.parametrize("name", QDS)
def test_oracle_match(spark, name):
    check_query(spark, name, SF_DIR)


@pytest.mark.parametrize("name", QDS)
def test_nonempty_at_oracle_sf(spark, name):
    df = REGISTRY[name].fn(spark, "/root/testdata/sf0.01")
    assert df.count() >= 1


#: The tpc_sql bench set: bounded reports sorted in one task (Q1, Q5)
#: and the keyed orders ⊎ lineitem aggregate (Q16/Q94/Q95).
PAPER_TPC = (
    "q1_pricing_summary",
    "qds5_channel_rollup",
    "qds16_multi_site_no_returns",
    "qds94_web_no_returns",
    "qds95_both_sites_view",
)


@pytest.mark.parametrize("partitions", ["1", "64"])
def test_paper_tpc_partition_independent(spark, partitions):
    """Rows, values and emitted order do not depend on the shuffle
    partition count: strict oracle match at 1 and 64 partitions."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, partitions)
        for name in PAPER_TPC:
            check_query(spark, name, SF_DIR_ORACLE, strict=True)
    finally:
        spark.conf.set(key, old)
