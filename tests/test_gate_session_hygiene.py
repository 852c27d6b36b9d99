"""Driver-gate session hygiene: the driver runs every __spark_entry__
query in registry order inside ONE shared SparkSession, so any query
that leaves session conf mutated can silently change a LATER query's
result — the exact driver-vs-local divergence class called out in the
round-4 verdict (partitionColumnTypeInference leak at
q_incremental_refresh / q_partition_stats).

Two properties, checked over the conf-mutating queries and their
registry successors at sf0.001:

1. conf invariance — every watched conf key reads the same before and
   after each query (including the lazy DataFrame's collect);
2. order independence — the driver-canonical hash of each query run in
   registry order in one session equals its hash run in isolation.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
from tools.check_oracle import driver_hash  # noqa: E402

SF = "/root/testdata/sf0.001"

# every conf key any entry query or package write-path touches
WATCHED = [
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.sources.partitionOverwriteMode",
    "spark.chronon.join.salt",
    "spark.chronon.join.salt.keys",
    "spark.chronon.join.salt.time_days",
    "spark.chronon.backfill.small_mode.cutoff",
    "spark.chronon.backfill.bloom.min_right_bytes",
    "spark.sql.session.timeZone",
]

# the conf-mutating queries + cheap registry successors that would be
# the victims of a leak (warehouse readers, join variants)
SUBSET = [
    "incremental_refresh",
    "partition_stats",
    "temporal_join_salted",
    "temporal_join_smallmode",
    "temporal_join_midsize",
    "temporal_join_skewfilter",
    "cumulative_source",
]


def _conf_snapshot(spark):
    return {k: spark.conf.get(k, None) for k in WATCHED}


def _run(spark, name):
    df = entry.queries()[name](spark, SF)
    return df.toPandas()


@pytest.mark.slow
def test_registry_order_equals_isolated(spark):
    if not os.path.exists(f"{SF}/events.parquet"):
        pytest.skip("testdata missing")
    base = _conf_snapshot(spark)

    # isolated hashes: each query alone, conf state asserted clean first
    isolated = {}
    for name in SUBSET:
        assert _conf_snapshot(spark) == base, f"dirty conf before {name}"
        isolated[name] = driver_hash(_run(spark, name))
        assert _conf_snapshot(spark) == base, (
            f"{name} leaked conf: "
            f"{ {k: v for k, v in _conf_snapshot(spark).items() if base[k] != v} }"
        )

    # ordered pass: same session, registry order, no resets in between
    ordered = {}
    for name in SUBSET:
        ordered[name] = driver_hash(_run(spark, name))
    assert _conf_snapshot(spark) == base

    for name in SUBSET:
        assert ordered[name] == isolated[name], (
            f"{name}: registry-order hash differs from isolated hash — "
            "a prior query's session state changed this result"
        )
