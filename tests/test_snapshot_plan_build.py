"""The snapshot GroupBy builds a step's plan as one SQL statement.

Built from chained DataFrame calls, a step of the `groupby_backfill`
benchmark shape made ~1,400 py4j round trips before Spark ran a task
(each `F.*` / `Column` call pays ~13 of them). These tests pin the
round-trip budget of the build, the Exchange count of the plan it
builds, and that the build leaves no temp view behind. Entity GroupBys
take the same statement; their Exchange counts are pinned per part mix.
"""

import re

import numpy as np
import pytest

from chronon_spark.api import (
    Aggregation,
    DataFrameSource,
    EventSource,
    GroupBy,
    Operation,
    Query,
    Window,
)
from chronon_spark.operators.groupby import compute_snapshot_groupby
from chronon_spark.partitions import PartitionRange

BASE = 1704067200000  # 2024-01-01 UTC
DAY = 86_400_000

# the groupby_backfill workload's aggregations
AGGS = [
    Aggregation("value", Operation.SUM, windows=[Window(7), None]),
    Aggregation("value", Operation.COUNT, windows=[Window(7)]),
    Aggregation("value", Operation.AVERAGE, windows=[Window(7)]),
    Aggregation("value", Operation.MAX, windows=[Window(7)]),
    Aggregation("value", Operation.UNIQUE_COUNT, windows=[Window(7)]),
]
MAX_ROUND_TRIPS = 300
MAX_EXCHANGES = 8


@pytest.fixture(scope="module")
def group_by(spark, tmp_path_factory):
    rng = np.random.default_rng(5)
    n = 2000
    ts = BASE + rng.integers(0, 20 * DAY, n)
    rows = [(int(k), int(t), float(v)) for k, t, v in
            zip(rng.integers(0, 50, n), ts, np.round(rng.gamma(2.0, 10.0, n), 2))]
    path = str(tmp_path_factory.mktemp("plan_build") / "events")
    (spark.createDataFrame(rows, "user_id int, ts long, value double")
     .selectExpr("*", "date_format(timestamp_millis(ts), 'yyyy-MM-dd') AS ds")
     .write.partitionBy("ds").parquet(path))
    return GroupBy(
        sources=[EventSource(path, Query(selects={"user_id": "user_id", "value": "value"},
                                         time_column="ts"))],
        key_columns=["user_id"], aggregations=AGGS, name="budget",
    )


def _build(spark, group_by):
    return compute_snapshot_groupby(
        spark, group_by, PartitionRange("2024-01-14", "2024-01-17"))


def test_step_build_round_trip_budget(spark, group_by, monkeypatch):
    _build(spark, group_by)  # warm: first-use class loading is not the build
    client = spark.sparkContext._gateway._gateway_client
    calls = []
    send = client.send_command

    def counting(*args, **kwargs):
        calls.append(1)
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    _build(spark, group_by)
    monkeypatch.undo()
    assert 0 < len(calls) <= MAX_ROUND_TRIPS, len(calls)


def test_step_plan_exchanges_and_no_leftover_views(spark, group_by):
    before = {(t.name, t.isTemporary) for t in spark.catalog.listTables()}
    df = _build(spark, group_by)
    assert {(t.name, t.isTemporary) for t in spark.catalog.listTables()} == before
    # AQE's initial plan, before any stage runs: one node per Exchange
    plan = df._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(r"\bExchange\b", plan)
    assert 0 < len(exchanges) <= MAX_EXCHANGES, plan
    assert df.count() > 0  # the view the statement read is gone, the plan is not


# entity part mixes -> the Exchanges of their plan, which must not grow
ENTITY_EXCHANGES = {
    "sum_count_max_unwindowed": (
        [Aggregation("v", op) for op in (Operation.SUM, Operation.COUNT, Operation.MAX)], 1),
    "sum_lifetime_and_3d": ([Aggregation("v", Operation.SUM, windows=[None, Window(3)])], 2),
    "sum_3d_unique_count_3d": ([Aggregation("v", Operation.SUM, windows=[Window(3)]),
                                Aggregation("cat", Operation.UNIQUE_COUNT, windows=[Window(3)])],
                               8),
    "unique_count_histogram_unwindowed": ([Aggregation("cat", Operation.UNIQUE_COUNT),
                                           Aggregation("cat", Operation.HISTOGRAM)], 2),
}


@pytest.mark.parametrize("mix", sorted(ENTITY_EXCHANGES))
def test_entity_plan_exchanges(spark, mix):
    aggs, budget = ENTITY_EXCHANGES[mix]
    rows = [(i % 7, f"2024-01-{1 + i % 9:02d}", float(i), "abc"[i % 3]) for i in range(100)]
    snap = spark.createDataFrame(rows, "k int, ds string, v double, cat string")
    gb = GroupBy(sources=[DataFrameSource(lambda s: snap, entity=True)], key_columns=["k"],
                 aggregations=aggs, name="e")
    df = compute_snapshot_groupby(spark, gb, PartitionRange("2024-01-03", "2024-01-08"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert 0 < len(re.findall(r"\bExchange\b", plan)) <= budget, plan
    assert df.count() > 0
