"""Output contract of the public temporal operators: the result carries
exactly the declared columns — the query columns plus one feature column
per aggregation part — and never an internal `__`-prefixed column. The
join operators are checked under every salting mode; the temporal
GroupBy (self path) and the mutation-replay join carry no salting."""

import pytest
from pyspark.sql import functions as F

from chronon_spark.api import (
    Accuracy,
    Aggregation,
    AggregationPart,
    DataFrameSource,
    GroupBy,
    Join,
    JoinPart,
    Operation,
    Window,
)
from chronon_spark.operators.mutations import temporal_entity_features
from chronon_spark.operators.temporal_join import (
    compute_temporal_groupby,
    compute_temporal_join,
    temporal_features,
)
from chronon_spark.partitions import DEFAULT_SPEC, PartitionRange

BASE = 1704067200000
DAY = 86_400_000

SALTING = {
    "none": {},
    "salt.keys": {"spark.chronon.join.salt": "4", "spark.chronon.join.salt.keys": "7"},
    "salt.time_days": {"spark.chronon.join.salt.keys": "7",
                       "spark.chronon.join.salt.time_days": "3"},
}


@pytest.fixture(params=sorted(SALTING))
def salting(request, spark):
    confs = SALTING[request.param]
    for k, v in confs.items():
        spark.conf.set(k, v)
    yield
    for k in confs:
        spark.conf.unset(k)


def _frames(spark):
    right = spark.createDataFrame(
        [(i % 9, BASE + (i % 12) * DAY + i, float(i % 5)) for i in range(300)],
        "user_id int, ts long, value double",
    )
    left = spark.createDataFrame(
        [(i % 9, BASE + 8 * DAY + i * 1000) for i in range(40)],
        "user_id int, ts long",
    ).withColumn("ds", F.date_format(F.timestamp_millis("ts"), "yyyy-MM-dd"))
    return left, right


def _assert_contract(out, expected):
    assert out.columns == expected
    assert not [c for c in out.columns if c.startswith("__")]


def test_temporal_features_declared_schema(spark, salting):
    left, right = _frames(spark)
    parts = [
        AggregationPart("value", Operation.SUM, window=Window(7)),
        AggregationPart("value", Operation.COUNT, window=Window(1)),
    ]
    out = temporal_features(left, right, ["user_id"], ["user_id"], parts, prefix="f_")
    _assert_contract(out, left.columns + [f"f_{p.output_name}" for p in parts])
    assert out.count() == left.count()


def test_compute_temporal_join_declared_schema(spark, salting):
    left, right = _frames(spark)
    parts = []
    for name, op in (("g1", Operation.SUM), ("g2", Operation.MAX)):
        gb = GroupBy(
            sources=[DataFrameSource(lambda s: right)],
            key_columns=["user_id"],
            aggregations=[Aggregation("value", op, windows=[Window(7)])],
            accuracy=Accuracy.TEMPORAL,
            name=name,
        )
        parts.append(JoinPart(gb))
    for jps in (parts[:1], parts):  # single-part and multi-part plans
        join = Join(left=DataFrameSource(lambda s: left), join_parts=jps, name="j")
        out = compute_temporal_join(spark, join)
        features = [f"{jp.full_prefix()}_{p.output_name}"
                    for jp in jps for p in jp.group_by.aggregation_parts()]
        _assert_contract(out, left.columns + features)


def test_compute_temporal_groupby_declared_schema(spark):
    _, events = _frames(spark)
    gb = GroupBy(
        sources=[DataFrameSource(lambda s: events.withColumn("extra", F.lit(1)))],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("value", Operation.SUM, windows=[Window(7)]),
            Aggregation("value", Operation.LAST_K, arg_map={"k": 2}, windows=[Window(1)]),
        ],
        accuracy=Accuracy.TEMPORAL,
        name="self",
    )
    features = [p.output_name for p in gb.aggregation_parts()]
    for rng in (None, PartitionRange("2024-01-05", "2024-01-08", DEFAULT_SPEC)):
        out = compute_temporal_groupby(spark, gb, rng)
        _assert_contract(out, ["user_id", "ts"] + features + ["ds"])
        assert out.count() > 0


def test_temporal_entity_features_declared_schema(spark):
    left, _ = _frames(spark)
    snap = spark.createDataFrame(
        [(i % 9, BASE + 7 * DAY - i, float(i), "2024-01-08") for i in range(30)],
        "user_id int, ts long, value double, ds string",
    )
    mut = spark.createDataFrame(
        [(i % 9, BASE + 8 * DAY + i, float(i), BASE + 8 * DAY + 500 * i, i % 3 == 0)
         for i in range(30)],
        "user_id int, ts long, value double, mutation_ts long, is_before boolean",
    )
    parts = [
        AggregationPart("value", Operation.SUM, window=None),
        AggregationPart("value", Operation.MAX, window=Window(7)),
    ]
    out = temporal_entity_features(left, snap, mut, ["user_id"], ["user_id"], parts,
                                   prefix="e_")
    _assert_contract(out, left.columns + [f"e_{p.output_name}" for p in parts])
    assert out.count() == left.count()
