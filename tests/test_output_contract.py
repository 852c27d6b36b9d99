"""Output contract of the public temporal operators: the result carries
exactly the declared columns — the query columns plus one feature column
per aggregation part — and never an internal `__`-prefixed column. The
join operators are checked under each hot-key split; the temporal
GroupBy (self path), the snapshot GroupBy and the mutation-replay join
carry no salting. Joins with bootstrap parts are checked with covering,
partial and non-matching bootstrap tables."""

import pytest
from pyspark.sql import functions as F

from chronon_spark.api import (
    Accuracy,
    Aggregation,
    AggregationPart,
    BootstrapPart,
    DataFrameSource,
    GroupBy,
    Join,
    JoinPart,
    Operation,
    Window,
)
from chronon_spark.operators.groupby import compute_snapshot_groupby
from chronon_spark.operators.mutations import temporal_entity_features
from chronon_spark.operators.snapshot_join import compute_join
from chronon_spark.operators import temporal_join
from chronon_spark.operators.temporal_join import (
    HotKey,
    compute_temporal_groupby,
    compute_temporal_join,
    temporal_features,
)
from chronon_spark.partitions import DEFAULT_SPEC, PartitionRange

BASE = 1704067200000
DAY = 86_400_000

# no split, a hash split and 3-day time shards of key 7
SALTING = {
    "none": (),
    "salt.keys": (HotKey((7,), 4),),
    "salt.time_days": (HotKey((7,), 4, days=3),),
}


@pytest.fixture(params=sorted(SALTING))
def salting(request, monkeypatch):
    """The split under test; every join step the test runs also takes it
    in place of the one the engine would choose."""
    split = SALTING[request.param]
    monkeypatch.setattr(temporal_join, "_split_decision", lambda *a: split)
    return split


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
    out = temporal_features(left, right, ["user_id"], ["user_id"], parts, prefix="f_",
                            split=salting)
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


@pytest.mark.parametrize("dense", [False, True])
def test_compute_snapshot_groupby_declared_schema(spark, dense):
    """Keys, ds and one column per part, in declared order, for a plain, a
    bucketed, an exact UNIQUE_COUNT, an array-input and two map-input
    parts — each of those has its own plan with internal columns."""
    events = spark.createDataFrame(
        [(i % 9, BASE + (i % 12) * DAY + i, float(i % 5), "ab"[i % 2],
          [float(i % 3)], {"x": float(i % 4), "y": 1.0})
         for i in range(300)],
        "user_id int, ts long, value double, cat string, xs array<double>, "
        "m map<string,double>",
    )
    gb = GroupBy(
        sources=[DataFrameSource(lambda s: events)],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("value", Operation.SUM, windows=[Window(7)]),
            Aggregation("value", Operation.SUM, windows=[Window(3)], buckets=["cat"]),
            Aggregation("value", Operation.UNIQUE_COUNT, windows=[Window(7), None]),
            Aggregation("xs", Operation.MAX, windows=[Window(7)]),
            Aggregation("m", Operation.COUNT, windows=[Window(7)]),
            Aggregation("m", Operation.HISTOGRAM, windows=[Window(7)]),
        ],
        name="snap",
    )
    features = [p.output_name for p in gb.aggregation_parts()]
    for rng in (None, PartitionRange("2024-01-05", "2024-01-08", DEFAULT_SPEC)):
        if dense and rng is None:
            continue  # dense output needs a bounded range
        out = compute_snapshot_groupby(spark, gb, rng, dense=dense)
        _assert_contract(out, ["user_id", "ds"] + features)
        assert out.count() > 0


def test_compute_join_with_bootstrap_declared_schema(spark, tmp_path):
    """Bootstrap tables that cover one part for some rows, cover a second
    part only in part, or match no row: the output is the left columns and
    then each part's features in declared order, whatever each table
    brings along (its keys, its own extra columns). A bootstrap key that
    is not a left column raises."""
    left, right = _frames(spark)
    gbs = [
        GroupBy(
            sources=[DataFrameSource(lambda s: right)],
            key_columns=["user_id"],
            aggregations=[Aggregation("value", op, windows=[Window(7), Window(1)])],
            accuracy=acc,
            name=name,
        )
        for name, op, acc in (("g1", Operation.SUM, Accuracy.TEMPORAL),
                              ("g2", Operation.MAX, Accuracy.SNAPSHOT))
    ]
    jps = [JoinPart(g) for g in gbs]
    features = [f"{jp.full_prefix()}_{p.output_name}"
                for jp in jps for p in jp.group_by.aggregation_parts()]
    g1, g2 = features[:2], features[2:]
    rows = [(r["user_id"], r["ts"], r["ds"]) for r in left.collect()]
    tables = {
        # every g1 column for the first ten left rows
        "cover": ([(u, t, ds, 1.0, 2.0) for u, t, ds in rows[:10]],
                  f"user_id int, ts long, ds string, {g1[0]} double, {g1[1]} double"),
        # one of g2's two columns, plus a column that is no join output
        "partial": ([(u, t, ds, 3.0, "x") for u, t, ds in rows[5:15]],
                    f"user_id int, ts long, ds string, {g2[1]} double, note string"),
        # keys that match no left row
        "miss": ([(99, 0, "2023-01-01", 4.0)],
                 f"user_id int, ts long, ds string, {g1[0]} double"),
    }
    paths = {}
    for name, (data, ddl) in tables.items():
        paths[name] = str(tmp_path / f"{name}.parquet")
        spark.createDataFrame(data, ddl).write.parquet(paths[name])
    for chosen in (["cover"], ["partial"], ["miss"], ["cover", "partial", "miss"]):
        join = Join(
            left=DataFrameSource(lambda s: left),
            join_parts=jps,
            row_ids=["user_id", "ts", "ds"],
            bootstrap_parts=[BootstrapPart(paths[c]) for c in chosen],
            name="bj",
        )
        out = compute_join(spark, join)
        _assert_contract(out, left.columns + features)
        assert out.count() == left.count()
    # a bootstrap key the left lacks would join on the other keys alone
    # and carry the extra key column into the output: refused
    keyed = Join(
        left=DataFrameSource(lambda s: left),
        join_parts=jps,
        bootstrap_parts=[BootstrapPart(paths["partial"], key_columns=["user_id", "note"])],
        name="bj",
    )
    with pytest.raises(ValueError, match=r"\['note'\]"):
        compute_join(spark, keyed)
