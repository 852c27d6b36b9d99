"""Temporal-entity mutation-replay tests — the pytest analog of the
reference's MutationsTest (spark/src/test/.../MutationsTest.scala) and
EntitiesEntitiesTest temporal paths: insert / update / delete before and
after the query ts, window aging with sawtooth tails, and a randomized
engine-vs-naive sweep including non-invertible operators."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from chronon_spark.api import (
    Accuracy,
    Aggregation,
    AggregationPart,
    EntitySource,
    GroupBy,
    Join,
    JoinPart,
    Operation,
    Query,
    Window,
    DataFrameSource,
)
from chronon_spark.operators.mutations import (
    naive_entity_replay,
    temporal_entity_features,
)
from chronon_spark.operators.snapshot_join import compute_join

BASE = 1704067200000  # 2024-01-01 UTC
DAY = 86_400_000
HOUR = 3_600_000


def _mk_parts(*specs):
    return [AggregationPart(c, op, dict(args or {}), w) for c, op, w, args in specs]


@pytest.fixture(scope="module")
def scenario(spark):
    # snapshot partition 2024-01-04 = entity state at EOD 01-04
    snap = spark.createDataFrame(
        [(1, BASE + 1 * DAY + 100, 10.0, "2024-01-04"),
         (1, BASE + 3 * DAY + 500, 20.0, "2024-01-04")],
        "user_id int, ts long, value double, ds string",
    )
    # day 01-05 mutations: insert 30, update 20 -> 25, delete 10
    mut = spark.createDataFrame(
        [(1, BASE + 4 * DAY + 1000, 30.0, BASE + 4 * DAY + 1000, False),
         (1, BASE + 3 * DAY + 500, 20.0, BASE + 4 * DAY + 5000, True),
         (1, BASE + 3 * DAY + 500, 25.0, BASE + 4 * DAY + 5000, False),
         (1, BASE + 1 * DAY + 100, 10.0, BASE + 4 * DAY + 8000, True)],
        "user_id int, ts long, value double, mutation_ts long, is_before boolean",
    )
    return snap, mut


def _run(spark, scenario, query_ts, parts):
    snap, mut = scenario
    left = spark.createDataFrame(
        [(1, t) for t in query_ts], "user_id int, ts long"
    )
    out = temporal_entity_features(left, snap, mut, ["user_id"], ["user_id"], parts)
    return {r["ts"]: r for r in out.collect()}


def test_mutation_replay_timeline(spark, scenario):
    """Walk the day: each mutation becomes visible at its mutation_ts."""
    parts = _mk_parts(
        ("value", Operation.SUM, None, None),
        ("value", Operation.COUNT, None, None),
        ("value", Operation.LAST, None, None),
        ("value", Operation.MIN, None, None),
    )
    T1 = BASE + 4 * DAY + 500      # before any mutation
    T2 = BASE + 4 * DAY + 2000     # after insert(30)
    T3 = BASE + 4 * DAY + 6000     # after update(20 -> 25)
    T4 = BASE + 4 * DAY + 9000     # after delete(10)
    rows = _run(spark, scenario, [T1, T2, T3, T4], parts)
    assert rows[T1]["value_sum"] == pytest.approx(30.0)
    assert rows[T1]["value_count"] == 2
    assert rows[T1]["value_last"] == pytest.approx(20.0)
    assert rows[T2]["value_sum"] == pytest.approx(60.0)
    assert rows[T2]["value_count"] == 3
    assert rows[T2]["value_last"] == pytest.approx(30.0)
    assert rows[T3]["value_sum"] == pytest.approx(65.0)  # 10 + 25 + 30
    assert rows[T3]["value_min"] == pytest.approx(10.0)
    assert rows[T4]["value_sum"] == pytest.approx(55.0)  # 25 + 30
    assert rows[T4]["value_count"] == 2
    assert rows[T4]["value_min"] == pytest.approx(25.0)


def test_mutation_windowed_aging(spark, scenario):
    """2d window (1h sawtooth hops): the 01-02 row ages out, the update
    and insert stay in."""
    parts = _mk_parts(("value", Operation.SUM, Window(2), None))
    T4 = BASE + 4 * DAY + 9000
    rows = _run(spark, scenario, [T4], parts)
    # tail = round(T4 - 2d, 1h) = 01-03 00:00; rows in window: 25, 30
    assert rows[T4]["value_sum_2d"] == pytest.approx(55.0)


def test_mutation_after_query_invisible(spark, scenario):
    """A mutation with mutation_ts >= T must not be visible at T (and the
    head is EXCLUSIVE: an entity row with ts == T is out)."""
    snap, mut = scenario
    parts = _mk_parts(("value", Operation.SUM, Window(7), None))
    T = BASE + 4 * DAY + 1000  # exactly the insert's mutation_ts
    rows = _run(spark, (snap, mut), [T], parts)
    assert rows[T]["value_sum_7d"] == pytest.approx(30.0)  # insert NOT included


def test_join_dispatch_entity_mutations(spark, scenario, tmp_path):
    """Full Join dispatch: EntitySource with a mutation_table and TEMPORAL
    accuracy routes through the replay kernel."""
    snap, mut = scenario
    snap.write.parquet(str(tmp_path / "snap.parquet"))
    mut.write.parquet(str(tmp_path / "mut.parquet"))
    left = spark.createDataFrame(
        [(1, BASE + 4 * DAY + 9000)], "user_id int, ts long"
    ).withColumn("ds", F.date_format(F.timestamp_millis("ts"), "yyyy-MM-dd"))
    gb = GroupBy(
        sources=[EntitySource(
            snapshot_table=str(tmp_path / "snap.parquet"),
            query=Query(selects={"user_id": "user_id", "value": "value"},
                        time_column="ts"),
            mutation_table=str(tmp_path / "mut.parquet"),
        )],
        key_columns=["user_id"],
        aggregations=[Aggregation("value", Operation.SUM),
                      Aggregation("value", Operation.COUNT, windows=[Window(2)])],
        accuracy=Accuracy.TEMPORAL,
        name="ent",
    )
    join = Join(left=DataFrameSource(lambda s: left), join_parts=[JoinPart(gb)], name="j")
    row = compute_join(spark, join).collect()[0]
    assert row["ent_value_sum"] == pytest.approx(55.0)
    assert row["ent_value_count_2d"] == 2


def test_mutation_replay_vs_naive_randomized(spark):
    """Randomized consistency sweep: engine vs brute-force replay for
    invertible AND non-invertible ops over a generated consistent
    snapshot+changelog (the analog of DataFrameGen.mutations)."""
    rng = np.random.default_rng(7)
    n_days = 5
    base_rows = []  # (key, ts, value, u_ts|None, d_ts|None)
    for _ in range(300):
        key = int(rng.integers(0, 6))
        ts = int(BASE + rng.integers(0, n_days * DAY))
        value = float(round(rng.uniform(1, 50), 2))
        u_ts = d_ts = None
        r = rng.uniform()
        if r < 0.3:
            u_ts = ts + int(rng.integers(1, 2 * DAY))
        elif r < 0.5:
            d_ts = ts + int(rng.integers(1, 2 * DAY))
        base_rows.append((key, ts, value, u_ts, d_ts))

    def eod(day):
        return BASE + (day + 1) * DAY

    # snapshot partitions: state at EOD(d)
    snap_rows = []
    for d in range(n_days):
        ds = f"2024-01-{d + 1:02d}"
        for key, ts, value, u_ts, d_ts in base_rows:
            if ts >= eod(d):
                continue
            if d_ts is not None and d_ts < eod(d):
                continue
            v = value + 7.0 if (u_ts is not None and u_ts < eod(d)) else value
            snap_rows.append(
                {"user_id": key, "ts": ts, "value": v, "ds": ds}
            )
    # mutation log: insert images + update/delete before/after images
    mut_rows = []
    for key, ts, value, u_ts, d_ts in base_rows:
        mut_rows.append({"user_id": key, "ts": ts, "value": value,
                         "mutation_ts": ts, "is_before": False})
        if u_ts is not None:
            mut_rows.append({"user_id": key, "ts": ts, "value": value,
                             "mutation_ts": u_ts, "is_before": True})
            mut_rows.append({"user_id": key, "ts": ts, "value": value + 7.0,
                             "mutation_ts": u_ts, "is_before": False})
        if d_ts is not None:
            mut_rows.append({"user_id": key, "ts": ts, "value": value,
                             "mutation_ts": d_ts, "is_before": True})

    snap = spark.createDataFrame(
        [(r["user_id"], r["ts"], r["value"], r["ds"]) for r in snap_rows],
        "user_id int, ts long, value double, ds string",
    )
    mut = spark.createDataFrame(
        [(r["user_id"], r["ts"], r["value"], r["mutation_ts"], r["is_before"])
         for r in mut_rows],
        "user_id int, ts long, value double, mutation_ts long, is_before boolean",
    )
    queries = [
        (int(rng.integers(0, 6)), int(BASE + rng.integers(DAY, n_days * DAY)))
        for _ in range(120)
    ]
    left = spark.createDataFrame(queries, "user_id int, ts long")
    parts = _mk_parts(
        ("value", Operation.SUM, Window(2), None),
        ("value", Operation.COUNT, None, None),
        ("value", Operation.AVERAGE, Window(3), None),
        ("value", Operation.VARIANCE, None, None),
        ("value", Operation.LAST, Window(2), None),
        ("value", Operation.MIN, None, None),
        ("value", Operation.UNIQUE_COUNT, Window(3), None),
        ("value", Operation.TOP_K, Window(3), {"k": 4}),
        ("value", Operation.HISTOGRAM, None, None),
    )
    out = temporal_entity_features(left, snap, mut, ["user_id"], ["user_id"], parts)
    got = {(r["user_id"], r["ts"]): r for r in out.collect()}
    assert len(got) == len(set(queries))

    for key, T in set(queries):
        qday = T // DAY
        k_snap = [r for r in snap_rows if r["user_id"] == key]
        k_mut = [r for r in mut_rows if r["user_id"] == key]
        row = got[(key, T)]
        for part in parts:
            exp = naive_entity_replay(k_snap, k_mut, (T, qday), part, "value")
            val = row[part.output_name]
            if isinstance(exp, float):
                assert val == pytest.approx(exp, abs=1e-9), (key, T, part.output_name)
            elif isinstance(exp, list):
                assert val == pytest.approx(exp), (key, T, part.output_name)
            elif isinstance(exp, dict):
                assert val == exp, (key, T, part.output_name)
            elif exp is None:
                assert val is None or (isinstance(val, float) and val != val), (
                    key, T, part.output_name, val)
            else:
                assert val == exp, (key, T, part.output_name)


def test_custom_mutation_and_reversal_columns(spark, scenario, tmp_path):
    """Query.mutationTimeColumn / reversalColumn (api.thrift:17-18): a
    mutation table with renamed metadata columns produces identical
    results once the Query declares the expressions."""
    snap, mut = scenario
    snap.write.parquet(str(tmp_path / "snap.parquet"))
    # rename the metadata columns and invert the flag to force real
    # expression evaluation (NOT is_after == is_before)
    mut.selectExpr(
        "user_id", "ts", "value",
        "mutation_ts AS commit_ms", "NOT is_before AS is_after",
    ).write.parquet(str(tmp_path / "mut.parquet"))
    left = spark.createDataFrame(
        [(1, BASE + 4 * DAY + 9000)], "user_id int, ts long"
    ).withColumn("ds", F.date_format(F.timestamp_millis("ts"), "yyyy-MM-dd"))
    gb = GroupBy(
        sources=[EntitySource(
            snapshot_table=str(tmp_path / "snap.parquet"),
            query=Query(selects={"user_id": "user_id", "value": "value"},
                        time_column="ts",
                        mutation_time_column="commit_ms",
                        reversal_column="NOT is_after"),
            mutation_table=str(tmp_path / "mut.parquet"),
        )],
        key_columns=["user_id"],
        aggregations=[Aggregation("value", Operation.SUM),
                      Aggregation("value", Operation.COUNT, windows=[Window(2)])],
        accuracy=Accuracy.TEMPORAL,
        name="ent",
    )
    join = Join(left=DataFrameSource(lambda s: left),
                join_parts=[JoinPart(gb)], name="j")
    row = compute_join(spark, join).collect()[0]
    assert row["ent_value_sum"] == pytest.approx(55.0)
    assert row["ent_value_count_2d"] == 2


@pytest.mark.parametrize("col_type, value", [
    ("map<string,double>", {"x": 1.0}),
    ("array<double>", [1.0, 2.0]),
])
def test_map_and_array_input_parts_rejected_at_plan_time(spark, col_type, value):
    """Mutation replay has no map- or array-input support: such a part is
    refused when the plan is built, naming the part and the column, instead
    of failing inside the kernel."""
    snap = spark.createDataFrame(
        [(1, BASE + DAY, value, "2024-01-04")],
        f"user_id int, ts long, m {col_type}, ds string",
    )
    mut = spark.createDataFrame(
        [(1, BASE + 4 * DAY, value, BASE + 4 * DAY + 10, False)],
        f"user_id int, ts long, m {col_type}, mutation_ts long, is_before boolean",
    )
    left = spark.createDataFrame([(1, BASE + 4 * DAY + HOUR)], "user_id int, ts long")
    parts = _mk_parts(("m", Operation.COUNT, Window(7), None))
    sc, group = spark.sparkContext, f"mutation-input-check-{col_type}"
    sc.setJobGroup(group, "plan-time rejection")
    try:
        with pytest.raises(ValueError, match=rf"m_count_7d reads m \({col_type}\)"):
            temporal_entity_features(left, snap, mut, ["user_id"], ["user_id"], parts)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        left.count()
        assert list(sc.statusTracker().getJobIdsForGroup(group))  # probe sees jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
