"""Temporal (point-in-time) join engine vs golden Spark SQL — the analog of
the reference's EventsEventsTemporalTest (spark/src/test/.../join/
EventsEventsTemporalTest.scala:88-110) plus the boundary spec tests
(SawtoothUdfSpec.scala:256-259).

Golden semantics for window w ending at left row time T:
  events with  floor((T - w) / hop) * hop  <=  ts  <=  T
(the sawtooth tail rounding + head-inclusive boundary).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from chronon_spark.api import (
    Aggregation,
    DataFrameSource,
    GroupBy,
    Join,
    JoinPart,
    Operation,
    TimeUnit,
    Window,
    sawtooth_hop_millis,
)
from chronon_spark.operators.temporal_join import (
    compute_temporal_join,
    compute_temporal_join_part,
    temporal_features,
)

BASE = 1704067200000  # 2024-01-01 UTC
DAY = 86_400_000


@pytest.fixture(scope="module")
def data(spark):
    rng = np.random.default_rng(11)
    ev = [
        (
            int(rng.integers(0, 15)),
            int(BASE + rng.integers(0, 20 * DAY)),
            float(round(rng.uniform(0, 50), 2)) if rng.random() > 0.1 else None,
        )
        for _ in range(1500)
    ]
    right = spark.createDataFrame(ev, "user_id int, ts long, value double")
    q = [
        (int(rng.integers(0, 15)), int(BASE + rng.integers(0, 20 * DAY)))
        for _ in range(400)
    ]
    # duplicate left rows must be preserved (reference duplicates the left,
    # EventsEventsTemporalTest.scala:75-76)
    q += q[:20]
    # exact-tie timestamps: query at an event's own ts includes that event
    q += [(e[0], e[1]) for e in ev[:20]]
    left = spark.createDataFrame(q, "user_id int, ts long")
    left = left.withColumn("ds", F.date_format(F.timestamp_millis("ts"), "yyyy-MM-dd"))
    right.createOrReplaceTempView("tj_events")
    left.createOrReplaceTempView("tj_left")
    return left, right


def _golden(spark, window: Window, op_sql: str, out: str):
    hop = sawtooth_hop_millis(window)
    w = window.millis
    return spark.sql(f"""
        WITH l AS (SELECT DISTINCT user_id, ts FROM tj_left)
        SELECT l.user_id, l.ts,
               {op_sql} AS {out}
        FROM l LEFT JOIN tj_events e
          ON l.user_id = e.user_id
         AND e.ts <= l.ts
         AND e.ts >= CAST(FLOOR((l.ts - {w}) / {hop}) AS BIGINT) * {hop}
        GROUP BY l.user_id, l.ts
    """)


def _compare_col(engine_df, golden_df, col, tol=1e-6):
    # group by (user_id, ts) — duplicates collapse to identical values
    a = {(r["user_id"], r["ts"]): r[col] for r in engine_df.collect()}
    b = {(r["user_id"], r["ts"]): r[col] for r in golden_df.collect()}
    assert set(a) == set(b)
    for k, va in a.items():
        vb = b[k]
        if va is None and vb is None:
            continue
        assert va is not None and vb is not None, f"{k}: {va} vs {vb}"
        if isinstance(va, float):
            assert va == pytest.approx(vb, rel=tol, abs=tol), f"{k}"
        else:
            assert va == vb, f"{k}: {va} vs {vb}"


@pytest.mark.parametrize(
    "op,window,op_sql",
    [
        (Operation.SUM, Window(7), "SUM(e.value)"),
        (Operation.COUNT, Window(7), "COUNT(e.value)"),
        (Operation.AVERAGE, Window(2), "AVG(e.value)"),
        (Operation.MIN, Window(3, TimeUnit.HOURS), "MIN(e.value)"),
        (Operation.MAX, Window(30), "MAX(e.value)"),
        (Operation.LAST, Window(7), "MAX_BY(e.value, CASE WHEN e.value IS NOT NULL THEN e.ts END)"),
        (Operation.FIRST, Window(7), "MIN_BY(e.value, CASE WHEN e.value IS NOT NULL THEN e.ts END)"),
    ],
    ids=lambda x: str(x),
)
def test_temporal_ops_vs_golden(spark, data, op, window, op_sql):
    left, right = data
    from chronon_spark.api import AggregationPart

    parts = [AggregationPart("value", op, window=window)]
    out = temporal_features(left, right, ["user_id"], ["user_id"], parts)
    name = parts[0].output_name
    golden = _golden(spark, window, op_sql, name)
    if op == Operation.COUNT:
        # SQL COUNT over left join yields 0 for no-match; ours yields 0 too
        pass
    _compare_col(out.select("user_id", "ts", name), golden, name)


def test_full_join_two_parts_with_key_mapping(spark, data):
    left, right = data
    right_src = DataFrameSource(lambda s: right)
    gb1 = GroupBy(
        sources=[right_src],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("value", Operation.SUM, windows=[Window(7)]),
            Aggregation("value", Operation.COUNT, windows=[Window(7), None]),
        ],
        name="purchases",
    )
    gb2 = GroupBy(
        sources=[right_src],
        key_columns=["user_id"],
        aggregations=[Aggregation("value", Operation.MAX, windows=[Window(30)])],
        name="spend",
    )
    join = Join(
        left=DataFrameSource(lambda s: left),
        join_parts=[JoinPart(gb1), JoinPart(gb2, prefix="p2")],
        derivations={"*": "*", "ratio": "purchases_value_sum_7d / purchases_value_count_7d"},
        name="j1",
    )
    out = compute_temporal_join(spark, join)
    cols = set(out.columns)
    assert "purchases_value_sum_7d" in cols
    assert "purchases_value_count_7d" in cols
    assert "purchases_value_count" in cols
    assert "p2_spend_value_max_30d" in cols
    assert "ratio" in cols
    n_left = left.count()
    assert out.count() == n_left

    golden = _golden(spark, Window(7), "SUM(e.value)", "purchases_value_sum_7d")
    _compare_col(out.select("user_id", "ts", "purchases_value_sum_7d"), golden,
                 "purchases_value_sum_7d")


def test_tie_inclusion_exact(spark):
    """A left row at exactly an event's ts sees that event (head inclusive);
    an event 1ms after is excluded. SawtoothUdfSpec.scala:256-259."""
    right = spark.createDataFrame(
        [(1, BASE, 10.0), (1, BASE + 1, 100.0)], "user_id int, ts long, value double"
    )
    left = spark.createDataFrame([(1, BASE)], "user_id int, ts long")
    from chronon_spark.api import AggregationPart

    parts = [AggregationPart("value", Operation.SUM, window=Window(1))]
    out = temporal_features(left, right, ["user_id"], ["user_id"], parts).collect()
    assert out[0]["value_sum_1d"] == pytest.approx(10.0)


def test_left_key_missing_from_right(spark):
    """Left keys with no right rows at all get null/zero features."""
    right = spark.createDataFrame([(1, BASE, 5.0)], "user_id int, ts long, value double")
    left = spark.createDataFrame([(1, BASE + 10), (99, BASE + 10)], "user_id int, ts long")
    from chronon_spark.api import AggregationPart

    parts = [
        AggregationPart("value", Operation.SUM, window=Window(1)),
        AggregationPart("value", Operation.COUNT, window=Window(1)),
        AggregationPart("value", Operation.LAST_K, arg_map={"k": 2}, window=Window(1)),
    ]
    rows = {
        r["user_id"]: r
        for r in temporal_features(left, right, ["user_id"], ["user_id"], parts).collect()
    }
    assert rows[1]["value_sum_1d"] == pytest.approx(5.0)
    assert rows[99]["value_sum_1d"] is None
    assert rows[99]["value_count_1d"] == 0
    assert rows[99]["value_last2_1d"] == []


def test_skew_key_filter(spark, data):
    left, right = data
    gb = GroupBy(
        sources=[DataFrameSource(lambda s: right)],
        key_columns=["user_id"],
        aggregations=[Aggregation("value", Operation.COUNT, windows=[Window(7)])],
        name="g",
    )
    join = Join(
        left=DataFrameSource(lambda s: left),
        join_parts=[JoinPart(gb)],
        skew_keys={"user_id": [0, 1]},
        name="j2",
    )
    out = compute_temporal_join(spark, join)
    assert out.where(F.col("user_id").isin([0, 1])).count() == 0


def test_self_features_match_join_path(spark):
    """temporal_self_features (one-scan fast path) must equal
    temporal_features with left == right, including k-ops and range
    bounds."""
    import numpy as np

    from chronon_spark.api import AggregationPart
    from chronon_spark.operators.temporal_join import (
        temporal_features,
        temporal_self_features,
    )

    rng = np.random.default_rng(23)
    rows = [
        (int(rng.integers(0, 15)), int(BASE + rng.integers(0, 12 * DAY)),
         float(round(rng.uniform(0, 50), 2)))
        for _ in range(3000)
    ]
    df = spark.createDataFrame(rows, "user_id int, ts long, value double")
    parts = [
        AggregationPart("value", Operation.COUNT, {}, Window(7)),
        AggregationPart("value", Operation.SUM, {}, None),
        AggregationPart("value", Operation.AVERAGE, {}, Window(3)),
        AggregationPart("value", Operation.LAST_K, {"k": 3}, Window(7)),
        AggregationPart("value", Operation.MIN, {}, Window(7)),
    ]
    lo, hi = BASE + 4 * DAY, BASE + 10 * DAY
    left = df.select("user_id", "ts").where(
        (F.col("ts") >= lo) & (F.col("ts") < hi))
    ref = temporal_features(left, df, ["user_id"], ["user_id"], parts)
    got = temporal_self_features(
        df, ["user_id"], parts, query_lo=lo, query_hi=hi)

    def key(r):
        return (r["user_id"], r["ts"])

    a = {key(r): (r["value_count_7d"], r["value_sum"], r["value_average_3d"],
                  tuple(r["value_last3_7d"]), r["value_min_7d"])
         for r in ref.collect()}
    b = {key(r): (r["value_count_7d"], r["value_sum"], r["value_average_3d"],
                  tuple(r["value_last3_7d"]), r["value_min_7d"])
         for r in got.collect()}
    assert set(a) == set(b) and len(a) > 500
    for k in a:
        assert a[k][0] == b[k][0], k
        assert a[k][1] == pytest.approx(b[k][1]), k
        assert a[k][2] == pytest.approx(b[k][2]), k
        assert a[k][3] == pytest.approx(b[k][3]), k
        assert a[k][4] == pytest.approx(b[k][4]), k


def test_multi_part_row_id_merge_flat_payload(spark, data):
    """3-part monolith join: each part cogroups the SLIM (row_id, keys, ts)
    probe — earlier parts' features never ride through later kernels'
    Arrow serde — and the row-id merge reproduces the chained result."""
    left, right = data
    left3 = left.withColumn("payload", F.concat(F.lit("blob_"), F.col("ts")))
    right_src = DataFrameSource(lambda s: right)
    gbs = [
        GroupBy(sources=[right_src], key_columns=["user_id"],
                aggregations=[Aggregation("value", op, windows=[Window(w)])],
                name=f"g{i}")
        for i, (op, w) in enumerate(
            [(Operation.SUM, 7), (Operation.MAX, 30), (Operation.COUNT, 1)])
    ]
    join = Join(left=DataFrameSource(lambda s: left3),
                join_parts=[JoinPart(g) for g in gbs], name="j3")
    out = compute_temporal_join(spark, join)

    # plan: features merge back by row id; the cogroups read the slim probe
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "__row_id" in plan
    import re
    cogroups = re.findall(r"FlatMapCoGroupsInArrow[^\n]*?kernel\(([^)]*)\)", plan)
    assert len(cogroups) == 3
    for inputs in cogroups:  # kernel INPUTS: slim probe only, no features
        assert "payload" not in inputs, inputs
        assert not re.search(r"\bg\d_", inputs), inputs

    # equivalence vs part-by-part chaining
    chained = left3
    for g in gbs:
        chained = compute_temporal_join_part(spark, chained, JoinPart(g))
    a = {(r["user_id"], r["ts"]): r for r in out.collect()}
    b = {(r["user_id"], r["ts"]): r for r in chained.collect()}
    assert set(a) == set(b)
    fcols = [c for c in out.columns if c.startswith("g")]
    assert len(fcols) == 3
    for k in a:
        assert a[k]["payload"] == b[k]["payload"]
        for c in fcols:
            av, bv = a[k][c], b[k][c]
            if isinstance(av, float):
                assert av == pytest.approx(bv), (k, c)
            else:
                assert av == bv, (k, c)


def test_use_long_names_column_convention(spark):
    """useLongNames (Extensions.scala:842-850): True -> GroupBy-name
    prefix (legacy default); False -> key-columns prefix; explicit
    `prefix` always included. Values identical either way."""
    from chronon_spark.api import (
        Aggregation, EventSource, GroupBy, Join, JoinPart, Operation,
        Query, Window,
    )
    from chronon_spark.operators.temporal_join import compute_temporal_join

    src = EventSource(
        "/root/testdata/sf0.001/events.parquet",
        Query(selects={"user_id": "user_id", "value": "value"},
              time_column="unix_millis(cast(ts as timestamp))"),
        topic="t",
    )
    gb = GroupBy(sources=[src], key_columns=["user_id"],
                 aggregations=[Aggregation("value", Operation.SUM,
                                           windows=[Window(7)])],
                 name="team.user_feats")
    left = EventSource(
        "/root/testdata/sf0.001/events.parquet",
        Query(selects={"event_id": "event_id", "user_id": "user_id"},
              time_column="unix_millis(cast(ts as timestamp))"),
    )

    def cols(jp):
        j = Join(left=left, join_parts=[jp], name="j")
        df = compute_temporal_join(spark, j).limit(200)
        return df

    long_df = cols(JoinPart(gb))
    assert "team_user_feats_value_sum_7d" in long_df.columns
    short_df = cols(JoinPart(gb, use_long_names=False))
    assert "user_id_value_sum_7d" in short_df.columns
    pfx_df = cols(JoinPart(gb, prefix="p", use_long_names=False))
    assert "p_user_id_value_sum_7d" in pfx_df.columns
    a = {(r["event_id"]): r["team_user_feats_value_sum_7d"]
         for r in long_df.collect()}
    b = {(r["event_id"]): r["user_id_value_sum_7d"]
         for r in short_df.collect()}
    assert a == b
