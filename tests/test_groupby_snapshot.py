"""Snapshot GroupBy engine vs golden Spark SQL — the analog of the
reference's GroupByTest golden-SQL comparison
(spark/src/test/.../groupby/GroupByTest.scala:41-124).

Golden semantics for an N-day window ending at day `ds`:
  ts >= (epoch(ds) - 86400*(N-1))*1000 AND ts < epoch(ds + 1 day)*1000
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from chronon_spark.api import (
    Aggregation,
    DataFrameSource,
    GroupBy,
    Operation,
    Query,
    Window,
)
from chronon_spark.operators.groupby import compute_snapshot_groupby

BASE = 1704067200000  # 2024-01-01 UTC
DAY = 86_400_000


@pytest.fixture(scope="module")
def events_df(spark):
    rng = np.random.default_rng(7)
    n = 2000
    rows = [
        (
            int(rng.integers(0, 20)),  # key
            int(BASE + rng.integers(0, 30 * DAY)),  # ts over 30 days
            float(round(rng.uniform(0, 100), 2)) if rng.random() > 0.1 else None,
            str(rng.choice(["a", "b", "c"])),
        )
        for _ in range(n)
    ]
    df = spark.createDataFrame(rows, "user_id int, ts long, value double, cat string")
    df = df.withColumn("ds", F.date_format(F.timestamp_millis(F.col("ts")), "yyyy-MM-dd"))
    df.createOrReplaceTempView("gb_events")
    return df


def _src(df):
    return DataFrameSource(lambda spark: df)


def _rows(df, cols):
    return {
        tuple(r[c] for c in cols[:2]): tuple(r[c] for c in cols[2:])
        for r in df.collect()
    }


def _compare(engine_df, golden_df, value_cols, tol=1e-6):
    keys = ["user_id", "ds"]
    a = _rows(engine_df.select(*keys, *value_cols), keys + value_cols)
    b = _rows(golden_df.select(*keys, *value_cols), keys + value_cols)
    assert set(a) == set(b), f"key sets differ: {len(a)} vs {len(b)}"
    for k in a:
        for va, vb, name in zip(a[k], b[k], value_cols):
            if va is None and vb is None:
                continue
            assert va is not None and vb is not None, f"{k}/{name}: {va} vs {vb}"
            if isinstance(va, float):
                assert va == pytest.approx(vb, rel=tol, abs=tol), f"{k}/{name}"
            else:
                assert va == vb, f"{k}/{name}: {va} vs {vb}"


def test_windowed_sum_count_avg_vs_golden(spark, events_df):
    gb = GroupBy(
        sources=[_src(events_df)],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("value", Operation.SUM, windows=[Window(7), None]),
            Aggregation("value", Operation.COUNT, windows=[Window(7)]),
            Aggregation("value", Operation.AVERAGE, windows=[Window(7)]),
            Aggregation("value", Operation.MIN, windows=[Window(7)]),
            Aggregation("value", Operation.MAX, windows=[Window(7)]),
        ],
        name="g1",
    )
    out = compute_snapshot_groupby(spark, gb)
    golden = spark.sql(f"""
        WITH days AS (SELECT DISTINCT user_id, ds FROM gb_events)
        SELECT d.user_id, d.ds,
               SUM(CASE WHEN e.ts >= CAST(unix_date(to_date(d.ds)) AS BIGINT)*86400000 - {6*DAY}
                         AND e.ts <  CAST(unix_date(to_date(d.ds)) AS BIGINT)*86400000 + {DAY}
                        THEN e.value END) AS value_sum_7d,
               SUM(CASE WHEN e.ts < CAST(unix_date(to_date(d.ds)) AS BIGINT)*86400000 + {DAY}
                        THEN e.value END) AS value_sum,
               COUNT(CASE WHEN e.ts >= CAST(unix_date(to_date(d.ds)) AS BIGINT)*86400000 - {6*DAY}
                           AND e.ts <  CAST(unix_date(to_date(d.ds)) AS BIGINT)*86400000 + {DAY}
                          THEN e.value END) AS value_count_7d,
               AVG(CASE WHEN e.ts >= CAST(unix_date(to_date(d.ds)) AS BIGINT)*86400000 - {6*DAY}
                         AND e.ts <  CAST(unix_date(to_date(d.ds)) AS BIGINT)*86400000 + {DAY}
                        THEN e.value END) AS value_average_7d,
               MIN(CASE WHEN e.ts >= CAST(unix_date(to_date(d.ds)) AS BIGINT)*86400000 - {6*DAY}
                         AND e.ts <  CAST(unix_date(to_date(d.ds)) AS BIGINT)*86400000 + {DAY}
                        THEN e.value END) AS value_min_7d,
               MAX(CASE WHEN e.ts >= CAST(unix_date(to_date(d.ds)) AS BIGINT)*86400000 - {6*DAY}
                         AND e.ts <  CAST(unix_date(to_date(d.ds)) AS BIGINT)*86400000 + {DAY}
                        THEN e.value END) AS value_max_7d
        FROM days d JOIN gb_events e ON d.user_id = e.user_id
        GROUP BY d.user_id, d.ds
    """)
    _compare(
        out,
        golden,
        ["value_sum_7d", "value_sum", "value_count_7d", "value_average_7d",
         "value_min_7d", "value_max_7d"],
    )


def test_moments_vs_golden(spark, events_df):
    gb = GroupBy(
        sources=[_src(events_df)],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("value", Operation.VARIANCE, windows=[Window(10)]),
        ],
        name="g2",
    )
    out = compute_snapshot_groupby(spark, gb)
    golden = spark.sql(f"""
        WITH days AS (SELECT DISTINCT user_id, ds FROM gb_events)
        SELECT d.user_id, d.ds,
               VAR_POP(CASE WHEN e.ts >= CAST(unix_date(to_date(d.ds)) AS BIGINT)*86400000 - {9*DAY}
                             AND e.ts <  CAST(unix_date(to_date(d.ds)) AS BIGINT)*86400000 + {DAY}
                            THEN e.value END) AS value_variance_10d
        FROM days d JOIN gb_events e ON d.user_id = e.user_id
        GROUP BY d.user_id, d.ds
    """)
    _compare(out, golden, ["value_variance_10d"], tol=1e-4)


def test_first_last_by_ts_vs_golden(spark, events_df):
    gb = GroupBy(
        sources=[_src(events_df)],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("value", Operation.FIRST, windows=[Window(7)]),
            Aggregation("value", Operation.LAST, windows=[Window(7)]),
        ],
        name="g3",
    )
    out = compute_snapshot_groupby(spark, gb)
    golden = spark.sql(f"""
        WITH days AS (SELECT DISTINCT user_id, ds FROM gb_events),
        win AS (
          SELECT d.user_id, d.ds, e.ts, e.value
          FROM days d JOIN gb_events e ON d.user_id = e.user_id
          WHERE e.ts >= CAST(unix_date(to_date(d.ds)) AS BIGINT)*86400000 - {6*DAY}
            AND e.ts <  CAST(unix_date(to_date(d.ds)) AS BIGINT)*86400000 + {DAY}
            AND e.value IS NOT NULL
        )
        SELECT user_id, ds,
               MIN_BY(value, ts) AS value_first_7d,
               MAX_BY(value, ts) AS value_last_7d
        FROM win GROUP BY user_id, ds
    """)
    # golden only produces rows where a non-null value exists in-window;
    # restrict comparison to those
    out_f = out.join(golden.select("user_id", "ds"), ["user_id", "ds"], "inner")
    _compare(out_f, golden, ["value_first_7d", "value_last_7d"])


def test_unique_count_and_histogram(spark, events_df):
    gb = GroupBy(
        sources=[_src(events_df)],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("cat", Operation.UNIQUE_COUNT, windows=[Window(3)]),
        ],
        name="g4",
    )
    out = compute_snapshot_groupby(spark, gb)
    golden = spark.sql(f"""
        WITH days AS (SELECT DISTINCT user_id, ds FROM gb_events)
        SELECT d.user_id, d.ds,
               COUNT(DISTINCT CASE WHEN e.ts >= CAST(unix_date(to_date(d.ds)) AS BIGINT)*86400000 - {2*DAY}
                                    AND e.ts <  CAST(unix_date(to_date(d.ds)) AS BIGINT)*86400000 + {DAY}
                                   THEN e.cat END) AS cat_unique_count_3d
        FROM days d JOIN gb_events e ON d.user_id = e.user_id
        GROUP BY d.user_id, d.ds
    """)
    _compare(out, golden, ["cat_unique_count_3d"])


def test_derivations(spark, events_df):
    gb = GroupBy(
        sources=[_src(events_df)],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("value", Operation.SUM, windows=[Window(7)]),
            Aggregation("value", Operation.COUNT, windows=[Window(7)]),
        ],
        derivations={"*": "*", "manual_avg": "value_sum_7d / value_count_7d"},
        name="g5",
    )
    out = compute_snapshot_groupby(spark, gb)
    rows = out.where("value_count_7d > 0").limit(50).collect()
    assert rows
    for r in rows:
        assert r["manual_avg"] == pytest.approx(r["value_sum_7d"] / r["value_count_7d"])


def test_dense_mode_emits_event_free_days(spark, events_df):
    from chronon_spark.partitions import PartitionRange

    gb = GroupBy(
        sources=[_src(events_df)],
        key_columns=["user_id"],
        aggregations=[Aggregation("value", Operation.COUNT, windows=[Window(7)])],
        name="g6",
    )
    rng = PartitionRange("2024-01-05", "2024-01-20")
    out = compute_snapshot_groupby(spark, gb, rng=rng, dense=True)
    per_key = out.groupBy("user_id").count().collect()
    assert all(r["count"] == 16 for r in per_key)  # every day for every key


def test_derivation_star_semantics(spark, events_df):
    """Reference projection rules (Extensions.scala derivationProjection):
    without "*" only keys/ds + derived survive; "*" keeps unconsumed base
    columns; a rename consumes its source column."""
    base = GroupBy(
        sources=[_src(events_df)],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("value", Operation.SUM, windows=[Window(7)]),
            Aggregation("value", Operation.COUNT, windows=[Window(7)]),
        ],
        name="g",
    )
    # no star: derived + ensured keys only
    base.derivations = {"total": "value_sum_7d"}
    cols = set(compute_snapshot_groupby(spark, base).columns)
    assert cols == {"user_id", "ds", "total"}
    # star + rename: source column consumed, others pass through
    base.derivations = {"*": "*", "total": "value_sum_7d"}
    cols = set(compute_snapshot_groupby(spark, base).columns)
    assert cols == {"user_id", "ds", "value_count_7d", "total"}


def test_approx_unique_count_hll_partials(spark, events_df):
    """APPROX_UNIQUE_COUNT snapshot path merges daily HLL sketches over the
    window frame; estimate must be within ~5% of the exact distinct count."""
    gb = GroupBy(
        sources=[_src(events_df)],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("value", Operation.APPROX_UNIQUE_COUNT, windows=[Window(10)]),
            Aggregation("value", Operation.UNIQUE_COUNT, windows=[Window(10)]),
        ],
        name="g",
    )
    out = compute_snapshot_groupby(spark, gb).collect()
    assert out
    for r in out:
        exact = r["value_unique_count_10d"]
        approx = r["value_approx_unique_count_10d"]
        if exact == 0:
            continue
        assert abs(approx - exact) <= max(3, 0.1 * exact), (
            f"{r['user_id']}/{r['ds']}: approx {approx} vs exact {exact}"
        )


def test_entity_mixed_unbounded_is_current_day(spark):
    """Entity snapshot with MIXED windows: the unwindowed agg must read
    the CURRENT day's snapshot only (each partition is the full state —
    merging days would double-count), while windowed aggs roll over days."""
    snap = spark.createDataFrame(
        [(1, "2024-01-01", 10.0), (1, "2024-01-02", 11.0), (1, "2024-01-03", 12.0)],
        "acct int, ds string, bal double",
    )
    gb = GroupBy(
        sources=[DataFrameSource(lambda s: snap, entity=True)],
        key_columns=["acct"],
        aggregations=[
            Aggregation("bal", Operation.SUM),                      # unbounded
            Aggregation("bal", Operation.SUM, windows=[Window(2)]),  # 2d roll
        ],
        name="e",
    )
    rows = {r["ds"]: r for r in compute_snapshot_groupby(spark, gb).collect()}
    assert rows["2024-01-03"]["bal_sum"] == pytest.approx(12.0)  # NOT 33
    assert rows["2024-01-03"]["bal_sum_2d"] == pytest.approx(23.0)
    assert rows["2024-01-01"]["bal_sum"] == pytest.approx(10.0)


def test_entity_windowed_histogram_and_unique(spark):
    """Entity windowed HISTOGRAM/UNIQUE_COUNT on the exploded plan."""
    snap = spark.createDataFrame(
        [(1, "2024-01-01", "a"), (1, "2024-01-01", "b"),
         (1, "2024-01-02", "a"), (1, "2024-01-03", "c")],
        "acct int, ds string, tag string",
    )
    gb = GroupBy(
        sources=[DataFrameSource(lambda s: snap, entity=True)],
        key_columns=["acct"],
        aggregations=[
            Aggregation("tag", Operation.HISTOGRAM, windows=[Window(2)]),
            Aggregation("tag", Operation.UNIQUE_COUNT, windows=[Window(2)]),
            Aggregation("tag", Operation.COUNT, windows=[Window(2)]),
        ],
        name="e",
    )
    rows = {r["ds"]: r for r in compute_snapshot_groupby(spark, gb).collect()}
    assert rows["2024-01-02"]["tag_histogram_2d"] == {"a": 2, "b": 1}
    assert rows["2024-01-02"]["tag_unique_count_2d"] == 2
    assert rows["2024-01-03"]["tag_histogram_2d"] == {"a": 1, "c": 1}
    assert rows["2024-01-03"]["tag_count_2d"] == 2


@pytest.mark.parametrize("windowed_neighbour", [False, True])
def test_unwindowed_histogram_counts_are_bigint(spark, windowed_neighbour):
    """An unwindowed HISTOGRAM counts BIGINT whether it is the only part
    (the one-aggregate plan) or sits next to a windowed part (the
    exploded plan): its type never depends on the other parts."""
    snap = spark.createDataFrame(
        [(1, "2024-01-01", "x"), (1, "2024-01-01", "x")],
        "acct int, ds string, tag string",
    )
    aggs = [Aggregation("tag", Operation.HISTOGRAM)]
    if windowed_neighbour:
        aggs.append(Aggregation("tag", Operation.COUNT, windows=[Window(2)]))
    gb = GroupBy(sources=[DataFrameSource(lambda s: snap, entity=True)],
                 key_columns=["acct"], aggregations=aggs, name="h")
    out = compute_snapshot_groupby(spark, gb)
    assert out.schema["tag_histogram"].dataType.simpleString() == "map<string,bigint>"
    assert out.collect()[0]["tag_histogram"] == {"x": 2}


def _entity_gb(df, aggs, keys=("acct",)):
    return GroupBy(sources=[DataFrameSource(lambda s: df, entity=True)],
                   key_columns=list(keys), aggregations=aggs, name="e")


@pytest.fixture(scope="module")
def bucketed_snap(spark):
    return spark.createDataFrame(
        [(1, "2024-01-01", "x", 5.0), (1, "2024-01-01", "y", 2.0), (1, "2024-01-02", "x", 7.0)],
        "acct int, ds string, cat string, v double",
    )


def test_entity_bucketed_windowed_part_is_a_map(spark, bucketed_snap):
    """A bucketed entity part keeps its bucket: map<bucket, value>, the
    window summing each bucket over the snapshot days it covers."""
    out = compute_snapshot_groupby(spark, _entity_gb(bucketed_snap, [
        Aggregation("v", Operation.SUM, windows=[Window(2)], buckets=["cat"])]))
    assert out.schema["v_sum_2d_by_cat"].dataType.simpleString() == "map<string,double>"
    rows = {r["ds"]: r["v_sum_2d_by_cat"] for r in out.collect()}
    assert rows == {"2024-01-01": {"x": 5.0, "y": 2.0}, "2024-01-02": {"x": 12.0, "y": 2.0}}


def test_entity_bucketed_unwindowed_part_is_the_day(spark, bucketed_snap):
    out = compute_snapshot_groupby(spark, _entity_gb(bucketed_snap, [
        Aggregation("v", Operation.SUM, buckets=["cat"])]))
    rows = {r["ds"]: r["v_sum_by_cat"] for r in out.collect()}
    assert rows == {"2024-01-01": {"x": 5.0, "y": 2.0}, "2024-01-02": {"x": 7.0}}


@pytest.mark.parametrize("col", ["a", "m"])
def test_entity_collection_input_matches_event_path(spark, col):
    """Array- and map-input entity parts explode like event parts: the
    same rows as events (one per day) give the same 2-day sums."""
    snap = spark.createDataFrame(
        [(1, "2024-01-01", [1.0, 2.0], {"x": 1.0}), (1, "2024-01-02", [4.0], {"x": 2.0, "y": 3.0}),
         (2, "2024-01-02", None, None), (1, "2024-01-04", [8.0], {"y": 5.0})],
        "acct int, ds string, a array<double>, m map<string,double>",
    )
    events = snap.withColumn(
        "ts", F.expr(f"CAST(unix_date(to_date(ds)) AS BIGINT) * {DAY} + 3600000"))
    aggs = [Aggregation(col, Operation.SUM, windows=[Window(2)])]
    name = f"{col}_sum_2d"
    ent = {(r["acct"], r["ds"]): r[name]
           for r in compute_snapshot_groupby(spark, _entity_gb(snap, aggs)).collect()}
    ev = {(r["acct"], r["ds"]): r[name]
          for r in compute_snapshot_groupby(spark, GroupBy(
              sources=[_src(events)], key_columns=["acct"], aggregations=aggs,
              name="ev")).collect()}
    assert ent == ev
    assert ent[(1, "2024-01-02")] == (7.0 if col == "a" else {"x": 3.0, "y": 3.0})


@pytest.mark.parametrize("entity", [False, True])
def test_multi_key_null_part_is_one_row(spark, entity):
    """Keys (a, b) with b NULL: every part family lands on ONE row per
    (a, NULL, ds) — the families' join-back must match the NULL part."""
    df = spark.createDataFrame(
        [(1, None, BASE, 4.0, "x", "2024-01-01"), (1, None, BASE + 5, 7.0, "y", "2024-01-01"),
         (2, 3, BASE + 9, 1.0, "x", "2024-01-01")],
        "a int, b int, ts long, v double, cat string, ds string",
    )
    gb = GroupBy(
        sources=[DataFrameSource(lambda s: df, entity=entity)], key_columns=["a", "b"],
        aggregations=[
            Aggregation("v", Operation.SUM, windows=[Window(7)]),
            Aggregation("v", Operation.UNIQUE_COUNT, windows=[Window(7)]),
            Aggregation("v", Operation.SUM, windows=[Window(7)], buckets=["cat"]),
        ],
        name="mk",
    )
    rows = [r.asDict() for r in compute_snapshot_groupby(spark, gb).collect()]
    assert sorted(rows, key=lambda r: r["a"]) == [
        {"a": 1, "b": None, "ds": "2024-01-01", "v_sum_7d": 11.0, "v_unique_count_7d": 2,
         "v_sum_7d_by_cat": {"x": 4.0, "y": 7.0}},
        {"a": 2, "b": 3, "ds": "2024-01-01", "v_sum_7d": 1.0, "v_unique_count_7d": 1,
         "v_sum_7d_by_cat": {"x": 1.0}},
    ]
