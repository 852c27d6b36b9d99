"""Round-2 scale fixes for snapshot-path IRs:

* APPROX_PERCENTILE daily partial is bounded O(sketch_k) regardless of
  events/day (VERDICT wrong#1), exact when daily n <= sketch_k, rank error
  bounded by one chunk otherwise.
* HISTOGRAM / UNIQUE_COUNT ride the explode->groupBy->re-window plan
  (VERDICT wrong#2/#3) — correct on event-free dense days and identical
  to golden SQL.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from chronon_spark.api import (
    Accuracy,
    Aggregation,
    AggregationPart,
    DataFrameSource,
    GroupBy,
    Operation,
    Window,
)
from chronon_spark.operators.agg_registry import spec_for
from chronon_spark.operators.groupby import compute_snapshot_groupby

BASE = 1704067200000  # 2024-01-01 UTC
DAY = 86_400_000


def _gb(df_factory, aggs):
    return GroupBy(sources=[DataFrameSource(df_factory)], key_columns=["k"],
                   aggregations=aggs, accuracy=Accuracy.SNAPSHOT, name="g")


def test_percentile_partial_is_bounded(spark):
    """10k events in one day -> stored IR has exactly sketch_k entries."""
    n, k = 10_000, 64
    df = spark.createDataFrame(
        [(1, BASE + i * 1000, float(i)) for i in range(n)], "k int, ts long, v double"
    )
    part = AggregationPart("v", Operation.APPROX_PERCENTILE,
                           {"percentiles": [0.5], "sketch_k": k}, Window(7))
    sp = spec_for(part)
    daily = df.withColumn("__day", F.expr(f"ts DIV {DAY}")).groupBy("k", "__day").agg(
        *[F.expr(e).alias(nm) for nm, e in sp.partials().items()]
    )
    row = daily.collect()[0]
    ir = row[f"__{part.output_name}__qs"]
    assert len(ir) == k  # bounded, not 10k raw values
    # rank error bounded by one chunk: median anchor within n/k of true median
    med = [e["v"] for e in ir][len(ir) // 2]
    assert abs(med - n / 2) <= n / k + 1


def test_percentile_exact_regime_vs_golden(spark):
    """Daily volumes <= sketch_k reproduce the exact pinned convention
    index max(1, ceil(p*n)) across multi-day windows."""
    rng = np.random.default_rng(11)
    rows = [
        (int(rng.integers(0, 4)), int(BASE + rng.integers(0, 6 * DAY)),
         float(round(rng.uniform(0, 100), 2)))
        for _ in range(500)
    ]
    df = spark.createDataFrame(rows, "k int, ts long, v double")
    gb = _gb(lambda s: df, [
        Aggregation("v", Operation.APPROX_PERCENTILE,
                    {"percentiles": [0.5, 0.9], "sketch_k": 512}, windows=[Window(3)]),
    ])
    out = {(r["k"], r["ds"]): r["v_approx_percentile_3d"]
           for r in compute_snapshot_groupby(spark, gb).collect()}
    # brute force golden
    for (key, ds), got in out.items():
        day0 = (np.datetime64(ds) - np.datetime64("1970-01-01")).astype(int) * DAY
        lo, hi = day0 - 2 * DAY, day0 + DAY
        sel = sorted(v for kk, ts, v in rows if kk == key and lo <= ts < hi)
        exp = [sel[max(1, int(np.ceil(p * len(sel)))) - 1] for p in (0.5, 0.9)]
        assert got == pytest.approx(exp), (key, ds)


def test_percentile_bounded_approx_accuracy(spark):
    """Beyond the exact regime the weighted digest stays within one
    chunk's rank error."""
    n, k = 5000, 128
    vals = np.sort(np.random.default_rng(3).uniform(0, 1000, n))
    df = spark.createDataFrame(
        [(1, BASE + int(i) * 10, float(v)) for i, v in enumerate(vals)],
        "k int, ts long, v double",
    )
    gb = _gb(lambda s: df, [
        Aggregation("v", Operation.APPROX_PERCENTILE,
                    {"percentiles": [0.25, 0.5, 0.75], "sketch_k": k},
                    windows=[Window(7)]),
    ])
    row = compute_snapshot_groupby(spark, gb).orderBy("ds").collect()[0]
    got = row["v_approx_percentile_7d"]
    for p, g in zip((0.25, 0.5, 0.75), got):
        true_rank = p * n
        got_rank = np.searchsorted(vals, g)
        assert abs(got_rank - true_rank) <= n / k + 2, (p, g)


def test_histogram_snapshot_vs_golden_and_dense(spark):
    """Windowed histogram + unique_count on the exploded plan: matches
    per-day golden counts, emits on event-free dense days, trims top-k by
    (count desc, key asc)."""
    rows = [
        (1, BASE + 0 * DAY + 10, "a"), (1, BASE + 0 * DAY + 20, "b"),
        (1, BASE + 1 * DAY + 10, "a"), (1, BASE + 1 * DAY + 20, "c"),
        (1, BASE + 3 * DAY + 10, "b"),
    ]
    df = spark.createDataFrame(rows, "k int, ts long, v string")
    gb = _gb(lambda s: df, [
        Aggregation("v", Operation.HISTOGRAM, windows=[Window(3)]),
        Aggregation("v", Operation.UNIQUE_COUNT, windows=[Window(3)]),
        Aggregation("v", Operation.APPROX_FREQUENT_K, {"k": 1}, windows=[Window(3)]),
    ])
    from chronon_spark.partitions import PartitionRange

    out = compute_snapshot_groupby(
        spark, gb, PartitionRange("2024-01-01", "2024-01-04"), dense=True
    )
    rows_out = {r["ds"]: r for r in out.collect()}
    assert rows_out["2024-01-01"]["v_histogram_3d"] == {"a": 1, "b": 1}
    assert rows_out["2024-01-02"]["v_histogram_3d"] == {"a": 2, "b": 1, "c": 1}
    # event-free day 01-03: window still holds 01-01..01-03 events
    assert rows_out["2024-01-03"]["v_histogram_3d"] == {"a": 2, "b": 1, "c": 1}
    assert rows_out["2024-01-03"]["v_unique_count_3d"] == 3
    # 01-04: window 01-02..01-04 -> a,c from 01-02 + b from 01-04
    assert rows_out["2024-01-04"]["v_histogram_3d"] == {"a": 1, "b": 1, "c": 1}
    # top-1 trim: count desc then key asc -> 'a' on 01-02
    assert rows_out["2024-01-02"]["v_approx_frequent1_3d"] == {"a": 2}
    assert rows_out["2024-01-04"]["v_approx_frequent1_3d"] == {"a": 1}


def test_histogram_plan_uses_exploded_window(spark):
    """Plan assertion: the merge is a windowed sum over exploded value rows
    (no O(distinct^2) higher-order filter/aggregate lambdas)."""
    df = spark.createDataFrame([(1, BASE, "a")], "k int, ts long, v string")
    gb = _gb(lambda s: df, [Aggregation("v", Operation.HISTOGRAM, windows=[Window(3)])])
    out = compute_snapshot_groupby(spark, gb)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "__hv_" in plan  # exploded per-value grouping column present
    # no aggregate() HOF over a filter() HOF — the old quadratic merge shape
    assert "aggregate(filter(" not in plan.replace(" ", "")


def test_bucketed_histogram_exploded_plan(spark):
    """Bucketed HISTOGRAM -> map<bucket, map<value, count>> via the
    exploded (bucket, value) plan: golden values + no HOF merge lambdas."""
    rows = [
        (1, BASE + 10, "a", "x"),
        (1, BASE + 20, "a", "x"),
        (1, BASE + 30, "b", "x"),
        (1, BASE + 40, "a", "y"),
        (1, BASE + DAY + 10, "c", "x"),
        (2, BASE + 50, None, "x"),     # null value: no entry
        (2, BASE + 60, "z", None),     # null bucket: dropped
    ]
    df = spark.createDataFrame(rows, "k int, ts long, v string, cat string")
    gb = _gb(lambda s: df, [
        Aggregation("v", Operation.HISTOGRAM, windows=[Window(3)], buckets=["cat"]),
        Aggregation("v", Operation.UNIQUE_COUNT, windows=[Window(3)], buckets=["cat"]),
    ])
    out = compute_snapshot_groupby(spark, gb)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "aggregate(filter(" not in plan.replace(" ", "")
    got = {(r["k"], r["ds"]): r for r in out.collect()}
    h1 = got[(1, "2024-01-01")]["v_histogram_3d_by_cat"]
    assert {b: dict(m) for b, m in h1.items()} == {
        "x": {"a": 2, "b": 1}, "y": {"a": 1}}
    h2 = got[(1, "2024-01-02")]["v_histogram_3d_by_cat"]
    assert {b: dict(m) for b, m in h2.items()} == {
        "x": {"a": 2, "b": 1, "c": 1}, "y": {"a": 1}}
    assert dict(got[(1, "2024-01-02")]["v_unique_count_3d_by_cat"]) == {"x": 3, "y": 1}
    # key 2: only null value/bucket rows -> empty map, row still present
    assert dict(got[(2, "2024-01-01")]["v_histogram_3d_by_cat"]) == {}


def test_array_input_histogram_exploded_plan(spark):
    """HISTOGRAM / UNIQUE_COUNT over array<string> input: elements count
    individually through the exploded-value plan (no HOF merges)."""
    rows = [
        (1, BASE + 10, ["a", "b", "a"]),
        (1, BASE + DAY + 10, ["b"]),
        (1, BASE + DAY + 20, None),
    ]
    df = spark.createDataFrame(rows, "k int, ts long, v array<string>")
    gb = _gb(lambda s: df, [
        Aggregation("v", Operation.HISTOGRAM, windows=[Window(3)]),
        Aggregation("v", Operation.UNIQUE_COUNT, windows=[Window(3)]),
    ])
    out = compute_snapshot_groupby(spark, gb)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "aggregate(filter(" not in plan.replace(" ", "")
    got = {r["ds"]: r for r in out.collect()}
    assert dict(got["2024-01-01"]["v_histogram_3d"]) == {"a": 2, "b": 1}
    assert dict(got["2024-01-02"]["v_histogram_3d"]) == {"a": 2, "b": 2}
    assert got["2024-01-01"]["v_unique_count_3d"] == 2
    assert got["2024-01-02"]["v_unique_count_3d"] == 2
