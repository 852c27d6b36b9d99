"""One Join, every entry point: `compute_join`, `join_backfill` (step 1 and
a seeded random step of 2-4 days) and `run_modular_join` give the same rows
for each part accuracy — declared SNAPSHOT, no-agg, TEMPORAL with skew
keys, and a two-part TEMPORAL + SNAPSHOT join — and those rows carry the
declared semantics, not the temporal values.

Multi-key joins: a TEMPORAL part over 2 keys (with NULL key parts) and 3
keys matches the brute-force `naive_aggregate` per left row, and the union
of a step-split `join_backfill` equals the full-range compute. A left row
with a NULL key part matches no right row, whatever the part's accuracy:
TEMPORAL parts give their empty-window values (COUNT 0, the rest NULL),
SNAPSHOT and no-agg parts NULL.

Row ids: a modular join rerun after its skew keys or its left change
still equals `compute_join`, and a multi-part join over a left with
shuffles below it (a JoinSource) equals its parts chained."""

import re
import zlib
from dataclasses import replace

import numpy as np
import pytest
from pyspark.sql import functions as F

from chronon_spark.api import (
    Accuracy,
    Aggregation,
    AggregationPart,
    BootstrapPart,
    DataFrameSource,
    EntitySource,
    EventSource,
    GroupBy,
    Join,
    JoinPart,
    JoinSource,
    Operation,
    Query,
    Window,
)
from chronon_spark.operators.sawtooth import naive_aggregate
from chronon_spark.operators.snapshot_join import _join_part, _pinned, compute_join
from chronon_spark.operators.temporal_join import compute_temporal_join
from chronon_spark.partitions import PartitionRange
from chronon_spark.plans.backfill import join_backfill, run_modular_join
from chronon_spark.sources.catalog import ParquetWarehouse
from chronon_spark.sources.scan import scan_source

BASE = 1704067200000  # 2024-01-01 UTC
DAY = 86_400_000
RNG = PartitionRange("2024-01-03", "2024-01-08")
# the pinned left row: user 1 on 2024-01-03, after that day's 11.0 event
PIN_TS = BASE + 2 * DAY + 5000


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("entry")
    r = np.random.default_rng(13)
    # user 1's events fix the pinned row's values; random ones for the rest
    events = [(1, BASE + 100, 5.0), (1, BASE + DAY + 100, 7.0),
              (1, BASE + 2 * DAY + 100, 11.0), (1, BASE + 4 * DAY + 100, 13.0),
              (1, BASE + 6 * DAY + 100, 2.0), (7, BASE + 100, 3.0)]
    events += [(int(r.choice([2, 3, 7])), int(BASE + r.integers(0, 8 * DAY)),
                float(r.integers(1, 20))) for _ in range(60)]
    left = [(1, PIN_TS), (7, BASE + 2 * DAY + 6000)]
    left += [(int(r.choice([1, 2, 3, 7, 9])), int(BASE + r.integers(2 * DAY, 8 * DAY)))
             for _ in range(40)]
    entity = [(1, "2024-01-01", 5.0), (1, "2024-01-02", 7.0), (1, "2024-01-05", 9.0),
              (2, "2024-01-04", 1.0), (7, "2024-01-06", 2.0)]
    paths = {}
    for name, data, ddl in (
        ("events", events, "user_id int, ts long, value double"),
        ("left", left, "user_id int, ts long"),
        ("entity", entity, "user_id int, ds string, n_value double"),
    ):
        paths[name] = str(root / f"{name}.parquet")
        spark.createDataFrame(data, ddl).write.parquet(paths[name])
    return paths


def _joins(paths):
    src = EventSource(paths["events"], Query(
        selects={"user_id": "user_id", "value": "value"}, time_column="ts"))
    left = EventSource(paths["left"], Query(
        selects={"user_id": "user_id"}, time_column="ts"))

    def sum7(acc, name):
        return GroupBy([src], ["user_id"],
                       [Aggregation("value", Operation.SUM, windows=[Window(7)])],
                       accuracy=acc, name=name)

    no_agg = GroupBy([EntitySource(paths["entity"], Query(
        selects={"user_id": "user_id", "n_value": "n_value"}))], ["user_id"], None, name="n")
    return {
        "snapshot": Join(left, [JoinPart(sum7(Accuracy.SNAPSHOT, "s"))], name="ja"),
        "no_agg": Join(left, [JoinPart(no_agg)], name="jb"),
        "skew": Join(left, [JoinPart(sum7(Accuracy.TEMPORAL, "t"))],
                     skew_keys={"user_id": [7]}, name="jc"),
        "temporal_snapshot": Join(left, [JoinPart(sum7(Accuracy.TEMPORAL, "t")),
                                         JoinPart(sum7(Accuracy.SNAPSHOT, "s"))], name="jd"),
    }


def _rows(df):
    def norm(v):
        return round(v, 9) if isinstance(v, float) else v

    return sorted((tuple(sorted((k, norm(v)) for k, v in r.asDict().items()))
                   for r in df.collect()), key=repr)


@pytest.mark.parametrize("config", ["snapshot", "no_agg", "skew", "temporal_snapshot"])
def test_one_join_every_entry_point(spark, tables, tmp_path, config):
    join = _joins(tables)[config]
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    step = int(np.random.default_rng(zlib.crc32(config.encode())).integers(2, 5))
    outs = {"compute_join": _rows(compute_join(spark, join, RNG))}
    for days in (1, step):
        join_backfill(spark, wh, join, f"out_{days}", step_days=days).run(RNG.start, RNG.end)
        outs[f"join_backfill step {days}"] = _rows(wh.read(f"out_{days}"))
    outs["run_modular_join"] = _rows(run_modular_join(spark, wh, join, RNG))
    mono = outs["compute_join"]
    assert len(mono) > 10
    for name, rows in outs.items():
        assert rows == mono, name

    pinned = [dict(r) for r in mono if dict(r)["ts"] == PIN_TS]
    assert len(pinned) == 1
    pin = pinned[0]
    if config == "snapshot":  # end of yesterday: 5.0 + 7.0, not the as-of 23.0
        assert pin["s_value_sum_7d"] == pytest.approx(12.0)
    elif config == "no_agg":  # latest entity row by end of yesterday
        assert pin["n_n_value"] == pytest.approx(7.0)
    elif config == "skew":
        assert pin["t_value_sum_7d"] == pytest.approx(23.0)
        assert not [r for r in mono if dict(r)["user_id"] == 7]
    else:
        assert (pin["t_value_sum_7d"], pin["s_value_sum_7d"]) == pytest.approx((23.0, 12.0))


# --------------------------------------------------------------------------
# multi-key joins: step splits and the brute force
# --------------------------------------------------------------------------
KEYS3 = ["a", "b", "c"]
PARTS = [
    AggregationPart("value", Operation.SUM, window=Window(3)),
    AggregationPart("value", Operation.COUNT, window=Window(2)),
    AggregationPart("value", Operation.MAX),
]


def _key_rows(r, keys, n, lo_day, hi_day, null_share):
    """Rows of (keys..., ts): small key domains, some NULL parts after the
    first key."""
    out = []
    for _ in range(n):
        key = [int(r.integers(0, 3)) for _ in keys]
        for i in range(1, len(keys)):
            if r.random() < null_share:
                key[i] = None
        out.append((*key, int(BASE + r.integers(lo_day * DAY, hi_day * DAY))))
    return out


@pytest.fixture(scope="module")
def multi_key(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("multikey")
    r = np.random.default_rng(29)
    paths = {}
    for n_keys in (2, 3):
        keys = KEYS3[:n_keys]
        ddl = ", ".join(f"{k} int" for k in keys)
        ev = [(*row, float(r.integers(0, 9)) if r.random() > 0.1 else None)
              for row in _key_rows(r, keys, 250, 0, 9, 0.15)]
        left = _key_rows(r, keys, 60, 3, 9, 0.15)
        ent = [(*row[:-1], f"2024-01-0{int(r.integers(1, 9))}", float(r.integers(0, 9)))
               for row in _key_rows(r, keys, 40, 0, 1, 0.0)]
        for name, data, schema in (
            ("events", ev, f"{ddl}, ts long, value double"),
            ("left", left, f"{ddl}, ts long"),
            ("entity", ent, f"{ddl}, ds string, n_value double"),
        ):
            paths[(n_keys, name)] = str(root / f"{name}{n_keys}.parquet")
            spark.createDataFrame(data, schema).write.parquet(paths[(n_keys, name)])
    return paths


def _multi_key_join(paths, n_keys, with_snapshot_parts):
    keys = KEYS3[:n_keys]
    sel = {k: k for k in keys}
    src = EventSource(paths[(n_keys, "events")], Query(
        selects={**sel, "value": "value"}, time_column="ts"))
    aggs = [Aggregation("value", Operation.SUM, windows=[Window(3)]),
            Aggregation("value", Operation.COUNT, windows=[Window(2)]),
            Aggregation("value", Operation.MAX)]
    parts = [JoinPart(GroupBy([src], keys, aggs, accuracy=Accuracy.TEMPORAL, name="t"))]
    if with_snapshot_parts:
        parts.append(JoinPart(GroupBy([src], keys, aggs[:1], accuracy=Accuracy.SNAPSHOT,
                                      name="s")))
        parts.append(JoinPart(GroupBy([EntitySource(paths[(n_keys, "entity")], Query(
            selects={**sel, "n_value": "n_value"}))], keys, None, name="n")))
    left = EventSource(paths[(n_keys, "left")], Query(selects=sel, time_column="ts"))
    return Join(left, parts, name=f"mk{n_keys}")


@pytest.mark.parametrize("n_keys", [2, 3])
def test_multi_key_temporal_steps_match_brute_force(spark, multi_key, tmp_path, n_keys):
    keys = KEYS3[:n_keys]
    join = _multi_key_join(multi_key, n_keys, with_snapshot_parts=False)
    rng = PartitionRange("2024-01-04", "2024-01-09")
    full = _rows(compute_join(spark, join, rng))
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    step = int(np.random.default_rng(n_keys).integers(2, 5))
    for days in (1, step):
        join_backfill(spark, wh, join, f"out_{days}", step_days=days).run(rng.start, rng.end)
        assert _rows(wh.read(f"out_{days}")) == full, f"step {days}"

    ev = spark.read.parquet(multi_key[(n_keys, "events")]).collect()
    nulls = 0
    for row in map(dict, full):
        key = tuple(row[k] for k in keys)
        feats = [row[f"t_{p.output_name}"] for p in PARTS]
        # a key with a NULL part matches no event: the empty-window values
        nulls += None in key
        mine = [e for e in ev if None not in key and tuple(e[k] for k in keys) == key]
        ets = np.array([e["ts"] for e in mine], dtype=np.int64)
        vals = np.array([np.nan if e["value"] is None else e["value"] for e in mine])
        want = naive_aggregate(ets, {"value": vals}, np.array([row["ts"]]), PARTS)
        for p, got in zip(PARTS, feats):
            exp = want[p.output_name][0]
            assert got == (None if exp is None else pytest.approx(exp)), (p.output_name, row)
    assert nulls and len(full) - nulls > 20


def test_null_key_part_gets_null_features_for_every_accuracy(spark, multi_key):
    join = _multi_key_join(multi_key, 2, with_snapshot_parts=True)
    out = compute_join(spark, join, PartitionRange("2024-01-04", "2024-01-09"))
    features = [c for c in out.columns if c[:2] in ("t_", "s_", "n_")]
    assert {c[:2] for c in features} == {"t_", "s_", "n_"}
    null_rows = out.where(F.col("b").isNull()).collect()
    assert null_rows
    empty = {"t_value_count_2d": 0}  # a TEMPORAL part's empty window
    for row in null_rows:
        assert [row[c] for c in features] == [empty.get(c) for c in features], row
    # the same parts do find values for complete keys
    full = out.where(F.col("b").isNotNull())
    for c in features:
        assert full.where(F.col(c).isNotNull()).count() > 0, c


# --------------------------------------------------------------------------
# plan-time refusal and the job budget
# --------------------------------------------------------------------------
def test_modular_join_refuses_bootstrap_parts(spark, tables, tmp_path):
    join = _joins(tables)["snapshot"]
    join.bootstrap_parts = [BootstrapPart(tables["entity"], key_columns=["user_id"])]
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    sc = spark.sparkContext
    group = "modular-bootstrap-refusal"
    sc.setJobGroup(group, "plan-time rejection")
    try:
        with pytest.raises(ValueError, match="bootstrap_parts"):
            run_modular_join(spark, wh, join, RNG)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_one_part_temporal_join_job_budget(spark):
    """A one-part TEMPORAL join through `compute_temporal_join` runs no
    more Spark jobs than before it delegated to `compute_join`: no date
    range probe, no row-id merge. Counted on a noop sink, AQE stage jobs
    included."""
    r = np.random.default_rng(5)
    right = spark.createDataFrame(
        [(int(r.integers(0, 50)), int(BASE + r.integers(0, 10 * DAY)), float(r.random()))
         for _ in range(2000)], "user_id int, ts long, value double")
    left = spark.createDataFrame(
        [(int(r.integers(0, 50)), int(BASE + r.integers(0, 10 * DAY))) for _ in range(2000)],
        "user_id int, ts long",
    ).withColumn("ds", F.date_format(F.timestamp_millis("ts"), "yyyy-MM-dd"))
    gb = GroupBy([DataFrameSource(lambda s: right)], ["user_id"],
                 [Aggregation("value", Operation.SUM, windows=[Window(7)])],
                 accuracy=Accuracy.TEMPORAL, name="g")
    join = Join(DataFrameSource(lambda s: left), [JoinPart(gb)], name="budget")
    sc = spark.sparkContext
    group = "one-part-temporal-budget"
    sc.setJobGroup(group, "job budget")
    try:
        compute_temporal_join(spark, join).write.format("noop").mode("overwrite").save()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # 5 before the delegation (local[4], shuffle_partitions=4)
    assert 0 < jobs <= 5, jobs


def test_three_part_temporal_join_shares_one_left_probe(spark):
    """Three TEMPORAL parts over the same left keys share one probe of the
    left: the plan build runs the jobs of a single probe, and the whole
    join fewer jobs than a probe per part paid (16 at local[2]). Counted
    on a noop sink, AQE stage jobs included."""
    r = np.random.default_rng(5)
    right = spark.createDataFrame(
        [(int(r.integers(0, 50)), int(BASE + r.integers(0, 10 * DAY)), float(r.random()))
         for _ in range(2000)], "user_id int, ts long, value double")
    left = spark.createDataFrame(
        [(int(r.integers(0, 50)), int(BASE + r.integers(0, 10 * DAY))) for _ in range(2000)],
        "user_id int, ts long",
    ).withColumn("ds", F.date_format(F.timestamp_millis("ts"), "yyyy-MM-dd"))
    join = Join(DataFrameSource(lambda s: left), [
        JoinPart(GroupBy([DataFrameSource(lambda s: right)], ["user_id"],
                         [Aggregation("value", op, windows=[Window(7)])],
                         accuracy=Accuracy.TEMPORAL, name=f"g{i}"))
        for i, op in enumerate((Operation.SUM, Operation.MAX, Operation.COUNT))],
        name="budget3")
    sc = spark.sparkContext

    def jobs(fn, group):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    probe = jobs(lambda: left.select("user_id").limit(5001).collect(), "three-part-probe")
    assert jobs(lambda: compute_join(spark, join), "three-part-build") == probe
    total = jobs(lambda: compute_join(spark, join).write.format("noop").mode("overwrite")
                 .save(), "three-part-total")
    assert 0 < total <= 12, total


# --------------------------------------------------------------------------
# row ids: modular reruns, a shuffled left; the unranged right scan
# --------------------------------------------------------------------------
def test_modular_join_rerun_after_skew_and_left_changes(spark, tables, tmp_path):
    """One modular join rerun in one warehouse: skew keys added, removed,
    then the left redefined. Each run equals `compute_join`, so no part
    table keeps the row ids of an older left table or misses the keys an
    older skew filter dropped."""
    base = _joins(tables)["temporal_snapshot"]
    narrowed = replace(base.left, query=replace(base.left.query, wheres=["user_id != 9"]))
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    for join in (base, replace(base, skew_keys={"user_id": [7]}), base,
                 replace(base, left=narrowed)):
        mono = _rows(compute_join(spark, join, RNG))
        assert _rows(run_modular_join(spark, wh, join, RNG)) == mono, (
            join.skew_keys, join.left.query.wheres)


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_multi_part_join_over_join_source_left(spark, tables):
    """A JoinSource left has shuffles below it. The multi-part merge
    materializes it before minting row ids, and the merged result equals
    the parts chained one after the other."""
    joins = _joins(tables)
    upstream = joins["skew"]
    left = JoinSource(upstream, Query(selects={"user_id": "user_id",
                                               "up": "t_value_sum_7d"}))
    parts = joins["temporal_snapshot"].join_parts
    merged = compute_join(spark, Join(left, parts, name="down"), RNG)
    chained = scan_source(spark, left, RNG)
    assert "Exchange" in _plan(chained)
    for jp in parts:
        chained = _join_part(spark, chained, jp, RNG, RNG.spec)
    assert _rows(merged) == _rows(chained)
    assert "Exchange" not in _plan(_pinned(scan_source(spark, left, RNG)))
    plain = scan_source(spark, upstream.left, RNG)
    assert _pinned(plain) is plain


def test_unranged_temporal_join_prunes_right_partitions(spark, tmp_path):
    """Called without a range, a TEMPORAL join over a ds-partitioned right
    source resolves the left's dates once and scans the right only from
    the window's reach before the left's first day."""
    r = np.random.default_rng(3)
    right = spark.createDataFrame(
        [(int(r.integers(0, 5)), int(BASE + r.integers(0, 30 * DAY)), float(r.random()))
         for _ in range(300)], "user_id int, ts long, value double",
    ).withColumn("ds", F.date_format(F.timestamp_millis("ts"), "yyyy-MM-dd"))
    right.write.partitionBy("ds").parquet(str(tmp_path / "right"))
    left = spark.createDataFrame(
        [(int(r.integers(0, 5)), int(BASE + r.integers(25 * DAY, 28 * DAY)))
         for _ in range(20)], "user_id int, ts long")
    left.write.parquet(str(tmp_path / "left"))
    src = EventSource(str(tmp_path / "right"), Query(
        selects={"user_id": "user_id", "value": "value"}, time_column="ts"))
    gb = GroupBy([src], ["user_id"], [Aggregation("value", Operation.SUM, windows=[Window(3)])],
                 accuracy=Accuracy.TEMPORAL, name="g")
    join = Join(EventSource(str(tmp_path / "left"), Query(
        selects={"user_id": "user_id"}, time_column="ts")), [JoinPart(gb)], name="prune")
    lo = left.selectExpr("min(date_format(timestamp_millis(ts), 'yyyy-MM-dd'))").first()[0]
    # a 3-day window reaches back 3 days, the sawtooth tail one more
    bound = RNG.spec.shift(lo, -4)
    for fn in (compute_join, compute_temporal_join):
        out = fn(spark, join)
        assert re.search(rf"PartitionFilters: \[.*ds#\d+ >= {bound}", _plan(out)), fn
        assert _rows(out) == _rows(fn(spark, join, PartitionRange(lo, "2024-01-29")))


def test_step_split_floats_agree_to_a_relative_1e12(spark, tmp_path):
    """The step-split contract (README, incremental backfill): a
    `join_backfill` of any step gives the rows of `compute_join` over the
    range, every value exact except TEMPORAL SUM, AVERAGE and the moments,
    which may differ in the last bit. The sawtooth centres each key's
    prefix sums on the mean of the rows it scanned, and the lookback-widened
    scan depends on the step."""
    r = np.random.default_rng(17)
    ev = [(int(r.integers(0, 4)), int(BASE + r.integers(0, 12 * DAY)),
           float(r.uniform(-1e3, 1e6))) for _ in range(400)]
    left = [(int(r.integers(0, 4)), int(BASE + r.integers(3 * DAY, 12 * DAY)))
            for _ in range(80)]
    for name, data, ddl in (("ev", ev, "user_id int, ts long, value double"),
                            ("left", left, "user_id int, ts long")):
        spark.createDataFrame(data, ddl).write.parquet(str(tmp_path / name))
    src = EventSource(str(tmp_path / "ev"), Query(
        selects={"user_id": "user_id", "value": "value"}, time_column="ts"))
    gb = GroupBy([src], ["user_id"], [
        Aggregation("value", op, windows=[Window(2), Window(5)])
        for op in (Operation.SUM, Operation.AVERAGE, Operation.VARIANCE, Operation.COUNT,
                   Operation.MAX)], accuracy=Accuracy.TEMPORAL, name="t")
    join = Join(EventSource(str(tmp_path / "left"), Query(
        selects={"user_id": "user_id"}, time_column="ts")), [JoinPart(gb)], name="ulp")
    rng = PartitionRange("2024-01-04", "2024-01-12")
    key = ("user_id", "ts")

    def rows(df):
        return {tuple(row[k] for k in key): row.asDict() for row in df.collect()}

    mono = rows(compute_join(spark, join, rng))
    assert len(mono) > 40
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    for days in (2, 3):
        join_backfill(spark, wh, join, f"out_{days}", step_days=days).run(rng.start, rng.end)
        stepped = rows(wh.read(f"out_{days}"))
        assert stepped.keys() == mono.keys()
        for k, row in mono.items():
            for c, v in row.items():
                if isinstance(v, float):
                    assert stepped[k][c] == pytest.approx(v, rel=1e-12, abs=0), (days, k, c)
                else:
                    assert stepped[k][c] == v, (days, k, c)
