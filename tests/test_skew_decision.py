"""The Join step's hot-key split, chosen by the engine from one shared left
probe (`temporal_join.LeftProbe`, `_split_decision`). At local[4] the fair
share is 1/4 of the left rows. Each case runs a small `compute_join`,
checks the split it chose and the Spark jobs the plan build ran, and
compares every value with the plain path (the same join with no split)."""

import itertools
from collections import Counter

import numpy as np
import pytest

from chronon_spark.api import (
    Accuracy,
    Aggregation,
    DataFrameSource,
    GroupBy,
    Join,
    JoinPart,
    Operation,
    Window,
)
from chronon_spark.operators import temporal_join
from chronon_spark.operators.snapshot_join import compute_join
from chronon_spark.operators.temporal_join import HotKey, LeftProbe
from chronon_spark.sources.scan import scan_source

BASE = 1704067200000
DAY = 86_400_000
HOT = 7
# one grouped count collected under AQE: a shuffle stage, its re-planned
# stage and the result
COUNT_JOBS = 3


GROUPS = itertools.count()


def _jobs(spark, fn):
    sc = spark.sparkContext
    group = f"skew-decision-{next(GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _frame(spark, keys, seed):
    r = np.random.default_rng(seed)
    ts = BASE + r.integers(0, 20 * DAY, len(keys))
    vals = r.integers(0, 100, len(keys)) / 4
    return [(int(k), int(t), float(v)) for k, t, v in zip(keys, ts, vals)]


def _keys(n, hot_share, seed):
    r = np.random.default_rng(seed)
    return np.where(r.random(n) < hot_share, HOT, r.integers(10, 50, n))


def _join(spark, tmp_path, left_keys, right_keys, lifetime=False):
    left = spark.createDataFrame([t[:2] for t in _frame(spark, left_keys, 1)],
                                 "user_id int, ts long")
    # a small parquet right: its size statistics skip the semi-join filter
    spark.createDataFrame(_frame(spark, right_keys, 2),
                          "user_id int, ts long, value double").write.parquet(
        str(tmp_path / "right"))
    right = spark.read.parquet(str(tmp_path / "right"))
    aggs = [Aggregation("value", Operation.SUM, windows=[Window(3), Window(7)]),
            Aggregation("value", Operation.LAST_K, arg_map={"k": 2}, windows=[Window(7)])]
    if lifetime:
        aggs.append(Aggregation("value", Operation.COUNT, windows=[None]))
    gb = GroupBy([DataFrameSource(lambda s: right)], ["user_id"], aggs,
                 accuracy=Accuracy.TEMPORAL, name="g")
    return left, Join(DataFrameSource(lambda s: left), [JoinPart(gb)], name="skew")


def _run(spark, monkeypatch, left, join):
    """(the chosen split, the plan build's jobs beyond the bare probe,
    rows keyed by (user_id, ts), plain-path rows)."""
    chosen = []
    decide = temporal_join._split_decision

    def record(*args):
        chosen.append(decide(*args))
        return chosen[-1]

    _, probe_jobs = _jobs(spark, lambda: LeftProbe(spark, scan_source(spark, join.left),
                                                   ["user_id"]))
    monkeypatch.setattr(temporal_join, "_split_decision", record)
    out, jobs = _jobs(spark, lambda: compute_join(spark, join))
    monkeypatch.setattr(temporal_join, "_split_decision", lambda *a: ())
    plain = compute_join(spark, join)
    monkeypatch.undo()

    def rows(df):
        return {(r["user_id"], r["ts"]): r.asDict() for r in df.collect()}

    return chosen, jobs - probe_jobs, rows(out), rows(plain)


def _assert_same(got, plain):
    assert got.keys() == plain.keys()
    for k, row in plain.items():
        for c, v in row.items():
            if isinstance(v, float):
                assert got[k][c] == pytest.approx(v, rel=1e-12), (k, c)
            else:
                assert got[k][c] == v, (k, c)


def test_uniform_keys_split_nothing_and_run_only_the_probe(spark, monkeypatch, tmp_path):
    left, join = _join(spark, tmp_path, _keys(8000, 0.0, 3), _keys(4000, 0.0, 4))
    chosen, extra, got, plain = _run(spark, monkeypatch, left, join)
    assert chosen == [()]
    assert extra == 0
    _assert_same(got, plain)


def test_query_dominated_key_gets_a_hash_split(spark, monkeypatch, tmp_path):
    # 90% of 8000 queries on one key that holds ~1% of 4000 events: 60% of
    # all rows, so 3 shards of fair share
    left, join = _join(spark, tmp_path, _keys(8000, 0.9, 5), _keys(4000, 0.01, 6))
    chosen, extra, got, plain = _run(spark, monkeypatch, left, join)
    assert chosen == [(HotKey((HOT,), 3),)]
    assert 0 < extra <= 2 * COUNT_JOBS
    _assert_same(got, plain)


def _event_heavy(spark, tmp_path, lifetime):
    # the key holds half of 8000 queries and 90% of 20000 events: 79% of
    # all rows, so 4 shards
    left_keys = _keys(8000, 0.5, 7)
    right_keys = _keys(20000, 0.9, 8)
    assert Counter(right_keys)[HOT] > Counter(left_keys)[HOT]
    return _join(spark, tmp_path, left_keys, right_keys, lifetime)


def test_event_dominated_windowed_key_gets_time_shards(spark, monkeypatch, tmp_path):
    left, join = _event_heavy(spark, tmp_path, lifetime=False)
    chosen, extra, got, plain = _run(spark, monkeypatch, left, join)
    [(hot,)] = chosen
    assert (hot.key, hot.shards) == ((HOT,), 4) and hot.days == 5, hot
    assert 0 < extra <= 2 * COUNT_JOBS
    _assert_same(got, plain)


def test_event_dominated_key_with_unwindowed_part_is_not_split(spark, monkeypatch, tmp_path):
    """No time shards with an unwindowed part, and no hash split either:
    every hash slice would re-process all the key's events."""
    left, join = _event_heavy(spark, tmp_path, lifetime=True)
    chosen, extra, got, plain = _run(spark, monkeypatch, left, join)
    assert chosen == [()]
    assert 0 < extra <= 2 * COUNT_JOBS
    _assert_same(got, plain)


def test_key_sorted_left_false_candidate_is_rejected(spark, monkeypatch, tmp_path):
    """The first 5,001 rows of a key-sorted left are all one key, whose
    true share is 22% (< 1/4): the exact count rejects it, and no right
    count runs."""
    r = np.random.default_rng(9)
    keys = np.sort(np.concatenate([np.full(5500, HOT), r.integers(10, 50, 19500)]))
    keys = np.concatenate([keys[keys == HOT], keys[keys != HOT]])
    left, join = _join(spark, tmp_path, keys, _keys(4000, 0.0, 10))
    assert {row["user_id"] for row in left.select("user_id").limit(5001).collect()} == {HOT}
    chosen, extra, got, plain = _run(spark, monkeypatch, left, join)
    assert chosen == [()]
    assert 0 < extra <= COUNT_JOBS  # the left aggregate only
    _assert_same(got, plain)
