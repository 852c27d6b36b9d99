"""Composite (multi-column) join keys and hot-key skew behavior."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from chronon_spark.api import AggregationPart, Operation, Window
from chronon_spark.operators.temporal_join import HotKey, temporal_features

BASE = 1704067200000
DAY = 86_400_000


def test_composite_key_temporal_join(spark):
    """Two-column keys exercise the joint-code segmentation: (tenant, user)
    pairs must never leak events across either key component."""
    rng = np.random.default_rng(37)
    ev = [
        (int(rng.integers(0, 3)), int(rng.integers(0, 4)),
         int(BASE + rng.integers(0, 10 * DAY)), float(round(rng.uniform(0, 10), 2)))
        for _ in range(800)
    ]
    right = spark.createDataFrame(ev, "tenant int, user int, ts long, value double")
    q = [(int(rng.integers(0, 3)), int(rng.integers(0, 4)),
          int(BASE + rng.integers(0, 10 * DAY))) for _ in range(200)]
    left = spark.createDataFrame(q, "tenant int, user int, ts long")
    parts = [
        AggregationPart("value", Operation.SUM, window=Window(7)),
        AggregationPart("value", Operation.COUNT, window=None),
    ]
    out = temporal_features(left, right, ["tenant", "user"], ["tenant", "user"], parts)
    got = {
        (r["tenant"], r["user"], r["ts"]): (r["value_sum_7d"], r["value_count"])
        for r in out.collect()
    }
    # brute-force oracle in python
    from chronon_spark.api import sawtooth_hop_millis

    hop = sawtooth_hop_millis(Window(7))
    for (t, u, T) in q:
        lo = ((T - Window(7).millis) // hop) * hop
        sel = [v for (et, eu, ts, v) in ev if et == t and eu == u and lo <= ts <= T]
        life = [v for (et, eu, ts, v) in ev if et == t and eu == u and ts <= T]
        s, c = got[(t, u, T)]
        if sel:
            assert s == pytest.approx(sum(sel)), (t, u, T)
        else:
            assert s is None
        assert c == len(life)


def test_hot_key_skew_completes_and_is_correct(spark):
    """90% of events on ONE key (the phash-dup scenario): the bucketed
    cogroup must stay correct; wall-clock degradation is bounded by the
    single bucket holding the hot key."""
    rng = np.random.default_rng(39)
    n = 20_000
    keys = np.where(rng.random(n) < 0.9, 7, rng.integers(0, 50, n))
    ts = np.sort(rng.integers(0, 10 * DAY, n)) + BASE
    ev = [(int(k), int(t), 1.0) for k, t in zip(keys, ts)]
    right = spark.createDataFrame(ev, "user_id int, ts long, value double")
    left = spark.createDataFrame(
        [(7, int(BASE + 10 * DAY)), (3, int(BASE + 10 * DAY))], "user_id int, ts long"
    )
    parts = [AggregationPart("value", Operation.COUNT, window=None)]
    rows = {r["user_id"]: r["value_count"]
            for r in temporal_features(left, right, ["user_id"], ["user_id"], parts).collect()}
    expect_hot = sum(1 for k, t, _ in ev if k == 7)
    expect_cold = sum(1 for k, t, _ in ev if k == 3)
    assert rows[7] == expect_hot
    assert rows[3] == expect_cold


# the two splits `_split_decision` chooses from, forced on hot key 7
SALTING = {
    # query-side hash split
    "salt.keys": (HotKey((7,), 4),),
    # time shards of 3 days (windowed parts only)
    "salt.time_days": (HotKey((7,), 4, days=3),),
}

SALT_PARTS = [
    AggregationPart("value", Operation.SUM, window=Window(7)),
    AggregationPart("value", Operation.COUNT, window=Window(1)),
    AggregationPart("value", Operation.LAST_K, arg_map={"k": 3}, window=Window(7)),
]


def _hot_key_frames(spark):
    """A hot key 7 that dominates BOTH sides: 60% of 8000 events over 20
    days and 300 of 700 queries."""
    rng = np.random.default_rng(53)
    n = 8000
    keys = np.where(rng.random(n) < 0.6, 7, rng.integers(0, 20, n))
    ts = np.sort(rng.integers(0, 20 * DAY, n)) + BASE
    ev = [(int(k), int(t), float(round(rng.uniform(0, 10), 2)))
          for k, t in zip(keys, ts)]
    right = spark.createDataFrame(ev, "user_id int, ts long, value double")
    q = [(int(rng.integers(0, 20)), int(BASE + rng.integers(0, 20 * DAY)))
         for _ in range(400)] + [(7, int(BASE + rng.integers(0, 20 * DAY)))
                                 for _ in range(300)]
    left = spark.createDataFrame(q, "user_id int, ts long")
    return left, right


@pytest.mark.parametrize("mode", sorted(SALTING))
def test_salting_matches_unsalted(spark, mode):
    """Each split spreads the hot key across kernel groups without
    changing ANY result value, for the hot key's rows and every other key:
    the hash split spreads its queries and replicates only its events;
    time shards cut its queries into 3-day chunks and replicate each event
    only into the chunks whose queries can see it."""
    left, right = _hot_key_frames(spark)
    parts = list(SALT_PARTS)
    if mode == "salt.keys":  # hash splits also serve lifetime parts
        parts.append(AggregationPart("value", Operation.COUNT, window=None))

    def run(split=()):
        out = temporal_features(left, right, ["user_id"], ["user_id"], parts,
                                split=split)
        return {(r["user_id"], r["ts"]): [r[p.output_name] for p in parts]
                for r in out.collect()}

    base = run()
    salted = run(SALTING[mode])
    assert set(base) == set(salted)
    for k in base:
        for b, s in zip(base[k], salted[k]):
            if isinstance(b, float):
                assert s == pytest.approx(b), k
            else:
                assert s == b, k


def test_time_sharding_rejects_unbounded_parts(spark):
    """Time shards are exact only for windowed parts, so the engine never
    picks them for a key with an unwindowed part (test_skew_decision);
    forced on one, they fail loudly instead of returning wrong results."""
    left, right = _hot_key_frames(spark)
    bad = SALT_PARTS + [AggregationPart("value", Operation.COUNT, window=None)]
    with pytest.raises(ValueError):
        temporal_features(left, right, ["user_id"], ["user_id"], bad,
                          split=SALTING["salt.time_days"])
