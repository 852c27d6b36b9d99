"""Randomized brute-force check of the snapshot GroupBy statement.

Seeded random events — NULL keys and values, many events per key and day,
keys active on few days (empty windows) next to keys active on most —
go through `compute_snapshot_groupby` in sparse and dense mode, and every
output cell is compared with a pure-Python evaluation of its definition:
the window of N days ending at `ds` covers the events of days
[ds - N + 1, ds]; a lifetime window covers every day up to `ds`. The key
columns and the value column have names that need quoting in SQL (a space,
an embedded backtick). Two-key configs have keys with one NULL part, which
group as one key. Entity GroupBys also run as backfills of random step
sizes, whose union must equal the full-range output.
"""

import math
from collections import defaultdict
from datetime import date, timedelta

import numpy as np
import pytest

from chronon_spark.api import (
    Aggregation,
    DataFrameSource,
    GroupBy,
    Operation,
    Window,
)
from chronon_spark.operators.groupby import compute_snapshot_groupby
from chronon_spark.partitions import PartitionRange
from chronon_spark.plans.backfill import groupby_backfill
from chronon_spark.sources.catalog import ParquetWarehouse

BASE = 1704067200000  # 2024-01-01 UTC
DAY = 86_400_000
EPOCH_DAY0 = 19723  # 2024-01-01 as days since 1970-01-01
DAYS = 14
KEY = "user id"
KEY2 = "gr`p"
VAL = "va`l"
CATS = ["a", "b", "c", "d"]
L = None  # lifetime window

EVENT_AGGS = [
    Aggregation(VAL, Operation.SUM, windows=[Window(1), Window(7), L]),
    Aggregation(VAL, Operation.COUNT, windows=[Window(1), Window(7)]),
    Aggregation(VAL, Operation.AVERAGE, windows=[Window(7)]),
    Aggregation(VAL, Operation.MIN, windows=[Window(7)]),
    Aggregation(VAL, Operation.MAX, windows=[L]),
    Aggregation(VAL, Operation.VARIANCE, windows=[Window(7)]),
    Aggregation(VAL, Operation.FIRST, windows=[Window(7)]),
    Aggregation(VAL, Operation.LAST, windows=[L]),
    Aggregation(VAL, Operation.LAST_K, {"k": 3}, windows=[Window(7)]),
    Aggregation("cat", Operation.UNIQUE_COUNT, windows=[Window(1), Window(7), L]),
    Aggregation(VAL, Operation.SUM, windows=[Window(7)], buckets=["cat"]),
    Aggregation("cat", Operation.HISTOGRAM, windows=[Window(7), L]),
]
ENTITY_AGGS = [
    Aggregation(VAL, Operation.SUM, windows=[Window(3)]),
    # unwindowed parts next to windowed ones: the day's snapshot only
    Aggregation(VAL, Operation.COUNT, windows=[L]),
    Aggregation(VAL, Operation.MAX, windows=[Window(2)]),
    Aggregation("cat", Operation.UNIQUE_COUNT, windows=[Window(3), L]),
    Aggregation("cat", Operation.HISTOGRAM, windows=[Window(2), L]),
    Aggregation(VAL, Operation.SUM, windows=[Window(2), L], buckets=["cat"]),
]


def _ds(day: int) -> str:
    return (date(1970, 1, 1) + timedelta(days=day)).isoformat()


def _events(seed: int):
    """(key, ts, value, cat, day, key2) rows; every ts is distinct. key2 is
    NULL for every third key, so a two-key row may have one NULL part."""
    rng = np.random.default_rng(seed)
    rows = []
    for k in range(12):
        # dense keys post most days, sparse keys a few
        p_day = 0.8 if k % 3 == 0 else 0.15
        for d in range(DAYS):
            if rng.random() >= p_day:
                continue
            for _ in range(int(rng.integers(1, 5))):  # same-day ties
                key = None if rng.random() < 0.05 else k
                val = None if rng.random() < 0.15 else float(rng.integers(-40, 40)) / 4
                cat = None if rng.random() < 0.15 else str(rng.choice(CATS))
                # row i owns the slot [i * 997, i * 997 + 997) ms of its day
                ts = BASE + d * DAY + len(rows) * 997 + int(rng.integers(0, 997))
                rows.append((key, ts, val, cat, EPOCH_DAY0 + d, None if k % 3 == 1 else k % 2))
    return rows


def _frame(rows, day, days):
    lo = -math.inf if days is None else day - days + 1
    return [r for r in rows if lo <= r[4] <= day]


def _values(rows):
    return [r[2] for r in rows if r[2] is not None]


def _expected(part_name, op, days, rows, day):
    w = _frame(rows, day, days)
    vals = _values(w)
    if op == "sum":
        return sum(vals) if vals else None
    if op == "count":
        return len(vals)
    if op == "average":
        return sum(vals) / len(vals) if vals else None
    if op == "min":
        return min(vals, default=None)
    if op == "max":
        return max(vals, default=None)
    if op == "variance":
        if not vals:
            return None
        m = sum(vals) / len(vals)
        return sum((v - m) ** 2 for v in vals) / len(vals)
    timed = sorted((r[1], r[2]) for r in w if r[2] is not None)
    if op == "first":
        return timed[0][1] if timed else None
    if op == "last":
        return timed[-1][1] if timed else None
    if op == "last3":
        return [v for _, v in reversed(timed)][:3]
    cats = [r[3] for r in w if r[3] is not None]
    if op == "unique_count":
        return len(set(cats))
    if op == "histogram":
        return {c: cats.count(c) for c in set(cats)}
    if op == "sum_by_cat":
        out = {}
        for c in CATS:
            cv = [r[2] for r in w if r[3] == c and r[2] is not None]
            if cv:
                out[c] = sum(cv)
        return out
    raise AssertionError(part_name)


def _parts(aggs):
    """(output name, brute-force op, window days) per output column."""
    out = []
    for agg in aggs:
        for p in agg.unpack():
            op = p.operation.value
            if op == "last_k":
                op = "last3"
            if p.bucket:
                op = f"{op}_by_{p.bucket}"
            out.append((p.output_name, op, None if p.window is None else p.window.length))
    return out


def _assert_equal(got, want, where):
    if isinstance(want, float):
        assert got == pytest.approx(want, rel=1e-9, abs=1e-9), where
    elif isinstance(want, dict):
        assert got is not None and set(got) == set(want), where
        for k in want:
            _assert_equal(got[k], want[k], (where, k))
    else:
        assert got == want, where


def _by_key(events, keys):
    """Rows per key tuple; a key with every part NULL is dropped."""
    by_key = defaultdict(list)
    for r in events:
        key = (r[0], r[5])[:len(keys)]
        if any(k is not None for k in key):
            by_key[key].append(r)
    return by_key


def _check(out_rows, expected_rows, parts, rows_by_key, keys, entity=False):
    got = {(tuple(r[k] for k in keys), r["ds"]): r for r in out_rows}
    assert len(got) == len(out_rows), "duplicate (key, ds) rows"
    assert set(got) == expected_rows
    for (key, ds), r in got.items():
        day = EPOCH_DAY0 + (date.fromisoformat(ds) - date(2024, 1, 1)).days
        for name, op, days in parts:
            if entity and days is None:
                days = 1  # an unwindowed part among windowed: the day's snapshot
            want = _expected(name, op, days, rows_by_key[key], day)
            _assert_equal(r[name], want, (key, ds, name))


def _df(spark, events, entity=False):
    rows = [(k, t, v, c, _ds(d), k2) for k, t, v, c, d, k2 in events]
    df = spark.createDataFrame(
        rows, f"`{KEY}` int, ts long, `{VAL.replace('`', '``')}` double, cat string, ds string,"
              f" `{KEY2.replace('`', '``')}` int")
    return df.drop("ts") if entity else df


def _event_case(spark, seed, keys):
    events = _events(seed)
    df = _df(spark, events)
    gb = GroupBy(sources=[DataFrameSource(lambda s: df)], key_columns=keys,
                 aggregations=EVENT_AGGS, name="bf")
    parts = _parts(EVENT_AGGS)
    by_key = _by_key(events, keys)
    start, end = EPOCH_DAY0 + 8, EPOCH_DAY0 + 11
    rng = PartitionRange(_ds(start), _ds(end))
    event_days = {(k, _ds(r[4])) for k, rows in by_key.items() for r in rows}

    # sparse, bounded range: (key, ds) pairs with an event inside the range
    sparse = compute_snapshot_groupby(spark, gb, rng).collect()
    want = {(k, ds) for k, ds in event_days if _ds(start) <= ds <= _ds(end)}
    _check(sparse, want, parts, by_key, keys)

    # dense: every day of the range for every key with an event up to its end
    dense = compute_snapshot_groupby(spark, gb, rng, dense=True).collect()
    active = {k for k, rows in by_key.items() if any(r[4] <= end for r in rows)}
    _check(dense, {(k, _ds(d)) for k in active for d in range(start, end + 1)}, parts, by_key,
           keys)

    # unbounded: every event day
    _check(compute_snapshot_groupby(spark, gb).collect(), event_days, parts, by_key, keys)


@pytest.mark.parametrize("seed", [3, 11])
def test_event_snapshot_matches_brute_force(spark, seed):
    _event_case(spark, seed, [KEY])


def test_event_snapshot_two_keys_matches_brute_force(spark):
    _event_case(spark, 5, [KEY, KEY2])


def _entity_case(spark, tmp_path, seed, keys):
    events = _events(seed)
    df = _df(spark, events, entity=True)
    gb = GroupBy(sources=[DataFrameSource(lambda s: df, entity=True)], key_columns=keys,
                 aggregations=ENTITY_AGGS, name="bfe")
    parts = _parts(ENTITY_AGGS)
    by_key = _by_key(events, keys)
    want = {(k, _ds(r[4])) for k, rows in by_key.items() for r in rows}
    out = compute_snapshot_groupby(spark, gb).collect()
    _check(out, want, parts, by_key, keys, entity=True)

    # a bounded range reads the snapshots its windows reach back to
    start, end = EPOCH_DAY0 + 6, EPOCH_DAY0 + 11
    in_range = {(k, ds) for k, ds in want if _ds(start) <= ds <= _ds(end)}
    full = compute_snapshot_groupby(spark, gb, PartitionRange(_ds(start), _ds(end))).collect()
    _check(full, in_range, parts, by_key, keys, entity=True)

    # a backfill's answer does not depend on its step size: the union of
    # the steps' outputs is the full-range output
    by_row = {(tuple(r[k] for k in keys), r["ds"]): r for r in full}
    for step_days in [1, int(np.random.default_rng(seed).integers(2, 5))]:
        wh = ParquetWarehouse(spark, str(tmp_path / f"wh{step_days}"))
        groupby_backfill(spark, wh, gb, "out", step_days=step_days).run(_ds(start), _ds(end))
        steps = wh.read("out").collect()
        _check(steps, in_range, parts, by_key, keys, entity=True)
        for r in steps:
            want_row = by_row[(tuple(r[k] for k in keys), r["ds"])]
            for name, _, _ in parts:
                _assert_equal(r[name], want_row[name], (step_days, name))


def test_entity_windowed_snapshot_matches_brute_force(spark, tmp_path):
    _entity_case(spark, tmp_path, 29, [KEY])


def test_entity_two_keys_matches_brute_force(spark, tmp_path):
    _entity_case(spark, tmp_path, 31, [KEY, KEY2])
