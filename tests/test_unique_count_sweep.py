"""Exact snapshot UNIQUE_COUNT (the sweep line) against a brute-force
Python oracle: random keys, NULL values, duplicate values on one day,
empty windows, 1/3/7-day and lifetime windows, sparse and dense output,
scalar and array input."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from chronon_spark.api import (
    Aggregation,
    DataFrameSource,
    GroupBy,
    Operation,
    Window,
)
from chronon_spark.operators.groupby import compute_snapshot_groupby
from chronon_spark.partitions import DEFAULT_SPEC, PartitionRange

TS0 = 1704067200000  # 2024-01-01 00:00 UTC
DAY = 86_400_000
WINDOWS = [Window(1), Window(3), Window(7), None]
START, END = 5, 13  # output range, as day offsets from TS0


def _events(seed):
    """(key, day, scalar, array) rows over 16 days. Few distinct values so
    the same value recurs on one day and across days; day gaps leave
    windows empty; key 'z' only ever carries NULL values, and key 'old'
    has events only before the output range."""
    rng = np.random.default_rng(seed)
    rows = []
    for _ in range(400):
        key = [None, "a", "b", "c", "d"][int(rng.integers(0, 5))]
        day = int(rng.choice([0, 1, 2, 4, 5, 6, 9, 12, 13, 14, 15]))
        v = None if rng.random() < 0.15 else int(rng.integers(0, 6))
        if rng.random() < 0.1:
            arr = None
        else:
            arr = [None if rng.random() < 0.1 else int(rng.integers(0, 6))
                   for _ in range(int(rng.integers(0, 4)))]
        rows.append((key, day, v, arr))
    rows += [("z", 6, None, None), ("z", 9, None, [None]), ("old", 0, 1, [2])]
    return rows


def _oracle(rows, col, window, dense):
    """{(key, ds): distinct non-null values of `col` in the window}."""
    idx = 2 if col == "v" else 3
    by_key = {}
    for key, day, *vals in rows:
        if key is None or day > END:
            continue
        vals = vals[idx - 2]
        elems = vals if idx == 3 else [vals]
        by_key.setdefault(key, []).append((day, [e for e in (elems or []) if e is not None]))
    out = {}
    for key, evs in by_key.items():
        days = range(START, END + 1) if dense else sorted(
            {d for d, _ in evs if START <= d <= END})
        for t in days:
            lo = -1 if window is None else t - window.length + 1
            seen = {e for d, es in evs if lo <= d <= t for e in es}
            out[(key, DEFAULT_SPEC.shift("2024-01-01", t))] = len(seen)
    return out


@pytest.mark.parametrize("seed", [3, 11])
@pytest.mark.parametrize("dense", [False, True])
def test_unique_count_matches_brute_force(spark, seed, dense):
    rows = _events(seed)
    df = spark.createDataFrame(
        [(k, TS0 + d * DAY + 1000 * i, v, a) for i, (k, d, v, a) in enumerate(rows)],
        "user string, ts long, v int, arr array<int>",
    ).withColumn("ds", F.date_format(F.timestamp_millis("ts"), "yyyy-MM-dd"))
    gb = GroupBy(
        sources=[DataFrameSource(lambda s: df)],
        key_columns=["user"],
        aggregations=[
            Aggregation("v", Operation.UNIQUE_COUNT, windows=WINDOWS),
            Aggregation("arr", Operation.UNIQUE_COUNT, windows=WINDOWS),
            # a plain part shares the output rows: the full-outer merge of
            # parts must neither add nor drop rows
            Aggregation("v", Operation.COUNT, windows=[Window(3)]),
        ],
        name="uc",
    )
    rng = PartitionRange(DEFAULT_SPEC.shift("2024-01-01", START),
                         DEFAULT_SPEC.shift("2024-01-01", END))
    out = compute_snapshot_groupby(spark, gb, rng, dense=dense).collect()
    assert len(out) == len({(r["user"], r["ds"]) for r in out})
    for col in ("v", "arr"):
        for w in WINDOWS:
            name = f"{col}_unique_count" + ("" if w is None else f"_{w.length}d")
            got = {(r["user"], r["ds"]): r[name] for r in out}
            assert got == _oracle(rows, col, w, dense), (name, dense)
