"""The as-of join and mutation-replay kernels give the same rows whatever
the cogroup bucket count is: at 1 every key shares one bucket, at 64 most
buckets hold no right rows. A left key with no right rows gets the
empty-window value of each part, whether or not its cogroup bucket holds
right rows of other keys."""

from chronon_spark.api import AggregationPart, Operation, Window
from chronon_spark.operators import temporal_join
from chronon_spark.operators.mutations import temporal_entity_features
from chronon_spark.operators.temporal_join import temporal_features

BASE = 1704067200000  # 2024-01-01 UTC
DAY = 86_400_000
N_KEYS = 30  # keys 0-2 have right rows, keys 3-29 have none

PARTS = [
    AggregationPart("value", Operation.COUNT, window=Window(7)),
    AggregationPart("value", Operation.APPROX_UNIQUE_COUNT, window=None),
    AggregationPart("value", Operation.LAST_K, arg_map={"k": 2}, window=Window(7)),
    AggregationPart("value", Operation.SUM, window=Window(7), bucket="cat"),
]
MAP_PART = AggregationPart("m", Operation.COUNT, window=Window(7))
EMPTY = {
    "value_count_7d": 0,
    "value_approx_unique_count": 0,
    "value_last2_7d": [],
    "value_sum_7d_by_cat": {},
    "m_count_7d": {},
}


def _left(spark):
    return spark.createDataFrame(
        [(k, BASE + 5 * DAY + 1000 * k + j) for k in range(N_KEYS) for j in range(2)],
        "user_id int, ts long",
    )


def _rows(df):
    return sorted(
        (tuple(sorted(r.asDict().items(), key=lambda kv: kv[0])) for r in df.collect()),
        key=lambda r: (dict(r)["user_id"], dict(r)["ts"]),
    )


def _by_buckets(monkeypatch, run):
    out, asked = {}, []

    def buckets_of(n):
        def count(spark):
            asked.append(n)
            return n
        return count

    for buckets in (1, 64):
        # the shared cogroup frame of both kernels reads the count here
        monkeypatch.setattr(temporal_join, "_join_buckets", buckets_of(buckets))
        out[buckets] = _rows(run())
    assert asked == [1, 64]
    assert out[1] == out[64]
    return [dict(r) for r in out[1]]


def _check_empty(rows, names):
    absent = [r for r in rows if r["user_id"] >= 3]
    present = [r for r in rows if r["user_id"] < 3]
    assert len(absent) == 2 * (N_KEYS - 3)
    for r in absent:
        assert {n: r[n] for n in names} == {n: EMPTY[n] for n in names}, r
    assert all(r["value_count_7d"] > 0 for r in present)


def test_temporal_features_bucket_count_invariant(spark, monkeypatch):
    right = spark.createDataFrame(
        [(k, BASE + i * DAY // 2 + k, float(i % 3), "ab"[i % 2], {"x": 1.0, "y": float(i)})
         for k in range(3) for i in range(8)],
        "user_id int, ts long, value double, cat string, m map<string,double>",
    )
    parts = PARTS + [MAP_PART]
    rows = _by_buckets(
        monkeypatch,
        lambda: temporal_features(_left(spark), right, ["user_id"], ["user_id"], parts),
    )
    _check_empty(rows, [p.output_name for p in parts])


def test_temporal_entity_features_bucket_count_invariant(spark, monkeypatch):
    snap = spark.createDataFrame(
        [(k, BASE + i * DAY // 2 + k, float(i % 3), "ab"[i % 2], "2024-01-05")
         for k in range(3) for i in range(8)],
        "user_id int, ts long, value double, cat string, ds string",
    )
    mut = spark.createDataFrame(
        [(k, BASE + 5 * DAY + 10 + k, 7.0, "b", BASE + 5 * DAY + 20 + k, False)
         for k in range(3)],
        "user_id int, ts long, value double, cat string, mutation_ts long, "
        "is_before boolean",
    )
    rows = _by_buckets(
        monkeypatch,
        lambda: temporal_entity_features(
            _left(spark), snap, mut, ["user_id"], ["user_id"], PARTS),
    )
    _check_empty(rows, [p.output_name for p in PARTS])
