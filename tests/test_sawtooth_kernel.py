"""Sawtooth kernel vs brute-force naive oracle — the analog of the
reference's SawtoothAggregatorTest / NaiveAggregator comparison
(aggregator/src/test/.../SawtoothAggregatorTest.scala:50-120,
NaiveAggregator.scala:26-57). Random event streams with null injection,
random query timestamps (including exact-tie timestamps), every operator.
"""

import math

import numpy as np
import pytest

from chronon_spark.api import AggregationPart, Operation, TimeUnit, Window
from chronon_spark.operators.sawtooth import naive_aggregate, sawtooth_aggregate

RNG = np.random.default_rng(42)

WINDOWS = [
    None,  # unbounded / lifetime
    Window(30, TimeUnit.DAYS),  # 1d hops
    Window(2, TimeUnit.DAYS),  # 1h hops
    Window(3, TimeUnit.HOURS),  # 5min hops
]

NUMERIC_OPS = [
    Operation.COUNT,
    Operation.SUM,
    Operation.AVERAGE,
    Operation.VARIANCE,
    Operation.SKEW,
    Operation.KURTOSIS,
    Operation.MIN,
    Operation.MAX,
    Operation.FIRST,
    Operation.LAST,
    Operation.UNIQUE_COUNT,
]
SEQ_OPS = [
    Operation.FIRST_K,
    Operation.LAST_K,
    Operation.TOP_K,
    Operation.BOTTOM_K,
    Operation.UNIQUE_TOP_K,
]


def _gen_events(n=400, null_rate=0.15, span_days=60):
    base = 1704067200000  # 2024-01-01
    ts = np.sort(RNG.integers(0, span_days * 86_400_000, size=n)) + base
    vals = np.round(RNG.uniform(-100, 100, size=n), 2)
    vals[RNG.random(n) < null_rate] = np.nan
    return ts.astype(np.int64), vals


def _gen_queries(event_ts, nq=150):
    base, hi = int(event_ts[0]), int(event_ts[-1])
    qs = RNG.integers(base - 86_400_000, hi + 86_400_000, size=nq)
    # force exact ties with event timestamps — boundary inclusion
    # (reference: SawtoothUdfSpec.scala:256-259 "include events with the
    # same timestamp as the query")
    ties = RNG.choice(event_ts, size=10, replace=False)
    return np.sort(np.concatenate([qs, ties])).astype(np.int64)


def _isnull(x):
    """kernel convention: NaN in float arrays == null (converted to SQL
    NULL at the Arrow boundary, temporal_join._emit)."""
    if x is None:
        return True
    try:
        return math.isnan(float(x))
    except (TypeError, ValueError):
        return False


def _close(a, b, tol=1e-6):
    if _isnull(a) or _isnull(b):
        return _isnull(a) and _isnull(b)
    fa, fb = float(a), float(b)
    return abs(fa - fb) <= tol * max(1.0, abs(fa), abs(fb))


@pytest.mark.parametrize("window", WINDOWS, ids=lambda w: str(w) if w else "inf")
def test_numeric_ops_vs_naive(window):
    ets, vals = _gen_events()
    qts = _gen_queries(ets)
    parts = [AggregationPart("v", op, window=window) for op in NUMERIC_OPS]
    fast = sawtooth_aggregate(ets, {"v": vals}, qts, parts)
    slow = naive_aggregate(ets, {"v": vals}, qts, parts)
    for p in parts:
        f, s = fast[p.output_name], slow[p.output_name]
        for i in range(len(qts)):
            assert _close(f[i], s[i]), (
                f"{p.output_name}[{i}] T={qts[i]}: fast={f[i]} naive={s[i]}"
            )


@pytest.mark.parametrize("window", WINDOWS, ids=lambda w: str(w) if w else "inf")
def test_sequence_ops_vs_naive(window):
    ets, vals = _gen_events(n=300)
    qts = _gen_queries(ets, nq=80)
    parts = [AggregationPart("v", op, arg_map={"k": 5}, window=window) for op in SEQ_OPS]
    fast = sawtooth_aggregate(ets, {"v": vals}, qts, parts)
    slow = naive_aggregate(ets, {"v": vals}, qts, parts)
    for p in parts:
        f, s = fast[p.output_name], slow[p.output_name]
        for i in range(len(qts)):
            fl = [round(float(x), 6) for x in (f[i] or [])]
            sl = [round(float(x), 6) for x in (s[i] or [])]
            if p.operation in (Operation.TOP_K, Operation.BOTTOM_K, Operation.UNIQUE_TOP_K):
                pass  # order fully determined by value
            assert fl == sl, f"{p.output_name}[{i}]: {fl} != {sl}"


def test_histogram_vs_naive():
    ets, _ = _gen_events(n=300)
    cats = RNG.choice(np.array(["a", "b", "c", None], dtype=object), size=300)
    qts = _gen_queries(ets, nq=60)
    for args in ({}, {"k": 2}):
        parts = [AggregationPart("c", Operation.HISTOGRAM, arg_map=args, window=Window(7))]
        fast = sawtooth_aggregate(ets, {"c": cats}, qts, parts)
        slow = naive_aggregate(ets, {"c": cats}, qts, parts)
        name = parts[0].output_name
        for i in range(len(qts)):
            assert dict(fast[name][i]) == dict(slow[name][i])


def test_string_first_last():
    ets, _ = _gen_events(n=200)
    cats = RNG.choice(np.array(["x", "y", "z", None], dtype=object), size=200)
    qts = _gen_queries(ets, nq=50)
    parts = [
        AggregationPart("c", Operation.FIRST, window=Window(7)),
        AggregationPart("c", Operation.LAST, window=Window(7)),
    ]
    fast = sawtooth_aggregate(ets, {"c": cats}, qts, parts)
    slow = naive_aggregate(ets, {"c": cats}, qts, parts)
    for p in parts:
        for i in range(len(qts)):
            assert fast[p.output_name][i] == slow[p.output_name][i]


def test_tail_boundary_is_hop_rounded():
    """Window tail = floor((T - w) / hop) * hop — an event exactly at the
    rounded tail IS included; one just before it is NOT."""
    w = Window(2, TimeUnit.DAYS)  # hop = 1h
    hop = 3_600_000
    T = 1704067200000 + 5 * 86_400_000 + 1234  # arbitrary query ts
    tail = ((T - w.millis) // hop) * hop
    ets = np.array([tail - 1, tail, T], dtype=np.int64)
    vals = np.array([100.0, 10.0, 1.0])
    parts = [AggregationPart("v", Operation.SUM, window=w)]
    out = sawtooth_aggregate(ets, {"v": vals}, np.array([T], dtype=np.int64), parts)
    assert out[parts[0].output_name][0] == pytest.approx(11.0)


def test_head_inclusive_of_query_ts():
    """Events at exactly ts == T are included (head-inclusive)."""
    T = 1704067200000
    ets = np.array([T - 10, T, T + 1], dtype=np.int64)
    vals = np.array([1.0, 2.0, 4.0])
    parts = [AggregationPart("v", Operation.SUM, window=Window(1, TimeUnit.HOURS))]
    out = sawtooth_aggregate(ets, {"v": vals}, np.array([T], dtype=np.int64), parts)
    assert out[parts[0].output_name][0] == pytest.approx(3.0)


def test_empty_window_results():
    ets = np.array([1704067200000], dtype=np.int64)
    vals = np.array([5.0])
    qts = np.array([1704067200000 - 86_400_000], dtype=np.int64)  # before all events
    parts = [
        AggregationPart("v", Operation.COUNT, window=Window(1)),
        AggregationPart("v", Operation.SUM, window=Window(1)),
        AggregationPart("v", Operation.LAST_K, arg_map={"k": 3}, window=Window(1)),
    ]
    out = sawtooth_aggregate(ets, {"v": vals}, qts, parts)
    assert out["v_count_1d"][0] == 0
    assert _isnull(out["v_sum_1d"][0])
    assert out["v_last3_1d"][0] == []


def test_percentile_and_approx_unique_vs_naive():
    ets, vals = _gen_events(n=300)
    qts = _gen_queries(ets, nq=60)
    parts = [
        AggregationPart("v", Operation.APPROX_PERCENTILE,
                        arg_map={"percentiles": [0.25, 0.5, 0.95]}, window=Window(7)),
        AggregationPart("v", Operation.APPROX_UNIQUE_COUNT, window=Window(7)),
    ]
    fast = sawtooth_aggregate(ets, {"v": vals}, qts, parts)
    slow = naive_aggregate(ets, {"v": vals}, qts, parts)
    for p in parts:
        for i in range(len(qts)):
            f, s = fast[p.output_name][i], slow[p.output_name][i]
            if isinstance(s, list):
                assert [round(x, 9) for x in f] == [round(x, 9) for x in s]
            else:
                assert _close(f, s), f"{p.output_name}[{i}]"


def test_range_kth_matches_naive_sort_randomized():
    """Wavelet-tree range-kth vs brute-force sorted-slice indexing, with
    duplicates, NaNs, empty windows, and multi-percentile k's."""
    import numpy as np

    from chronon_spark.operators.sawtooth import _range_kth

    rng = np.random.default_rng(42)
    for trial in range(5):
        n = int(rng.integers(1, 400))
        vals = rng.choice([1.0, 2.0, 2.0, 7.5, np.nan, -3.0, 100.0], size=n)
        nq = 200
        s = rng.integers(0, n + 1, nq)
        e = np.minimum(n, s + rng.integers(0, n + 1, nq))
        pct = [0.25, 0.5, 0.9, 1.0]
        nn = np.concatenate(([0], np.cumsum(~np.isnan(vals))))
        m = nn[e] - nn[s]
        P = len(pct)
        m_rep = np.repeat(m, P)
        p_tile = np.tile(np.array(pct), nq)
        ks = np.maximum(1, np.ceil(p_tile * m_rep)).astype(np.int64) - 1
        ks = np.where(m_rep > 0, np.minimum(ks, m_rep - 1), -1)
        got = _range_kth(
            vals, np.repeat(s, P), np.repeat(e, P), ks
        ).reshape(nq, P)
        for i in range(nq):
            seg = vals[s[i]:e[i]]
            seg = np.sort(seg[~np.isnan(seg)])
            for j, p in enumerate(pct):
                if len(seg) == 0:
                    assert np.isnan(got[i, j])
                else:
                    exp = seg[max(1, int(np.ceil(p * len(seg)))) - 1]
                    assert got[i, j] == exp, (trial, i, p, exp, got[i, j])


def test_bucketed_zero_windows_omit_stale_buckets():
    """Buckets/map-keys whose events all fell out of the window must be
    ABSENT from the output map, not present as 0 / {} — count-shaped ops
    (APPROX_UNIQUE_COUNT) and dict-shaped ops (HISTOGRAM and the
    frequent-k family) previously leaked stale history buckets."""
    ts = np.array([1000, 2000, 10_000_000], dtype=np.int64)
    vals = {"v": np.array([3.0, 4.0, 3.0]),
            "cat": np.array(["b", "b", "a"], dtype=object)}
    q = np.array([10_000_001], dtype=np.int64)
    for op in (Operation.APPROX_UNIQUE_COUNT, Operation.COUNT,
               Operation.HISTOGRAM):
        # (APPROX_FREQUENT_K/HEAVY_HITTERS dispatch through the same
        # HISTOGRAM kernel branch — groupby.py routes them with a k trim)
        p = AggregationPart(
            "v", op, window=Window(1, TimeUnit.HOURS), bucket="cat")
        got = sawtooth_aggregate(ts, vals, q, [p])[p.output_name]
        want = naive_aggregate(ts, vals, q, [p])[p.output_name]
        assert list(got) == list(want), op
        assert "b" not in got[0], op  # the stale bucket stays absent


# ---------------------------------------------------------------------------
# _sawtooth_by_key over whole buckets vs per-key naive
# ---------------------------------------------------------------------------

BUCKET_TYPES = {"v": "double", "cat": "string", "m": "map<string,double>"}
BUCKET_PARTS = [
    AggregationPart("v", Operation.SUM, window=Window(2, TimeUnit.DAYS)),
    AggregationPart("v", Operation.COUNT, window=None),
    AggregationPart("v", Operation.AVERAGE, window=Window(3, TimeUnit.HOURS)),
    AggregationPart("v", Operation.MAX, window=Window(30, TimeUnit.DAYS)),
    AggregationPart("v", Operation.LAST, window=Window(2, TimeUnit.DAYS)),
    AggregationPart("v", Operation.LAST_K, arg_map={"k": 3}, window=Window(2, TimeUnit.DAYS)),
    AggregationPart("cat", Operation.HISTOGRAM, window=Window(30, TimeUnit.DAYS)),
    # one bucketed part and one map-input part pin _sawtooth_grouped
    AggregationPart("v", Operation.SUM, window=Window(2, TimeUnit.DAYS), bucket="cat"),
    AggregationPart("m", Operation.COUNT, window=Window(30, TimeUnit.DAYS)),
]


def _multikey_bucket(rng, n_keys=14):
    """Events for n_keys key codes, sorted by (code, ts): per key 0, 1 or
    many events, NaN values, None buckets, dicts with None values."""
    base = 1704067200000
    sizes = rng.choice([0, 1, 1, 6, 40], size=n_keys)
    code = np.repeat(np.arange(n_keys, dtype=np.int64), sizes)
    n = len(code)
    ts = base + rng.integers(0, 10 * 86_400_000, size=n)
    ts[rng.random(n) < 0.2] = base + 86_400_000  # same-ts events
    order = np.lexsort((ts, code))
    code, ts = code[order], ts[order].astype(np.int64)
    v = np.round(rng.uniform(-50, 50, size=n), 2)
    v[rng.random(n) < 0.2] = np.nan
    cat = rng.choice(np.array(["a", "b", "c", None], dtype=object), size=n)
    m = np.empty(n, dtype=object)
    for i in range(n):
        if rng.random() < 0.15:
            m[i] = None
        else:
            m[i] = {k: (None if rng.random() < 0.2 else float(rng.integers(0, 9)))
                    for k in rng.choice(["x", "y", "z"], size=rng.integers(0, 3))}
    return code, ts, {"v": v, "cat": cat, "m": m}


def _naive_key(ets, evals, qts):
    """naive_aggregate for one key; the map-input part is the bucketed
    aggregation of its flattened (ts, map key, value) triples."""
    plain = [p for p in BUCKET_PARTS if p.input_column != "m"]
    want = naive_aggregate(ets, evals, qts, plain)
    flat = [(t, k, v) for t, d in zip(ets, evals["m"]) if d for k, v in d.items()]
    for p in BUCKET_PARTS:
        if p.input_column == "m":
            sub = AggregationPart("mv", p.operation, dict(p.arg_map), p.window, "mk")
            got = naive_aggregate(
                np.array([t for t, _, _ in flat], dtype=np.int64),
                {"mv": np.array([v for _, _, v in flat], dtype=object),
                 "mk": np.array([k for _, k, _ in flat], dtype=object)},
                qts, [sub],
            )
            want[p.output_name] = got[sub.output_name]
    return want


def _same(f, s):
    if isinstance(s, dict):
        return (isinstance(f, dict) and f.keys() == s.keys()
                and all(_close(f[k], s[k]) for k in s))
    if isinstance(s, list):
        return [round(float(x), 6) for x in f] == [round(float(x), 6) for x in s]
    return _close(f, s)


def _check_by_key(qcode, qts, ecode, ets, evals, monkeypatch,
                  parts=BUCKET_PARTS, types=BUCKET_TYPES, naive=_naive_key):
    """Run `_sawtooth_by_key` over one bucket and compare every query key
    against `naive(key events, key queries)`. Also pins the call shape:
    one bucket-level `_sawtooth_plain` call for all plain parts, and the
    per-key `sawtooth_aggregate` loop only for bucketed and map-input
    parts."""
    from chronon_spark.operators import sawtooth as st
    from chronon_spark.operators import temporal_join as tj

    plain_calls, key_calls = [], []
    real_plain = st._sawtooth_plain

    def counting_plain(event_vals, seg_lo, ps, bounds):
        plain_calls.append(([p.output_name for p in ps], len(bounds[0][0])))
        return real_plain(event_vals, seg_lo, ps, bounds)

    def counting_agg(*a, **kw):
        key_calls.append([p.output_name for p in a[3]])
        return sawtooth_aggregate(*a, **kw)

    monkeypatch.setattr(st, "_sawtooth_plain", counting_plain)
    monkeypatch.setattr(tj, "sawtooth_aggregate", counting_agg)
    _, array_inputs, map_inputs, fields = tj._kernel_columns(types, parts)
    bufs = tj._sawtooth_by_key(qcode, qts, ecode, ets, evals, parts,
                               fields, array_inputs, map_inputs)
    plain = [p.output_name for p in parts
             if p.bucket is None and p.input_column not in map_inputs]
    grouped = [p.output_name for p in parts
               if p.bucket is not None or p.input_column in map_inputs]
    # one bucket-level call answers every query of every key
    assert [c for c in plain_calls if c[0] == plain] == [(plain, len(qts))]
    # the per-key loop runs once per query key, for the grouped parts only
    assert key_calls == [grouped] * (len(np.unique(qcode)) if grouped else 0)
    for c in np.unique(qcode):
        qi = np.flatnonzero(qcode == c)
        ei = np.flatnonzero(ecode == c)
        want = naive(ets[ei], {k: v[ei] for k, v in evals.items()}, qts[qi])
        for (name, _), p in zip(fields, parts):
            for j, i in enumerate(qi):
                assert _same(bufs[name][i], want[p.output_name][j]), (
                    f"key {c} {name} T={qts[i]}: {bufs[name][i]!r} "
                    f"!= {want[p.output_name][j]!r}")


def _check_plain(qcode, qts, ecode, ets, evals, parts, types, monkeypatch):
    """_check_by_key for plain parts against naive_aggregate."""
    arrays = {c for c, t in types.items() if t.startswith("array<")}
    order = np.lexsort((qts, qcode))
    _check_by_key(
        qcode[order], qts[order], ecode, ets, evals, monkeypatch, parts, types,
        lambda e, v, q: naive_aggregate(e, v, q, parts, arrays))


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_by_key_join_shape_vs_naive(seed, monkeypatch):
    """Separate query arrays: query keys with no events, event keys with
    no queries, queries tied to event ts, queries before every event."""
    rng = np.random.default_rng(seed)
    ecode, ets, evals = _multikey_bucket(rng)
    qcode = rng.integers(0, 18, size=120)  # codes >= 14 have no events
    qts = 1704067200000 + rng.integers(-86_400_000, 11 * 86_400_000, size=120)
    tie = rng.choice(len(ets), size=min(20, len(ets)), replace=False)
    qcode = np.concatenate([qcode, ecode[tie]])
    qts = np.concatenate([qts, ets[tie]]).astype(np.int64)
    order = np.lexsort((qts, qcode))
    _check_by_key(qcode[order], qts[order], ecode, ets, evals, monkeypatch)


@pytest.mark.parametrize("seed", [4, 5, 6])
def test_by_key_self_shape_vs_naive(seed, monkeypatch):
    """The self kernel's shape: the queries are a ts-masked subset of the
    events themselves, so every query ties an event at its own ts."""
    rng = np.random.default_rng(seed)
    ecode, ets, evals = _multikey_bucket(rng)
    lo = 1704067200000 + 3 * 86_400_000
    qsel = np.flatnonzero((ets >= lo) & (ets < lo + 4 * 86_400_000))
    _check_by_key(ecode[qsel], ets[qsel], ecode, ets, evals, monkeypatch)


def test_by_key_empty_query_set():
    """A self bucket with no rows in the query range returns empty buffers."""
    from chronon_spark.operators.temporal_join import _kernel_columns, _sawtooth_by_key

    ecode, ets, evals = _multikey_bucket(np.random.default_rng(7))
    _, array_inputs, map_inputs, fields = _kernel_columns(BUCKET_TYPES, BUCKET_PARTS)
    empty = np.empty(0, dtype=np.int64)
    bufs = _sawtooth_by_key(empty, empty, ecode, ets, evals, BUCKET_PARTS,
                            fields, array_inputs, map_inputs)
    assert sorted(bufs) == sorted(n for n, _ in fields)
    assert all(len(b) == 0 for b in bufs.values())


MOMENT_PARTS = [
    AggregationPart("v", op, window=w)
    for op in (Operation.SUM, Operation.AVERAGE, Operation.VARIANCE,
               Operation.SKEW, Operation.KURTOSIS)
    for w in (None, Window(2, TimeUnit.DAYS), Window(3, TimeUnit.HOURS))
]


def test_by_key_moments_after_large_key(monkeypatch):
    """Bucket-level moment prefixes restart at each key and centre on that
    key's own mean. Key 0 has a long history of large, widely spread
    values; keys 1 and 2 follow with a few small values, asked over short
    windows. Prefix sums carried over from key 0 would swamp them."""
    rng = np.random.default_rng(11)
    base = 1704067200000
    n0 = 1500
    ets0 = np.sort(base + rng.integers(0, 20 * 86_400_000, size=n0))
    v0 = 1e9 + rng.uniform(-1e6, 1e6, size=n0)
    ets1 = np.sort(base + 19 * 86_400_000 + rng.integers(0, 7_200_000, size=7))
    v1 = rng.uniform(0, 1, size=7)
    ets2 = np.sort(base + 19 * 86_400_000 + rng.integers(0, 7_200_000, size=5))
    v2 = 1e-3 * rng.uniform(0, 1, size=5)
    ecode = np.repeat(np.arange(3, dtype=np.int64), [n0, 7, 5])
    ets = np.concatenate([ets0, ets1, ets2]).astype(np.int64)
    evals = {"v": np.concatenate([v0, v1, v2])}
    qts = np.concatenate([rng.choice(ets0, 10), ets1, ets2 + 1]).astype(np.int64)
    qcode = np.repeat(np.arange(3, dtype=np.int64), [10, 7, 5])
    _check_plain(qcode, qts, ecode, ets, evals, MOMENT_PARTS, {"v": "double"},
                 monkeypatch)


def test_by_key_array_inputs_at_bucket_level(monkeypatch):
    """array<double> parts flatten once per bucket: lists of any length,
    None and empty lists, None elements, and keys whose lists are all
    empty."""
    rng = np.random.default_rng(12)
    base = 1704067200000
    sizes = [5, 0, 30, 3, 1, 12]
    ecode = np.repeat(np.arange(len(sizes), dtype=np.int64), sizes)
    n = len(ecode)
    ets = base + rng.integers(0, 5 * 86_400_000, size=n)
    order = np.lexsort((ets, ecode))
    ecode, ets = ecode[order], ets[order].astype(np.int64)
    xs = np.empty(n, dtype=object)
    for i in range(n):
        if ecode[i] == 3 or rng.random() < 0.1:
            xs[i] = None if rng.random() < 0.5 else []
        else:
            xs[i] = [None if rng.random() < 0.1 else float(rng.integers(-9, 9))
                     for _ in range(rng.integers(0, 5))]
    parts = [
        AggregationPart("xs", op, arg_map={"k": 3}, window=w)
        for op in (Operation.COUNT, Operation.SUM, Operation.VARIANCE,
                   Operation.MAX, Operation.FIRST, Operation.LAST_K,
                   Operation.UNIQUE_COUNT, Operation.APPROX_PERCENTILE)
        for w in (None, Window(2, TimeUnit.DAYS))
    ]
    qcode = rng.integers(0, len(sizes) + 1, size=80)
    qts = (base + rng.integers(-86_400_000, 6 * 86_400_000, size=80)).astype(np.int64)
    _check_plain(qcode, qts, ecode, ets, {"xs": xs}, parts,
                 {"xs": "array<double>"}, monkeypatch)


def test_by_key_tails_before_first_event(monkeypatch):
    """Windows whose tail reaches back past the key's first event stop at
    that event: the previous key's events, inside the time range, never
    leak in."""
    base = 1704067200000
    day = 86_400_000
    ets0 = base + np.arange(0, 10 * day, day // 4)
    ets1 = base + 8 * day + np.arange(0, 2 * day, day // 3)
    ets2 = base + 2 * day + np.arange(0, day, day // 5)
    ecode = np.repeat(np.arange(3, dtype=np.int64), [len(ets0), len(ets1), len(ets2)])
    ets = np.concatenate([ets0, ets1, ets2]).astype(np.int64)
    rng = np.random.default_rng(13)
    evals = {"v": np.round(rng.uniform(-5, 5, size=len(ets)), 1),
             "cat": rng.choice(np.array(["a", "b", None], dtype=object), len(ets))}
    parts = [
        AggregationPart(c, op, arg_map={"k": 4}, window=w)
        for c, op in (("v", Operation.COUNT), ("v", Operation.SUM),
                      ("v", Operation.MIN), ("v", Operation.FIRST),
                      ("v", Operation.FIRST_K), ("v", Operation.UNIQUE_COUNT),
                      ("v", Operation.APPROX_PERCENTILE), ("v", Operation.KURTOSIS),
                      ("cat", Operation.HISTOGRAM))
        for w in (Window(30, TimeUnit.DAYS), Window(2, TimeUnit.DAYS))
    ]
    qcode = np.repeat(np.arange(3, dtype=np.int64), 6)
    qts = np.concatenate([ets0[[0, 1, 5, 20, 30, 39]], ets1[[0, 1, 2, 3, 4, 5]],
                          ets2[[0, 1, 2, 3, 4, 4]] + 1]).astype(np.int64)
    _check_plain(qcode, qts, ecode, ets, evals, parts,
                 {"v": "double", "cat": "string"}, monkeypatch)


def test_by_key_wide_ts_range(monkeypatch):
    """ts spread over most of the int64 range, with many keys: a packed
    (key, raw ts) sort key would overflow; the rank packing must not."""
    rng = np.random.default_rng(14)
    lim = 1 << 61
    ecode = np.repeat(np.arange(40, dtype=np.int64), rng.integers(0, 6, size=40))
    n = len(ecode)
    ets = rng.integers(-lim, lim, size=n)
    ets[::7] = rng.integers(-1000 * 86_400_000, 1000 * 86_400_000, size=len(ets[::7]))
    order = np.lexsort((ets, ecode))
    ecode, ets = ecode[order], ets[order].astype(np.int64)
    evals = {"v": np.round(rng.uniform(-5, 5, size=n), 1)}
    parts = [AggregationPart("v", op, window=w)
             for op in (Operation.COUNT, Operation.SUM, Operation.MAX, Operation.LAST)
             for w in (None, Window(3, TimeUnit.HOURS), Window(30, TimeUnit.DAYS))]
    pick = rng.choice(n, size=40)
    qcode = np.concatenate([ecode[pick], rng.integers(0, 42, size=40)])
    qts = np.concatenate([ets[pick] + rng.integers(0, 3_600_000, size=40),
                          rng.integers(-lim, lim, size=40)]).astype(np.int64)
    _check_plain(qcode, qts, ecode, ets, evals, parts, {"v": "double"}, monkeypatch)
