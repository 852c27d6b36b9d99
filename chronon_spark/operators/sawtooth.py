"""Vectorized per-key sawtooth kernel for point-in-time (as-of) windows.

Computes, for each query timestamp T, windowed aggregates over events with
  ts in [ floor((T - window) / tailHop) * tailHop , T ]      (windowed)
  ts in ( -inf, T ]                                          (unbounded)

i.e. the reference's sawtooth boundary semantics: the window tail is
rounded DOWN to the hop boundary (effective length sawtooths between w and
w + tailHop) and the head is INCLUSIVE of events at exactly T.
reference: SawtoothAggregator.scala:85-161 (computeWindows/cumulate),
boundary inclusion :129-137 and SawtoothUdfSpec.scala:256-259; hop sizes
Resolution.scala:38-48.

The reference walks per-row mutable IRs over RDDs; this kernel instead runs
inside Arrow batches (applyInPandas / cogroup.applyInPandas) on
time-sorted numpy arrays:
  * sum/count/moments  -> O(n) nan-prefix power sums + searchsorted
  * min/max            -> O(n log n) sparse-table RMQ, O(1) per query
  * first/last         -> index arithmetic over non-null positions
  * k-ops / distinct   -> per-query slices (bounded by window)
All windows share the same sorted arrays and searchsorted boundaries —
the columnar analog of the reference's hop sharing / HopRangeCache
(SawtoothAggregator.scala:248-306).

A brute-force `naive_aggregate` oracle (the analog of the reference's
NaiveAggregator, aggregator/src/test/.../NaiveAggregator.scala:26-57)
lives here too and is used by the pytest suite.
"""

from __future__ import annotations

from collections import Counter
from typing import Any, Optional

import numpy as np

from chronon_spark.api import AggregationPart, Operation, sawtooth_hop_millis


def _range_kth(vals_f: np.ndarray, start: np.ndarray, end: np.ndarray,
               k: np.ndarray) -> np.ndarray:
    """Exact k-th smallest (0-indexed, NaNs sort last) for MANY [s, e)
    ranges over one fixed sequence — a wavelet tree over value codes.

    Build: one stable argsort per code-bit level, O(n log n · log V) at
    C speed. Queries: every (range, k) pair walks the levels TOGETHER in
    one vectorized pass per level — O((n + q) log V) total, replacing the
    per-query `np.sort` slice that made temporal APPROX_PERCENTILE
    O(q · w log w) (the one super-linear kernel left after round 3).
    Exactness is the contract: the reference pins approx percentiles to
    exact order statistics in tests (GroupByTest.scala:103-117), so a
    lossy digest would break the oracle; the wavelet tree gives digest
    speed without giving up the exact quantile.

    Returns float64 with NaN where the range holds no usable value.
    """
    return _WaveletKth(vals_f).query(start, end, k)


class _WaveletKth:
    """Build/query split of the range-kth wavelet tree so the build
    (nbits stable argsorts + np.unique, the expensive half) is cached per
    column across a GroupBy's windows — one Aggregation typically runs
    [1d, 7d, 30d, lifetime] parts over the SAME values, and the build
    depends only on those values."""

    def __init__(self, vals_f: np.ndarray) -> None:
        self.n = len(vals_f)
        nan_mask = np.isnan(vals_f)
        self.uniq = np.unique(vals_f[~nan_mask])
        if len(self.uniq) == 0 or self.n == 0:
            self.levels: list[np.ndarray] = []
            self.nbits = 0
            return
        codes = np.searchsorted(
            self.uniq, np.where(nan_mask, self.uniq[0], vals_f)
        ).astype(np.int64)
        codes[nan_mask] = len(self.uniq)  # NaN -> top code, never reached
        self.nbits = max(1, int(len(self.uniq)).bit_length())
        self.levels = []
        for level in range(self.nbits):
            shift = self.nbits - 1 - level
            # level-l sequence == codes stable-sorted by their top-l bits
            perm = (
                np.argsort(codes >> (shift + 1), kind="stable")
                if level else np.arange(self.n)
            )
            bits = (codes[perm] >> shift) & 1
            self.levels.append(np.concatenate(([0], np.cumsum(bits == 0))))

    def query(self, start: np.ndarray, end: np.ndarray,
              k: np.ndarray) -> np.ndarray:
        out = np.full(len(start), np.nan)
        if not self.levels:
            return out
        s = start.astype(np.int64).copy()
        e = end.astype(np.int64).copy()
        kk = k.astype(np.int64).copy()
        ns = np.zeros_like(s)
        ne = np.full_like(s, self.n)
        ans = np.zeros_like(s)
        for zeros_pfx in self.levels:
            z_node = zeros_pfx[ne] - zeros_pfx[ns]
            z_s = zeros_pfx[s] - zeros_pfx[ns]
            z_e = zeros_pfx[e] - zeros_pfx[ns]
            cnt_left = z_e - z_s
            go_left = kk < cnt_left
            ns_right = ns + z_node
            s_new = np.where(go_left, ns + z_s, ns_right + (s - ns - z_s))
            e_new = np.where(go_left, ns + z_e, ns_right + (e - ns - z_e))
            ne = np.where(go_left, ns + z_node, ne)
            ns = np.where(go_left, ns, ns_right)
            s, e = s_new, e_new
            kk = np.where(go_left, kk, kk - cnt_left)
            ans = (ans << 1) | (~go_left).astype(np.int64)
        sel = (ans >= 0) & (ans < len(self.uniq)) & (k >= 0)
        out[sel] = self.uniq[ans[sel]]
        return out


def window_bounds(
    event_ts: np.ndarray, query_ts: np.ndarray, part: AggregationPart
) -> tuple[np.ndarray, np.ndarray]:
    """(start_idx, end_idx) half-open event index ranges per query."""
    end = np.searchsorted(event_ts, query_ts, side="right")  # head: ts <= T inclusive
    if part.window is None:
        start = np.zeros_like(end)
    else:
        hop = sawtooth_hop_millis(part.window)
        tail_ts = ((query_ts - part.window.millis) // hop) * hop
        start = np.searchsorted(event_ts, tail_ts, side="left")
    return start, end


class _RangeMinMax:
    """Sparse-table RMQ over a float array (NaN = missing)."""

    def __init__(self, vals: np.ndarray, is_max: bool):
        self.is_max = is_max
        fill = -np.inf if is_max else np.inf
        base = np.where(np.isnan(vals), fill, vals.astype(np.float64, copy=False))
        self.tables = [base]
        n = len(base)
        size = 1
        while 2 * size <= n:
            prev = self.tables[-1]
            if is_max:
                self.tables.append(np.maximum(prev[: n - 2 * size + 1], prev[size : n - size + 1]))
            else:
                self.tables.append(np.minimum(prev[: n - 2 * size + 1], prev[size : n - size + 1]))
            size *= 2

    def query(self, start: np.ndarray, end: np.ndarray) -> np.ndarray:
        """range min/max over [start, end); empty -> NaN."""
        out = np.full(len(start), np.nan)
        length = end - start
        mask = length > 0
        if not mask.any():
            return out
        s, e, ln = start[mask], end[mask], length[mask]
        k = np.floor(np.log2(ln)).astype(np.int64)
        size = 1 << k
        t = np.empty(len(s))
        for kk in np.unique(k):
            m = k == kk
            tab = self.tables[kk]
            a = tab[s[m]]
            b = tab[e[m] - (size[m])]
            t[m] = np.maximum(a, b) if self.is_max else np.minimum(a, b)
        t[np.isinf(t)] = np.nan
        out[mask] = t
        return out


def _prefix_powers(vals: np.ndarray, max_power: int) -> tuple[float, list[np.ndarray]]:
    """(shift, prefixes) where prefixes[p][i] = sum of (vals[:i]-shift)**p
    ignoring NaN; prefixes[p][0] = 0. Values are centered on their key-level
    mean before accumulation: central moments are shift-invariant, and the
    shift kills the catastrophic cancellation that raw prefix sums suffer
    when subtracting window boundaries (long history, short window)."""
    v = vals.astype(np.float64, copy=False)
    nn = ~np.isnan(v)
    shift = float(v[nn].mean()) if nn.any() else 0.0
    out = [np.concatenate(([0], np.cumsum(nn)))]  # power 0 = count
    filled = np.where(nn, v - shift, 0.0)
    acc = np.ones_like(filled)
    for _ in range(max_power):
        acc = acc * filled
        out.append(np.concatenate(([0.0], np.cumsum(acc))))
    return shift, out


_MOMENT_POWER = {
    Operation.SUM: 1,
    Operation.AVERAGE: 1,
    Operation.VARIANCE: 2,
    Operation.SKEW: 3,
    Operation.KURTOSIS: 4,
}


def sawtooth_aggregate(
    event_ts: np.ndarray,
    event_vals: dict[str, np.ndarray],
    query_ts: np.ndarray,
    parts: list[AggregationPart],
    array_inputs: Optional[set[str]] = None,
    map_inputs: Optional[set[str]] = None,
) -> dict[str, np.ndarray]:
    """Per-key kernel. `event_ts` MUST be sorted ascending; `event_vals`
    maps input column -> float/object array aligned with event_ts (NaN/None
    = null). Returns output_name -> array aligned with query_ts (any order).

    Bucketed parts (part.bucket set) produce dict outputs {bucket: value}
    (reference: BucketedColumnAggregator). Columns named in `array_inputs`
    hold lists and are auto-exploded: each element aggregates individually
    at its row's timestamp (reference: VectorDispatcher auto-explode,
    ColumnAggregator.scala:208-217). Columns named in `map_inputs` hold
    dicts and aggregate per map-key into map outputs (MapColumnAggregator).
    """
    map_inputs = map_inputs or set()
    plain = [p for p in parts
             if p.bucket is None and p.input_column not in map_inputs]
    bucketed = [p for p in parts
                if p.bucket is not None and p.input_column not in map_inputs]
    mapped = [p for p in parts if p.input_column in map_inputs]
    out = _sawtooth_plain(event_ts, event_vals, query_ts, plain, array_inputs or set())
    for part in bucketed:
        out[part.output_name] = _sawtooth_bucketed(
            event_ts, event_vals, query_ts, part, array_inputs or set()
        )
    for part in mapped:
        out[part.output_name] = _sawtooth_mapcol(
            event_ts, event_vals, query_ts, part
        )
    return out


def _fill_maps(maps: list[dict], b: str, r, op, nq: int) -> None:
    """Insert one bucket's per-query results into the output dicts,
    skipping empty/absent entries. Presence tests are vectorized when the
    result is numeric."""
    # every count-shaped op returns 0 (not NaN/None) for an empty window,
    # so 0 means "no in-window events for this bucket" — emitting it would
    # leak stale buckets/map-keys from history into later queries' maps
    count_like = (Operation.COUNT, Operation.UNIQUE_COUNT,
                  Operation.APPROX_UNIQUE_COUNT)
    if isinstance(r, np.ndarray) and r.dtype != object:
        if op in count_like:
            present = r > 0
        else:
            present = ~np.isnan(r.astype(np.float64, copy=False))
        for i in np.flatnonzero(present):
            maps[i][b] = r[i]
        return
    for i in range(nq):
        v = r[i]
        if v is None:
            continue
        if isinstance(v, float) and v != v:
            continue
        if op in count_like and int(v) == 0:
            continue
        if isinstance(v, (list, dict)) and not v:
            # empty list (k-ops) or empty dict (HISTOGRAM /
            # APPROX_FREQUENT_K / APPROX_HEAVY_HITTERS_K): no events
            continue
        maps[i][b] = v


def _sawtooth_mapcol(event_ts, event_vals, query_ts, part):
    """map<string, V> input: aggregate each map key's values independently
    -> map output (reference: MapColumnAggregator).

    Explodes the dicts ONCE into (ts, key, value) triples and factorizes
    the keys — O(entries log entries) total instead of O(|keys| x
    n_events) per-key scans."""
    import pandas as pd

    ts_list, key_list, val_list = [], [], []
    for t, d in zip(event_ts.tolist(), event_vals[part.input_column]):
        if d is None:
            continue
        for k, v in d.items():
            ts_list.append(t)
            key_list.append(k)
            val_list.append(v)
    codes, uniq = pd.factorize(np.array(key_list, dtype=object))
    return _sawtooth_grouped(
        np.array(ts_list, dtype=np.int64), codes, uniq,
        np.array(val_list, dtype=object), query_ts, part, set(),
    )


def _sawtooth_bucketed(event_ts, event_vals, query_ts, part, array_inputs):
    """Per-bucket sub-aggregation -> map output. Bucket column must be
    string (reference: RowAggregator.scala:42-48), so bucket values are
    stringified before they are factorized."""
    import pandas as pd

    bstr = np.array(
        [None if b is None or b != b else str(b)
         for b in event_vals[part.bucket].tolist()],
        dtype=object,
    )
    codes, uniq = pd.factorize(bstr)  # nulls -> -1
    return _sawtooth_grouped(
        event_ts, codes, uniq, event_vals[part.input_column], query_ts, part,
        array_inputs,
    )


def _sawtooth_grouped(ts, codes, uniq, vals, query_ts, part, array_inputs):
    """Shared tail of the bucketed and map-input parts: aggregate each
    group's events (code c, labelled uniq[c]) separately and fill the
    per-query output maps {label: value}. `ts` is time-sorted; a stable
    argsort segments the codes, so events stay time-sorted inside each
    segment — O(n log n) total instead of O(|groups| x n_events) boolean
    masks. Code -1 (null bucket) is skipped."""
    nq = len(query_ts)
    sub = AggregationPart(
        part.input_column, part.operation, dict(part.arg_map), part.window, None
    )
    maps: list[dict] = [dict() for _ in range(nq)]
    order = np.argsort(codes, kind="stable")
    oc = codes[order]
    first_nn = int(np.searchsorted(oc, 0, side="left"))  # skip the -1 block
    order, oc = order[first_nn:], oc[first_nn:]
    if len(oc):
        bounds = np.flatnonzero(np.diff(oc, prepend=oc[0] - 1))
        bounds = np.append(bounds, len(oc))
        for seg in range(len(bounds) - 1):
            sel = order[bounds[seg]:bounds[seg + 1]]
            r = _sawtooth_plain(
                ts[sel], {part.input_column: vals[sel]}, query_ts, [sub],
                array_inputs,
            )[sub.output_name]
            _fill_maps(maps, uniq[oc[bounds[seg]]], r, part.operation, nq)
    res = np.full(nq, None, dtype=object)
    res[:] = maps
    return res


def _utk_struct_index(vals: np.ndarray):
    """Precompute for the UNIQUE_TOP_K struct variant: factorized unique_id
    codes and ORDER RANKS for both fields (ranks order by the actual value,
    so string sort keys work), over elements whose struct, sort_key and
    unique_id are all non-null (reference UniqueOrderByLimit skips nulls).
    Returns (valid_idx, ucodes, sk_rank, uid_rank_of_code, uids, sks)."""
    import pandas as pd

    ok = np.array(
        [v is not None and v.get("sort_key") is not None
         and v.get("unique_id") is not None for v in vals],
        dtype=bool,
    )
    vv = np.flatnonzero(ok)
    uids = np.array([vals[j]["unique_id"] for j in vv], dtype=object)
    sks = np.array([vals[j]["sort_key"] for j in vv], dtype=object)
    ucodes, uuniq = pd.factorize(uids, use_na_sentinel=False)
    uid_rank_of_code = np.empty(max(len(uuniq), 1), dtype=np.int64)
    uid_rank_of_code[np.argsort(np.asarray(uuniq, dtype=object), kind="stable")] = (
        np.arange(len(uuniq)) if len(uuniq) else np.empty(0, dtype=np.int64)
    )
    skcodes, skuniq = pd.factorize(sks, use_na_sentinel=False)
    sk_rank_of_code = np.empty(max(len(skuniq), 1), dtype=np.int64)
    sk_rank_of_code[np.argsort(np.asarray(skuniq, dtype=object), kind="stable")] = (
        np.arange(len(skuniq)) if len(skuniq) else np.empty(0, dtype=np.int64)
    )
    sk_rank = sk_rank_of_code[skcodes] if len(sks) else np.empty(0, dtype=np.int64)
    return vv, ucodes, sk_rank, uid_rank_of_code, uids, sks


def _utk_struct_topk(s, e, ucodes, sk_rank, uid_rank_of_code, uids, sks, k) -> list:
    """One query's UNIQUE_TOP_K struct answer from the precomputed index:
    per-uid max sort_key via one lexsort + group-last, then the k best by
    (sort_key desc, unique_id asc) — no per-element Python."""
    if e <= s:
        return []
    c = ucodes[s:e]
    r = sk_rank[s:e]
    o = np.lexsort((r, c))
    cs = c[o]
    last = np.flatnonzero(np.concatenate([cs[1:] != cs[:-1], [True]]))
    grp = o[last]                       # rep element per uid (max sort_key)
    sel = np.lexsort((uid_rank_of_code[cs[last]], -r[grp]))[:k]
    top = grp[sel]
    return [{"sort_key": sks[s + j], "unique_id": uids[s + j]} for j in top]


def _prev_occurrence(vals: np.ndarray) -> np.ndarray:
    """prev[j] = index of the previous occurrence of vals[j] (-1 if none);
    null positions get a +inf sentinel so range counts skip them. Built
    once per column with factorize + one stable argsort — the machinery
    behind O(1)-ish distinct-in-range queries."""
    import pandas as pd

    n = len(vals)
    prev = np.full(n, -1, dtype=np.int64)
    nnmask = _notnull_mask(vals)
    idx = np.flatnonzero(nnmask)
    if len(idx):
        codes, _ = pd.factorize(vals[idx])
        order = np.argsort(codes, kind="stable")
        oc = codes[order]
        same = oc[1:] == oc[:-1]
        prev_nn = np.full(len(idx), -1, dtype=np.int64)
        prev_nn[order[1:][same]] = idx[order[:-1][same]]
        prev[idx] = prev_nn
    prev[~nnmask] = np.iinfo(np.int64).max
    return prev


def _flatten_arrays(event_ts: np.ndarray, vals: np.ndarray):
    """Explode list-valued events: repeat ts per element (ts order is
    preserved, so the flattened arrays stay time-sorted)."""
    lens = np.array([0 if v is None else len(v) for v in vals], dtype=np.int64)
    flat_ts = np.repeat(event_ts, lens)
    flat_vals = np.array(
        [x for v in vals if v is not None for x in v], dtype=object
    )
    return flat_ts, flat_vals


def _sawtooth_plain(
    event_ts: np.ndarray,
    event_vals: dict[str, np.ndarray],
    query_ts: np.ndarray,
    parts: list[AggregationPart],
    array_inputs: set[str],
) -> dict[str, np.ndarray]:
    out: dict[str, Any] = {}
    nq = len(query_ts)
    flat_cache: dict[str, tuple] = {}
    # caches shared across parts touching the same input column
    prefix_cache: dict[tuple[str, int], list[np.ndarray]] = {}
    wavelet_cache: dict[str, _WaveletKth] = {}
    rmm_cache: dict[tuple[str, bool], _RangeMinMax] = {}
    nn_idx_cache: dict[str, np.ndarray] = {}

    for part in parts:
        col = part.input_column
        if col in array_inputs:
            if col not in flat_cache:
                flat_cache[col] = _flatten_arrays(event_ts, event_vals[col])
            ets_c, vals = flat_cache[col]
        else:
            ets_c, vals = event_ts, event_vals[col]
        start, end = window_bounds(ets_c, query_ts, part)
        op = part.operation

        if op == Operation.APPROX_PERCENTILE:
            # exact at batch scale (the reference pins approx ops to exact
            # values in tests, GroupByTest.scala:103-117): index
            # max(1, ceil(p*n)) - 1 of the sorted window slice, answered
            # for all queries at once by the wavelet-tree range-kth walk
            pct = part.arg_map.get("percentiles", [0.5])
            if isinstance(pct, (int, float)):
                pct = [pct]
            fv = _as_float(vals)
            nn_pfx = np.concatenate(([0], np.cumsum(~np.isnan(fv))))
            m = nn_pfx[end] - nn_pfx[start]  # usable values per window
            npct = len(pct)
            m_rep = np.repeat(m, npct)
            p_tile = np.tile(np.asarray(pct, dtype=np.float64), nq)
            ks = np.maximum(1, np.ceil(p_tile * m_rep)).astype(np.int64) - 1
            ks = np.where(m_rep > 0, np.minimum(ks, m_rep - 1), -1)
            if col not in wavelet_cache:
                wavelet_cache[col] = _WaveletKth(fv)
            flat = wavelet_cache[col].query(
                np.repeat(start, npct), np.repeat(end, npct), ks
            ).reshape(nq, npct)
            res = np.full(nq, None, dtype=object)
            for i in np.flatnonzero(m > 0):
                res[i] = [float(x) for x in flat[i]]
            out[part.output_name] = res

        elif op in (Operation.COUNT, Operation.UNIQUE_COUNT,
                    Operation.APPROX_UNIQUE_COUNT):
            if op == Operation.COUNT:
                ckey = ("__count__", col)
                if ckey not in nn_idx_cache:
                    nn_idx_cache[ckey] = np.concatenate(
                        ([0], np.cumsum(_notnull_mask(vals)))
                    )
                p0 = nn_idx_cache[ckey]
                out[part.output_name] = (p0[end] - p0[start]).astype(np.int64)
            else:
                # distinct-in-range via the previous-occurrence trick:
                # distinct(s, e) = #{j in [s, e): prev[j] < s} — prev is
                # computed ONCE per column (stable argsort chain), each
                # query is then a C-speed slice count instead of a per-row
                # Python set/unique pass
                pkey = ("__prev__", col, id(vals))
                if pkey not in nn_idx_cache:
                    nn_idx_cache[pkey] = _prev_occurrence(vals)
                prev = nn_idx_cache[pkey]
                res = np.zeros(nq, dtype=np.int64)
                for i in range(nq):
                    s, e = start[i], end[i]
                    if e > s:
                        res[i] = int(np.count_nonzero(prev[s:e] < s))
                out[part.output_name] = res

        elif op in _MOMENT_POWER:
            need = _MOMENT_POWER[op]
            key = (col, need)
            if key not in prefix_cache:
                prefix_cache[key] = _prefix_powers(_as_float(vals), need)
            shift, p = prefix_cache[key]
            n = p[0][end] - p[0][start]
            nn = np.maximum(n, 1).astype(np.float64)
            # s[i] are power sums of the SHIFTED values; central moments are
            # shift-invariant, raw sum/mean add the shift back.
            s = [None] + [p[i][end] - p[i][start] for i in range(1, need + 1)]
            with np.errstate(invalid="ignore", divide="ignore"):
                if op == Operation.SUM:
                    res = np.where(n > 0, s[1] + shift * n, np.nan)
                elif op == Operation.AVERAGE:
                    res = np.where(n > 0, shift + s[1] / nn, np.nan)
                elif op == Operation.VARIANCE:
                    mu = s[1] / nn
                    res = np.where(n > 0, np.maximum(s[2] / nn - mu**2, 0.0), np.nan)
                elif op == Operation.SKEW:
                    mu = s[1] / nn
                    m2 = np.maximum(s[2] / nn - mu**2, 0.0)
                    m3 = s[3] / nn - 3 * mu * (s[2] / nn) + 2 * mu**3
                    res = np.where((n < 3) | (m2 <= 0), np.nan, m3 / np.power(np.maximum(m2, 1e-300), 1.5))
                else:  # KURTOSIS (excess)
                    mu = s[1] / nn
                    m2 = np.maximum(s[2] / nn - mu**2, 0.0)
                    m4 = s[4] / nn - 4 * mu * (s[3] / nn) + 6 * mu**2 * (s[2] / nn) - 3 * mu**4
                    res = np.where((n < 4) | (m2 <= 0), np.nan, m4 / np.maximum(m2, 1e-300) ** 2 - 3.0)
            out[part.output_name] = res

        elif op in (Operation.MIN, Operation.MAX):
            key = (col, op == Operation.MAX)
            if key not in rmm_cache:
                rmm_cache[key] = _RangeMinMax(_as_float(vals), op == Operation.MAX)
            out[part.output_name] = rmm_cache[key].query(start, end)

        elif op in (Operation.FIRST, Operation.LAST):
            ckey = (col, id(vals))
            if ckey not in nn_idx_cache:
                nn_idx_cache[ckey] = np.flatnonzero(_notnull_mask(vals))
            nn = nn_idx_cache[ckey]
            # float inputs keep the vectorized NaN-null path (no object
            # boxing); others fall back to object arrays
            is_float = vals.dtype != object
            res = (
                np.full(nq, np.nan) if is_float else np.full(nq, None, dtype=object)
            )
            if len(nn):
                if op == Operation.FIRST:
                    pos = np.searchsorted(nn, start, side="left")
                    ok = (pos < len(nn)) & (nn[np.minimum(pos, len(nn) - 1)] < end)
                    idx = nn[np.minimum(pos, len(nn) - 1)]
                else:
                    pos = np.searchsorted(nn, end, side="left") - 1
                    ok = (pos >= 0) & (nn[np.maximum(pos, 0)] >= start)
                    idx = nn[np.maximum(pos, 0)]
                res[ok] = vals[idx[ok]]
            out[part.output_name] = res

        elif op in (Operation.FIRST_K, Operation.LAST_K, Operation.TOP_K, Operation.BOTTOM_K,
                    Operation.UNIQUE_TOP_K):
            k = int(part.arg_map.get("k", 10))
            # compact the column to its non-null values ONCE; every query
            # then works on [s_pos, e_pos) of the compacted array — no
            # per-query mask materialization
            ckey = ("__nnvals__", col, id(vals))
            if ckey not in nn_idx_cache:
                nn = np.flatnonzero(_notnull_mask(vals))
                nn_idx_cache[ckey] = (nn, vals[nn])
            nn, nn_vals = nn_idx_cache[ckey]
            s_pos = np.searchsorted(nn, start, side="left")
            e_pos = np.searchsorted(nn, end, side="left")
            counts = np.minimum(k, e_pos - s_pos)
            res = np.full(nq, None, dtype=object)
            if op in (Operation.FIRST_K, Operation.LAST_K):
                # fully vectorized gather: (nq, k) index matrix + clip,
                # then one C-level tolist per query
                offs = np.arange(1, k + 1, dtype=np.int64)
                if op == Operation.LAST_K:
                    idx = e_pos[:, None] - offs[None, :]
                else:
                    idx = s_pos[:, None] + offs[None, :] - 1
                idxc = np.clip(idx, 0, max(len(nn_vals) - 1, 0))
                gathered = (
                    nn_vals[idxc] if len(nn_vals) else np.empty((nq, k), dtype=object)
                )
                res[:] = [gathered[i, : counts[i]].tolist() for i in range(nq)]
            elif op == Operation.UNIQUE_TOP_K:
                first = next((v for v in nn_vals if v is not None), None)
                if isinstance(first, dict):
                    # struct{sort_key, unique_id} variant
                    # (UniqueOrderByLimit.scala): one element per
                    # unique_id, top-k by sort_key desc / unique_id asc
                    ukey = ("__utk__", col, id(vals))
                    if ukey not in nn_idx_cache:
                        nn_idx_cache[ukey] = _utk_struct_index(vals)
                    vv, ucodes, skr, urank, uids_v, sks_v = nn_idx_cache[ukey]
                    us = np.searchsorted(vv, start, side="left")
                    ue = np.searchsorted(vv, end, side="left")
                    res[:] = [
                        _utk_struct_topk(us[i], ue[i], ucodes, skr, urank,
                                         uids_v, sks_v, k)
                        for i in range(nq)
                    ]
                else:
                    res[:] = [
                        sorted(set(nn_vals[s_pos[i]:e_pos[i]].tolist()),
                               reverse=True)[:k]
                        for i in range(nq)
                    ]
            else:
                # TOP_K / BOTTOM_K: np.partition selects the k extremes in
                # O(w), then only k elements are sorted
                asc = op == Operation.BOTTOM_K
                for i in range(nq):
                    seg = nn_vals[s_pos[i]:e_pos[i]]
                    w = len(seg)
                    if w == 0:
                        res[i] = []
                    elif w <= k:
                        srt = np.sort(seg)
                        res[i] = srt.tolist() if asc else srt[::-1].tolist()
                    elif asc:
                        sel = np.partition(seg, k - 1)[:k]
                        res[i] = np.sort(sel).tolist()
                    else:
                        sel = np.partition(seg, w - k)[w - k:]
                        res[i] = np.sort(sel)[::-1].tolist()
            out[part.output_name] = res

        elif op in (Operation.HISTOGRAM, Operation.APPROX_FREQUENT_K,
                    Operation.APPROX_HEAVY_HITTERS_K):
            k = part.arg_map.get("k")
            # factorize the stringified values ONCE; each query is then an
            # integer-code unique/count in C instead of a Python Counter
            hkey = ("__hist__", col, id(vals))
            if hkey not in nn_idx_cache:
                nn = np.flatnonzero(_notnull_mask(vals))
                svals = np.array([str(x) for x in vals[nn].tolist()], dtype=object)
                import pandas as _pd

                codes, uniq = _pd.factorize(svals) if len(svals) else (
                    np.empty(0, dtype=np.int64), np.empty(0, dtype=object))
                nn_idx_cache[hkey] = (nn, codes, np.asarray(uniq, dtype=object))
            nn, codes, uniq = nn_idx_cache[hkey]
            s_pos = np.searchsorted(nn, start, side="left")
            e_pos = np.searchsorted(nn, end, side="left")
            res = np.full(nq, None, dtype=object)
            kk = int(k) if k else None
            for i in range(nq):
                c = codes[s_pos[i]:e_pos[i]]
                if len(c) == 0:
                    res[i] = {}
                    continue
                cu, cc = np.unique(c, return_counts=True)
                keys = uniq[cu]
                if kk and len(cu) > kk:
                    sel = sorted(
                        zip(cc.tolist(), keys.tolist()), key=lambda t: (-t[0], t[1])
                    )[:kk]
                    res[i] = {s: n for n, s in sel}
                else:
                    res[i] = dict(zip(keys.tolist(), cc.tolist()))
                    if kk:
                        res[i] = dict(sorted(
                            res[i].items(), key=lambda t: (-t[1], t[0]))[:kk])
            out[part.output_name] = res

        else:
            raise NotImplementedError(f"temporal kernel: {op}")
    return out


def _as_float(vals: np.ndarray) -> np.ndarray:
    if vals.dtype == object:
        return np.array([np.nan if v is None else float(v) for v in vals], dtype=np.float64)
    return vals.astype(np.float64, copy=False)


def _notnull_mask(vals: np.ndarray) -> np.ndarray:
    if vals.dtype == object:
        return np.array([v is not None and v == v for v in vals], dtype=bool)
    return ~np.isnan(vals.astype(np.float64, copy=False))


# ---------------------------------------------------------------------------
# brute-force oracle (tests only)
# ---------------------------------------------------------------------------
def naive_aggregate(
    event_ts: np.ndarray,
    event_vals: dict[str, np.ndarray],
    query_ts: np.ndarray,
    parts: list[AggregationPart],
    array_inputs: Optional[set[str]] = None,
) -> dict[str, list]:
    """Rescan all events per query with exact window predicates — the
    analog of the reference's NaiveAggregator (:26-57). Supports bucketed
    parts (dict outputs) and auto-exploded array inputs."""
    array_inputs = array_inputs or set()
    out: dict[str, list] = {p.output_name: [] for p in parts}
    for part in parts:
        vals = event_vals[part.input_column]
        buckets = event_vals[part.bucket] if part.bucket else None
        for T in query_ts:
            if part.window is None:
                lo = -np.inf
            else:
                hop = sawtooth_hop_millis(part.window)
                lo = ((T - part.window.millis) // hop) * hop

            def in_window(i):
                return lo <= event_ts[i] <= T

            def elems(i):
                v = vals[i]
                if part.input_column in array_inputs:
                    return [] if v is None else [x for x in v if x is not None and x == x]
                return [] if v is None or v != v else [v]

            if part.bucket is None:
                sel = [x for i in range(len(event_ts)) if in_window(i) for x in elems(i)]
                out[part.output_name].append(_naive_one(part, sel))
            else:
                per_b: dict[str, list] = {}
                for i in range(len(event_ts)):
                    if not in_window(i) or buckets[i] is None:
                        continue
                    per_b.setdefault(str(buckets[i]), []).extend(elems(i))
                sub = AggregationPart(
                    part.input_column, part.operation, dict(part.arg_map), part.window
                )
                m = {}
                for b, sel in sorted(per_b.items()):
                    v = _naive_one(sub, sel)
                    if v is None or (isinstance(v, float) and v != v):
                        continue
                    if part.operation in (Operation.COUNT, Operation.UNIQUE_COUNT) and v == 0:
                        continue
                    if isinstance(v, list) and not v:
                        continue
                    m[b] = v
                out[part.output_name].append(m)
    return out


def _naive_one(part: AggregationPart, sel: list) -> Any:
    op = part.operation
    k = int(part.arg_map.get("k", 10))
    if op == Operation.COUNT:
        return len(sel)
    if op in (Operation.UNIQUE_COUNT, Operation.APPROX_UNIQUE_COUNT):
        return len(set(sel))
    if op == Operation.APPROX_PERCENTILE:
        pct = part.arg_map.get("percentiles", [0.5])
        if isinstance(pct, (int, float)):
            pct = [pct]
        if not sel:
            return None
        srt = sorted(float(x) for x in sel)
        return [srt[max(1, int(np.ceil(p * len(srt)))) - 1] for p in pct]
    if not sel:
        return [] if op in (Operation.FIRST_K, Operation.LAST_K, Operation.TOP_K,
                            Operation.BOTTOM_K, Operation.UNIQUE_TOP_K) else (
            {} if op == Operation.HISTOGRAM else None)
    arr = np.array(sel, dtype=np.float64) if not isinstance(sel[0], str) else sel
    if op == Operation.SUM:
        return float(np.sum(arr))
    if op == Operation.AVERAGE:
        return float(np.mean(arr))
    if op == Operation.VARIANCE:
        return float(np.var(arr))
    if op == Operation.SKEW:
        m2 = np.var(arr)
        if len(sel) < 3 or m2 <= 0:
            return None  # degenerate -> null (engine-wide SQL-portable choice)
        return float(np.mean((arr - np.mean(arr)) ** 3) / m2**1.5)
    if op == Operation.KURTOSIS:
        m2 = np.var(arr)
        if len(sel) < 4 or m2 <= 0:
            return None
        return float(np.mean((arr - np.mean(arr)) ** 4) / m2**2 - 3.0)
    if op == Operation.MIN:
        return float(np.min(arr)) if not isinstance(arr, list) else min(arr)
    if op == Operation.MAX:
        return float(np.max(arr)) if not isinstance(arr, list) else max(arr)
    if op == Operation.FIRST:
        return sel[0]
    if op == Operation.LAST:
        return sel[-1]
    if op == Operation.FIRST_K:
        return sel[:k]
    if op == Operation.LAST_K:
        return sel[::-1][:k]
    if op == Operation.TOP_K:
        return sorted(sel, reverse=True)[:k]
    if op == Operation.BOTTOM_K:
        return sorted(sel)[:k]
    if op == Operation.UNIQUE_TOP_K:
        return sorted(set(sel), reverse=True)[:k]
    if op == Operation.HISTOGRAM:
        cnt = Counter(str(x) for x in sel)
        kk = part.arg_map.get("k")
        if kk:
            return dict(sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[: int(kk)])
        return dict(cnt)
    raise NotImplementedError(str(op))
