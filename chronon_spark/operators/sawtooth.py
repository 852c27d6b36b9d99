"""Vectorized sawtooth kernel for point-in-time (as-of) windows.

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
inside Arrow batches (groupBy / cogroup applyInArrow) on numpy
arrays sorted by (key, ts), one call per batch for all of its keys and
parts (`sawtooth_segments`). Bucketed and map-input parts run the same
ops over (key, label) segments, so there is one path for every part kind:
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


class _WaveletKth:
    """Exact k-th smallest (0-indexed, NaNs sort last) for MANY [s, e)
    ranges over one fixed sequence — a wavelet tree over value codes.

    Build: one stable argsort per code-bit level, O(n log n · log V) at
    C speed. Queries: every (range, k) pair walks the levels TOGETHER in
    one vectorized pass per level — O((n + q) log V) total, replacing the
    per-query `np.sort` slice that made temporal APPROX_PERCENTILE
    O(q · w log w). Exactness is the contract: the reference pins approx
    percentiles to exact order statistics in tests
    (GroupByTest.scala:103-117), so a lossy digest would break the oracle;
    the wavelet tree gives digest speed without giving up the exact
    quantile. `query` returns float64 with NaN where the range holds no
    usable value.

    The build (nbits stable argsorts + np.unique, the expensive half) is
    cached per column across a GroupBy's windows — one Aggregation
    typically runs [1d, 7d, 30d, lifetime] parts over the SAME values, and
    the build depends only on those values."""

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


def _prefix_powers(vals: np.ndarray, max_power: int, lo: np.ndarray):
    """(shift, prefixes) for the segments (keys) starting at offsets `lo`.
    shift[k] is segment k's mean (0 if it has no values). prefixes[0] is
    the plain non-null count prefix (length n + 1). prefixes[p] holds the
    running sums of (vals - shift)**p, NaN skipped, restarted at every
    segment: segment k owns slots lo[k] + k .. lo[k] + k + its length,
    starting with a 0. Centering each segment on its own mean, and summing
    it from zero, keeps a window's difference of two prefixes free of the
    catastrophic cancellation a long, large history would cause (also one
    of an earlier key); central moments are shift-invariant."""
    import pandas as pd

    v = vals.astype(np.float64, copy=False)
    nn = ~np.isnan(v)
    seg = np.repeat(np.arange(len(lo)), np.diff(np.append(lo, len(v))))
    cnt = np.bincount(seg[nn], minlength=len(lo))
    tot = np.bincount(seg[nn], weights=v[nn], minlength=len(lo))
    shift = tot / np.maximum(cnt, 1)
    filled = np.where(nn, v - shift[seg], 0.0)
    powers = np.empty((len(v), max_power))
    acc = np.ones_like(filled)
    for i in range(max_power):
        acc = acc * filled
        powers[:, i] = acc
    running = pd.DataFrame(powers).groupby(seg).cumsum().to_numpy()
    return shift, [np.concatenate(([0], np.cumsum(nn)))] + list(
        np.insert(running, lo, 0.0, axis=0).T)


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
    """One key: `sawtooth_segments` over a single segment. `event_ts` MUST
    be sorted ascending; `event_vals` maps input column -> float/object
    array aligned with event_ts (NaN/None = null). Returns output_name ->
    array aligned with query_ts (any order)."""
    return sawtooth_segments(
        np.zeros(len(event_ts), dtype=np.int64), event_ts, event_vals,
        np.zeros(len(query_ts), dtype=np.int64), query_ts, parts,
        array_inputs or set(), map_inputs or set(),
    )


_MAX_PAIRS = 8_000_000


def range_pairs(lo: np.ndarray, hi: np.ndarray):
    """Ranges -> (query, row) pairs: one pair (q, r) per row r in
    [lo[q], hi[q]). Yields (a, b, qidx, ridx) chunks in query order; a
    chunk covers queries a..b-1 (qidx counts from a) and holds at most
    _MAX_PAIRS pairs unless one query alone has more, so the pair arrays
    stay bounded however many rows the ranges span. Chunks without pairs
    are skipped."""
    cnt = (hi - lo).astype(np.int64)
    csum = np.concatenate(([0], np.cumsum(cnt)))
    a, nq = 0, len(cnt)
    while a < nq:
        b = int(np.searchsorted(csum, csum[a] + _MAX_PAIRS, side="right")) - 1
        b = min(max(b, a + 1), nq)
        total = int(csum[b] - csum[a])
        if total:
            cc = cnt[a:b]
            start = np.repeat(lo[a:b] - (csum[a:b] - csum[a]), cc)
            yield (a, b, np.repeat(np.arange(b - a, dtype=np.int64), cc),
                   start + np.arange(total, dtype=np.int64))
        a = b


def _fill_maps(maps: list[dict], qidx: np.ndarray, labels: np.ndarray, r,
               op) -> None:
    """Insert result r[i] as maps[qidx[i]][labels[i]], skipping empty
    entries. Presence tests are vectorized when the result is numeric."""
    # every count-shaped op returns 0 (not NaN/None) for an empty window,
    # so 0 means "no in-window events for this label" — emitting it would
    # leak stale buckets/map-keys from history into later queries' maps
    count_like = op in (Operation.COUNT, Operation.UNIQUE_COUNT,
                        Operation.APPROX_UNIQUE_COUNT)
    if isinstance(r, np.ndarray) and r.dtype != object:
        sel = np.flatnonzero(
            r > 0 if count_like else ~np.isnan(r.astype(np.float64, copy=False)))
    else:
        sel = np.flatnonzero([
            not (v is None or (isinstance(v, float) and v != v)
                 or (count_like and int(v) == 0)
                 # empty list (k-ops) or empty dict (HISTOGRAM /
                 # APPROX_FREQUENT_K / APPROX_HEAVY_HITTERS_K): no events
                 or (isinstance(v, (list, dict)) and not v))
            for v in r])
    for i, q, b in zip(sel, qidx[sel].tolist(), labels[sel].tolist()):
        maps[q][b] = r[i]


def _sawtooth_grouped(ecode, ets, evals, qcode, qts, part, array_inputs,
                      map_input):
    """One bucketed or map-input part for many keys, through the plain
    kernel. Label-explode: the label of an event is its stringified bucket
    value (the bucket column must be string, reference:
    RowAggregator.scala:42-48; null buckets are dropped), or the map key
    of each of its (event, map key, value) triples. Every (key code,
    label) pair is then its own segment, each query repeats once per label
    its key has (`range_pairs`), and the results fill per-query maps
    {label: value}, labels in sorted order. A stable sort keeps each
    segment's events in time order."""
    import pandas as pd

    col = part.input_column
    if map_input:
        dicts = [d or {} for d in evals[col]]
        rows = np.repeat(np.arange(len(ets)),
                         np.array([len(d) for d in dicts], dtype=np.int64))
        labels = np.array([k for d in dicts for k in d], dtype=object)
        vals = np.array([v for d in dicts for v in d.values()], dtype=object)
    else:
        bstr = [None if b is None or b != b else str(b)
                for b in evals[part.bucket].tolist()]
        rows = np.flatnonzero([b is not None for b in bstr])
        labels = np.array(bstr, dtype=object)[rows]
        vals = evals[col][rows]
    lab, uniq = pd.factorize(labels, sort=True)
    order = np.lexsort((lab, ecode[rows]))
    kcode, lab = ecode[rows][order], lab[order]
    new = np.ones(len(order), dtype=bool)
    new[1:] = (kcode[1:] != kcode[:-1]) | (lab[1:] != lab[:-1])
    seg, seg_key, seg_label = np.cumsum(new) - 1, kcode[new], uniq[lab[new]]
    gts, gvals = ets[rows][order], {col: vals[order]}
    sub = AggregationPart(col, part.operation, dict(part.arg_map), part.window, None)
    maps: list[dict] = [dict() for _ in range(len(qts))]
    for a, _, qidx, sidx in range_pairs(
        np.searchsorted(seg_key, qcode, side="left"),
        np.searchsorted(seg_key, qcode, side="right"),
    ):
        qidx += a
        r = _plain_segments(seg, gts, gvals, sidx, qts[qidx], [sub],
                            array_inputs)[sub.output_name]
        _fill_maps(maps, qidx, seg_label[sidx], r, part.operation)
    res = np.full(len(qts), None, dtype=object)
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


def _flatten_arrays(vals: np.ndarray):
    """Explode list-valued events: (elements per event, flat elements).
    Repeating each event's sort key by its length keeps the flat arrays
    sorted."""
    lens = np.array([0 if v is None else len(v) for v in vals], dtype=np.int64)
    flat_vals = np.array(
        [x for v in vals if v is not None for x in v], dtype=object
    )
    return lens, flat_vals


def sawtooth_segments(
    ecode: np.ndarray,
    ets: np.ndarray,
    evals: dict[str, np.ndarray],
    qcode: np.ndarray,
    qts: np.ndarray,
    parts: list[AggregationPart],
    array_inputs: set[str],
    map_inputs: set[str],
) -> dict[str, np.ndarray]:
    """Every part, for many keys in one pass.

    Events (ecode, ets, evals) are sorted by (key code, ts); queries
    (qcode, qts) come in any order and see only the events of their own
    code. Returns output_name -> array aligned with the queries.

    Columns named in `array_inputs` hold lists and are auto-exploded: each
    element aggregates individually at its row's timestamp (reference:
    VectorDispatcher auto-explode, ColumnAggregator.scala:208-217).
    Bucketed parts (part.bucket set, reference: BucketedColumnAggregator)
    and parts over `map_inputs` columns, which hold dicts
    (MapColumnAggregator), produce dict outputs {label: value}: each runs
    the same kernel once over its (key, label) segments
    (`_sawtooth_grouped`). The other parts run together in one
    `_plain_segments` call."""
    plain = [p for p in parts
             if p.bucket is None and p.input_column not in map_inputs]
    out = _plain_segments(ecode, ets, evals, qcode, qts, plain,
                          array_inputs) if plain else {}
    for part in parts:
        if part.bucket is not None or part.input_column in map_inputs:
            out[part.output_name] = _sawtooth_grouped(
                ecode, ets, evals, qcode, qts, part, array_inputs,
                part.input_column in map_inputs)
    return out


def _plain_segments(
    ecode: np.ndarray,
    ets: np.ndarray,
    evals: dict[str, np.ndarray],
    qcode: np.ndarray,
    qts: np.ndarray,
    parts: list[AggregationPart],
    array_inputs: set[str],
) -> dict[str, np.ndarray]:
    """`sawtooth_segments` for parts with no bucket and no map input. Each
    (code, ts) pair packs into one order-preserving int64: code slot *
    (|distinct event ts| + 1) + ts rank. Ranks, not raw ts, keep the
    product far from overflow for any ts range. A query's window is then
    two searchsorted calls over the packed event keys, for every query at
    once; a code with no events (or no events at all) gets an even slot
    between the event segments, so its windows are empty. Array inputs
    flatten once; `_sawtooth_plain` then runs once over the whole
    arrays."""
    ne = len(ets)
    lo = (np.flatnonzero(np.diff(ecode, prepend=ecode[:1] - 1)) if ne
          else np.zeros(1, dtype=np.int64))
    seg = np.repeat(np.arange(len(lo)), np.diff(np.append(lo, ne)))
    uts = np.unique(ets)
    width = len(uts) + 1
    ekey = (2 * seg + 1) * width + np.searchsorted(uts, ets, side="left") + 1
    ucode = ecode[lo] if ne else ecode[:0]
    j = np.searchsorted(ucode, qcode, side="left")
    present = np.zeros(len(qcode), dtype=bool)
    if ne:
        present = ucode[np.minimum(j, len(ucode) - 1)] == qcode
    qslot = (2 * j + present) * width
    head = qslot + np.searchsorted(uts, qts, side="right")

    cols: dict[str, tuple] = {}  # column -> (values, packed keys, segment offsets)
    for col in dict.fromkeys(p.input_column for p in parts):
        if col in array_inputs:
            lens, flat = _flatten_arrays(evals[col])
            offsets = np.concatenate(([0], np.cumsum(lens)))[lo]
            cols[col] = (flat, np.repeat(ekey, lens), offsets)
        else:
            cols[col] = (evals[col], ekey, lo)
    bounds, cache = [], {}
    for part in parts:
        keys = cols[part.input_column][1]
        w = part.window and (part.window.millis, sawtooth_hop_millis(part.window))
        ck = (id(keys), w)
        if ck not in cache:
            if w is None:
                tail = qslot
            else:
                tail_ts = ((qts - w[0]) // w[1]) * w[1]
                tail = qslot + np.searchsorted(uts, tail_ts, side="left") + 1
            cache[ck] = (np.searchsorted(keys, tail, side="left"),
                         np.searchsorted(keys, head, side="right"))
        bounds.append(cache[ck])
    return _sawtooth_plain(
        {c: v[0] for c, v in cols.items()}, {c: v[2] for c, v in cols.items()},
        parts, bounds,
    )


def _sawtooth_plain(
    event_vals: dict[str, np.ndarray],
    seg_lo: dict[str, np.ndarray],
    parts: list[AggregationPart],
    bounds: list[tuple[np.ndarray, np.ndarray]],
) -> dict[str, np.ndarray]:
    """Every plain part's op over half-open event ranges: part i answers
    query q from event_vals[col][bounds[i][0][q]:bounds[i][1][q]]. Ranges
    never cross a segment (seg_lo[col] holds the segment start offsets),
    so the tables each op builds once over the whole arrays — prefix
    sums, sparse-table RMQ, non-null index lists, wavelet tree — are
    exact; only the moment prefixes need the segments themselves."""
    out: dict[str, Any] = {}
    # caches shared across parts touching the same input column
    prefix_cache: dict[tuple[str, int], list[np.ndarray]] = {}
    wavelet_cache: dict[str, _WaveletKth] = {}
    rmm_cache: dict[tuple[str, bool], _RangeMinMax] = {}
    nn_idx_cache: dict[str, np.ndarray] = {}

    for part, (start, end) in zip(parts, bounds):
        col = part.input_column
        vals = event_vals[col]
        nq = len(start)
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
                prefix_cache[key] = _prefix_powers(_as_float(vals), need, seg_lo[col])
            shifts, p = prefix_cache[key]
            n = p[0][end] - p[0][start]
            nn = np.maximum(n, 1).astype(np.float64)
            # a non-empty window lies in segment k, whose prefix slots are
            # offset by k; empty windows are masked out below
            k = np.searchsorted(seg_lo[col], start, side="right") - 1
            shift = shifts[k]
            # s[i] are power sums of the SHIFTED values; central moments are
            # shift-invariant, raw sum/mean add the shift back.
            s = [None] + [p[i][end + k] - p[i][start + k] for i in range(1, need + 1)]
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
