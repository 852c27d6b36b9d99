"""Temporal-entity features: mutation replay over end-of-day snapshots —
the (EVENTS, ENTITIES, TEMPORAL) topology.

Semantics (reference: spark/.../GroupBy.scala:180-281 `temporalEntities`,
aggregator/.../windowing/SawtoothMutationAggregator.scala:44-160):

  For a left query row (keys, T) on day D:
    state = entity rows of snapshot partition D-1 ("end of yesterday")
          + day-D mutations with mutation_ts < T
            (is_before = false -> insert/after-image, sign +1;
             is_before = true  -> delete/before-image,  sign -1)
    feature = aggregate over state rows whose entity timestamp satisfies
      ts >= round(T - window, hop) AND ts < T     (windowed)
      no ts constraint                            (unbounded)
    i.e. the sawtooth tail (round DOWN to the hop boundary,
    Resolution.scala:38-48) with an EXCLUSIVE head — entity semantics
    differ from events here: `updateIr` tests `row.ts < queryTs`
    (SawtoothMutationAggregator.scala:124-127) while the events kernel is
    head-inclusive.

Where the reference walks per-row mutable IRs with invertible aggregators
(`windowedAggregator(i).delete`), this engine replays the signed multiset
inside an Arrow cogroup kernel — which also makes NON-invertible ops
(min/max/first/last/k-ops/histogram/percentile) exact under deletion,
something per-IR delete cannot do.

Physical plan / scale: the cogroup key is pmod(xxhash64(keys..., query
day), buckets) — the day is part of the hash, so one entity's history
never concentrates in one task: a group holds exactly (snapshot rows of
day D-1) + (mutations of day D) + (queries of day D) per key — state is
bounded by one day regardless of backfill length, and hot keys spread
across days. The snapshot scan prunes to partitions [Dmin-1, Dmax-1] and
the mutation scan to [Dmin, Dmax] (pushed-down ds predicates).
"""

from __future__ import annotations

from collections import Counter
from typing import Optional

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chronon_spark.api import (
    MUTATION_TIME_COLUMN,
    PARTITION_COLUMN,
    REVERSAL_COLUMN,
    TIME_COLUMN,
    AggregationPart,
    EntitySource,
    JoinPart,
    Operation,
    sawtooth_hop_millis,
)
from chronon_spark.operators.sawtooth import _naive_one, range_pairs
from chronon_spark.operators.temporal_join import (
    _cogroup_features,
    _kernel_columns,
    _np_col,
)
from chronon_spark.partitions import DEFAULT_SPEC, PartitionRange, PartitionSpec

DAY_MS = 86_400_000
_QDAY = "__qday"


_INVERTIBLE_OPS = (
    Operation.SUM,
    Operation.COUNT,
    Operation.AVERAGE,
    Operation.VARIANCE,
    Operation.SKEW,
    Operation.KURTOSIS,
)
_OP_POWERS = {
    Operation.COUNT: 0,
    Operation.SUM: 1,
    Operation.AVERAGE: 1,
    Operation.VARIANCE: 2,
    Operation.SKEW: 3,
    Operation.KURTOSIS: 4,
}


def replay_aggregate_batch(
    qidx: np.ndarray,
    ridx: np.ndarray,
    query_ts: np.ndarray,
    nq: int,
    event_ts: np.ndarray,
    mut_ts: np.ndarray,
    signs: np.ndarray,
    event_vals: dict[str, np.ndarray],
    parts: list[AggregationPart],
    out: dict[str, np.ndarray],
) -> None:
    """Batched signed-multiset replay over (query, right-row) PAIRS.

    `qidx`/`ridx` enumerate every candidate pair (left query i, right row j
    of the same (key, day) segment) — built by one searchsorted per query,
    so there is NO per-segment or per-query Python loop on the hot path:

      * visibility/window masks are evaluated once per pair (C-speed),
      * invertible ops (SUM/COUNT/AVG/moments) are signed `np.bincount`
        scatter-adds of value powers keyed on the query index,
      * non-invertible ops build per-(query, (ts,value)-code) NET counts
        with one `np.unique` over a composite int64 key; deletions cancel
        at the code level (net = inserts − deletes, clipped at 0), exactly
        the reference's delete-by-row-identity
        (SawtoothMutationAggregator.scala:124-141),
      * MIN/MAX/FIRST/LAST/UNIQUE_COUNT then reduce the alive codes with
        `np.minimum.at`-style vector ops; only k-ops/HISTOGRAM/percentile
        (and bucketed shapes) walk the — already netted, tiny — alive-code
        segments per query.

    Writes results into `out` (output_name -> object array of len nq,
    pre-filled with the empty-state value).
    """
    if len(qidx) == 0:
        return
    ets = event_ts.astype(np.int64, copy=False)
    mts = mut_ts.astype(np.float64, copy=False)
    is_snap = np.isnan(mts)
    sgn = signs.astype(np.int64, copy=False)
    # global emission rank for FIRST/LAST ties: (ts, snapshot-first,
    # mutation_ts); ranks are only ever compared within one segment, so a
    # single global lexsort serves every (key, day) group at once.
    order = np.lexsort((np.where(is_snap, -np.inf, mts), ~is_snap, ets))
    rank = np.empty(len(ets), dtype=np.int64)
    rank[order] = np.arange(len(ets))

    T = query_ts.astype(np.int64, copy=False)
    p_ets = ets[ridx]
    p_T = T[qidx]
    visible = is_snap[ridx] | (mts[ridx] < p_T)

    # pair mask per distinct window (entity head is EXCLUSIVE: ts < T)
    mask_cache: dict = {}

    def pair_mask(w) -> np.ndarray:
        key = None if w is None else w.millis
        m = mask_cache.get(key)
        if m is None:
            if w is None:
                m = visible
            else:
                hop = sawtooth_hop_millis(w)
                tail = ((p_T - w.millis) // hop) * hop
                m = visible & (p_ets >= tail) & (p_ets < p_T)
            mask_cache[key] = m
        return m

    # value-column caches
    fcol_cache: dict[str, tuple] = {}

    def float_col(col: str) -> tuple:
        t = fcol_cache.get(col)
        if t is None:
            raw = event_vals[col]
            if raw.dtype == object:
                fv = np.array(
                    [np.nan if v is None else float(v) for v in raw], dtype=np.float64
                )
            else:
                fv = raw.astype(np.float64, copy=False)
            nn = ~np.isnan(fv)
            t = (np.where(nn, fv, 0.0), nn)
            fcol_cache[col] = t
        return t

    code_cache: dict[tuple, tuple] = {}

    def code_col(col: str, bucket) -> tuple:
        """Net-multiset codes for (ts, value[, bucket]) over non-null rows.

        Returns (code_full: per-row code or -1 when value is null,
        ncodes, rep_val, rep_vcode, nv, rep_bcode, buniq)."""
        ck = (col, bucket)
        t = code_cache.get(ck)
        if t is not None:
            return t
        raw = event_vals[col]
        if raw.dtype == object:
            nnz = np.array([not (v is None or (isinstance(v, float) and v != v))
                            for v in raw], dtype=bool)
            keyvals = np.array([_mkey(v) for v in raw[nnz]], dtype=object)
        else:
            nnz = ~np.isnan(raw)
            keyvals = np.round(raw[nnz], 12)
        vcode, vuniq = pd.factorize(keyvals, use_na_sentinel=False)
        nv = max(len(vuniq), 1)
        tuniq, tcode = np.unique(ets[nnz], return_inverse=True)
        comp = tcode.astype(np.int64) * nv + vcode
        rep_bcode = buniq = None
        if bucket is not None:
            braw = event_vals[bucket]
            bstr = np.array(
                [None if b is None else str(b) for b in braw[nnz]], dtype=object
            )
            bc, buniq = pd.factorize(bstr, use_na_sentinel=False)
            nb = max(len(buniq), 1)
            comp = comp * nb + bc
        ucomp, first_idx, code_nnz = np.unique(
            comp, return_index=True, return_inverse=True
        )
        code_full = np.full(len(raw), -1, dtype=np.int64)
        nnz_pos = np.flatnonzero(nnz)
        code_full[nnz_pos] = code_nnz
        rep_val = raw[nnz][first_idx]
        rep_vcode = vcode[first_idx]
        if bucket is not None:
            rep_bcode = (ucomp % max(len(buniq), 1)).astype(np.int64)
        t = (code_full, len(ucomp), rep_val, rep_vcode, nv, rep_bcode, buniq)
        code_cache[ck] = t
        return t

    for part in parts:
        op = part.operation
        pm = pair_mask(part.window)
        name = part.output_name
        if op in _INVERTIBLE_OPS and part.bucket is None:
            fv0, nn = float_col(part.input_column)
            base = np.where(nn, sgn.astype(np.float64), 0.0)
            sel = np.flatnonzero(pm)
            rsel, qsel = ridx[sel], qidx[sel]
            npow = _OP_POWERS[op]
            w = base[rsel]
            n_i = np.bincount(qsel, weights=w, minlength=nq)
            sums = [n_i]
            fvr = fv0[rsel]
            for _ in range(npow):
                w = w * fvr
                sums.append(np.bincount(qsel, weights=w, minlength=nq))
            _emit_invertible(op, sums, out[name])
        elif op in _INVERTIBLE_OPS and part.bucket is not None:
            _invertible_bucketed(
                part, pm, qidx, ridx, sgn, nq, float_col, event_vals, out[name]
            )
        else:
            _net_multiset_part(
                part, pm, qidx, ridx, sgn, rank, nq, code_col, out[name]
            )


def _emit_invertible(op, sums, res: np.ndarray) -> None:
    """Closed-form moment formulas, vectorized over queries; writes into
    the object output array (None where the state is empty/degenerate —
    the engine-wide SQL-portable convention)."""
    n = sums[0]
    if op == Operation.COUNT:
        res[:] = np.rint(n).astype(np.int64).astype(object)
        return
    ok = n > 0
    with np.errstate(invalid="ignore", divide="ignore"):
        s1 = sums[1]
        if op == Operation.SUM:
            vals = s1
        elif op == Operation.AVERAGE:
            vals = s1 / n
        else:
            mu = s1 / n
            m2 = sums[2] / n - mu * mu
            if op == Operation.VARIANCE:
                vals = np.maximum(m2, 0.0)
            elif op == Operation.SKEW:
                m3 = sums[3] / n - 3 * mu * (sums[2] / n) + 2 * mu**3
                vals = m3 / m2**1.5
                ok = ok & (np.rint(n) >= 3) & (m2 > 0)
            else:  # KURTOSIS (excess)
                m4 = (sums[4] / n - 4 * mu * (sums[3] / n)
                      + 6 * mu * mu * (sums[2] / n) - 3 * mu**4)
                vals = m4 / (m2 * m2) - 3.0
                ok = ok & (np.rint(n) >= 4) & (m2 > 0)
    obj = vals.astype(object)
    obj[~ok] = None
    res[:] = obj


def _invertible_bucketed(
    part, pm, qidx, ridx, sgn, nq, float_col, event_vals, res
) -> None:
    """Signed per-(query, bucket) accumulation -> map<bucket, value>."""
    op = part.operation
    fv0, nn = float_col(part.input_column)
    braw = event_vals[part.bucket]
    bstr = np.array([None if b is None else str(b) for b in braw], dtype=object)
    bcode, buniq = pd.factorize(bstr, use_na_sentinel=False)
    bvalid = np.array([b is not None for b in buniq], dtype=bool)
    nb = max(len(buniq), 1)
    sel = np.flatnonzero(pm)
    rsel, qsel = ridx[sel], qidx[sel]
    comp = qsel * nb + bcode[rsel]
    base = np.where(nn, sgn.astype(np.float64), 0.0)
    npow = _OP_POWERS[op]
    w = base[rsel]
    size = nq * nb
    sums = [np.bincount(comp, weights=w, minlength=size).reshape(nq, nb)]
    fvr = fv0[rsel]
    for _ in range(npow):
        w = w * fvr
        sums.append(np.bincount(comp, weights=w, minlength=size).reshape(nq, nb))
    flat = np.empty(size, dtype=object)
    _emit_invertible(op, [s.reshape(-1) for s in sums], flat)
    grid = flat.reshape(nq, nb)
    n_grid = np.rint(sums[0]).astype(np.int64)
    for i in range(nq):
        m = {}
        row = grid[i]
        for b in np.flatnonzero(n_grid[i] > 0):
            if not bvalid[b]:
                continue
            v = row[b]
            if v is None:
                continue
            if op in (Operation.COUNT,) and int(v) == 0:
                continue
            m[buniq[b]] = v
        res[i] = m


def _net_multiset_part(part, pm, qidx, ridx, sgn, rank, nq, code_col, res) -> None:
    """Exact net-multiset replay for non-invertible ops: per-(query, code)
    nets via one np.unique composite; deletes cancel whole code instances
    (reference deletes by row identity). Alive codes carry a representative
    value + the rank of their first visible positive row for tie order."""
    op = part.operation
    code_full, ncodes, rep_val, rep_vcode, nv, rep_bcode, buniq = code_col(
        part.input_column, part.bucket
    )
    if ncodes == 0:
        return
    sel = np.flatnonzero(pm & (code_full[ridx] >= 0))
    if len(sel) == 0:
        return
    rsel, qsel = ridx[sel], qidx[sel]
    csel = code_full[rsel]
    comp = qsel * np.int64(ncodes) + csel
    ucomp, inv = np.unique(comp, return_inverse=True)
    net = np.rint(
        np.bincount(inv, weights=sgn[rsel].astype(np.float64))
    ).astype(np.int64)
    minrank = np.full(len(ucomp), np.iinfo(np.int64).max, dtype=np.int64)
    possel = sgn[rsel] > 0
    np.minimum.at(minrank, inv[possel], rank[rsel[possel]])
    alive = net > 0
    if not alive.any():
        return
    qa = (ucomp[alive] // ncodes).astype(np.int64)
    ca = (ucomp[alive] % ncodes).astype(np.int64)
    cnt = net[alive]
    mr = minrank[alive]

    numeric = rep_val.dtype != object
    if part.bucket is None and op in (Operation.MIN, Operation.MAX) and numeric:
        repf = rep_val.astype(np.float64)
        acc = np.full(nq, np.inf if op == Operation.MIN else -np.inf)
        if op == Operation.MIN:
            np.minimum.at(acc, qa, repf[ca])
        else:
            np.maximum.at(acc, qa, repf[ca])
        touched = np.zeros(nq, dtype=bool)
        touched[qa] = True
        res[touched] = acc[touched].astype(object)
        return
    if part.bucket is None and op in (
        Operation.UNIQUE_COUNT, Operation.APPROX_UNIQUE_COUNT
    ):
        du = np.unique(qa * np.int64(nv) + rep_vcode[ca])
        counts = np.bincount((du // nv).astype(np.int64), minlength=nq)
        res[:] = counts.astype(object)
        return
    if part.bucket is None and op in (Operation.FIRST, Operation.LAST):
        o = np.lexsort((mr, qa))
        qo = qa[o]
        bounds = np.flatnonzero(np.diff(qo, prepend=qo[0] - 1))
        if op == Operation.FIRST:
            pick = o[bounds]
        else:
            pick = o[np.append(bounds[1:] - 1, len(o) - 1)]
        for i, j in zip(qa[pick], ca[pick]):
            res[i] = rep_val[j]
        return
    # general path: walk alive-code segments per query (already netted;
    # tiny vs raw rows), expanding multiplicities in emission order
    if part.bucket is not None:
        o = np.lexsort((mr, rep_bcode[ca], qa))
        sub = AggregationPart(part.input_column, op, dict(part.arg_map), part.window)
    else:
        o = np.lexsort((mr, qa))
        sub = None
    qo, co, no = qa[o], ca[o], cnt[o]
    bounds = np.flatnonzero(np.diff(qo, prepend=qo[0] - 1))
    bounds = np.append(bounds, len(qo))
    for s, e in zip(bounds[:-1], bounds[1:]):
        i = qo[s]
        if part.bucket is None:
            surv = list(np.repeat(rep_val[co[s:e]], no[s:e]))
            res[i] = _naive_one(part, surv)
        else:
            m = {}
            bo = rep_bcode[co[s:e]]
            bb = np.flatnonzero(np.diff(bo, prepend=bo[0] - 1))
            bb = np.append(bb, e - s)
            for bs, be in zip(bb[:-1], bb[1:]):
                b = buniq[bo[bs]]
                if b is None:
                    continue
                surv = list(np.repeat(rep_val[co[s + bs:s + be]], no[s + bs:s + be]))
                v = _naive_one(sub, surv)
                if v is None or (isinstance(v, float) and v != v):
                    continue
                if op in (Operation.COUNT, Operation.UNIQUE_COUNT) and int(v) == 0:
                    continue
                if isinstance(v, list) and not v:
                    continue
                m[b] = v
            res[i] = m


def _replay_empty(part: AggregationPart):
    if part.bucket is not None:
        return {}
    op = part.operation
    if op in (Operation.COUNT, Operation.UNIQUE_COUNT, Operation.APPROX_UNIQUE_COUNT):
        return 0
    if op in (Operation.FIRST_K, Operation.LAST_K, Operation.TOP_K,
              Operation.BOTTOM_K, Operation.UNIQUE_TOP_K):
        return []
    if op in (Operation.HISTOGRAM, Operation.APPROX_FREQUENT_K,
              Operation.APPROX_HEAVY_HITTERS_K):
        return {}
    return None


def _mkey(v):
    return v if not isinstance(v, float) else round(v, 12)


def temporal_entity_features(
    left_df: DataFrame,
    snapshot_df: DataFrame,
    mutation_df: DataFrame,
    left_keys: list[str],
    right_keys: list[str],
    parts: list[AggregationPart],
    prefix: str = "",
) -> DataFrame:
    """Enrich left rows with mutation-replayed point-in-time features.

    left_df: any columns + `ts` (epoch millis long) + left_keys.
    snapshot_df: keys + ts + value cols + ds (partition d = state at end
    of day d). mutation_df: keys + ts + value cols + mutation_ts +
    is_before. Returns left_df columns + one `{prefix}{output_name}`
    column per part.

    Runs in the as-of join's cogroup frame (`_cogroup_features`) with the
    query day as one more key, so group state is day-bounded. Map- and
    array-input parts raise ValueError here, before any job runs.
    """
    right_types = dict(snapshot_df.dtypes)
    input_cols, array_inputs, map_inputs, feature_fields = _kernel_columns(
        right_types, parts, prefix)
    for p in parts:
        if p.input_column in map_inputs | array_inputs:
            raise ValueError(
                f"mutation replay has no map- or array-input support: part "
                f"{p.output_name} reads {p.input_column} ({right_types[p.input_column]})")

    # snapshot partition d serves queries of day d+1
    snap = snapshot_df.select(
        *right_keys,
        F.col(TIME_COLUMN).alias(TIME_COLUMN),
        *input_cols,
        (F.unix_date(F.to_date(F.col(PARTITION_COLUMN))).cast("long") + 1).alias(_QDAY),
        F.lit(None).cast("double").alias("__mut_ts"),
        F.lit(1).cast("int").alias("__sign"),
    )
    mut = mutation_df.select(
        *right_keys,
        F.col(TIME_COLUMN).alias(TIME_COLUMN),
        *input_cols,
        F.expr(f"{MUTATION_TIME_COLUMN} DIV {DAY_MS}").alias(_QDAY),
        F.col(MUTATION_TIME_COLUMN).cast("double").alias("__mut_ts"),
        F.when(F.col(REVERSAL_COLUMN).cast("boolean"), F.lit(-1))
        .otherwise(F.lit(1)).alias("__sign"),
    )
    right = snap.unionByName(mut)

    def body(left: pa.Table, right: pa.Table, lcode, rcode) -> dict:
        nq = left.num_rows
        lts = left.column(TIME_COLUMN).to_numpy().astype(np.int64)
        rorder = np.argsort(rcode, kind="stable")
        rcode_s = rcode[rorder]
        rts_s = right.column(TIME_COLUMN).to_numpy().astype(np.int64)[rorder]
        mut_ts = right.column("__mut_ts").to_numpy()[rorder]
        signs = right.column("__sign").to_numpy().astype(np.int64)[rorder]
        evals = {c: _np_col(right, c, right_types[c])[rorder] for c in input_cols}
        outs: dict[str, np.ndarray] = {}
        for (name, _), part in zip(feature_fields, parts):
            arr = np.empty(nq, dtype=object)
            arr[:] = [_replay_empty(part) for _ in range(nq)]
            outs[name] = arr
        # every query pairs with the right rows of its (key, day) segment;
        # no per-segment Python loop, and bounded pair arrays
        for a, b, qidx, ridx in range_pairs(
            np.searchsorted(rcode_s, lcode, side="left"),
            np.searchsorted(rcode_s, lcode, side="right"),
        ):
            views = {p.output_name: outs[n][a:b]
                     for (n, _), p in zip(feature_fields, parts)}
            replay_aggregate_batch(
                qidx, ridx, lts[a:b], b - a, rts_s, mut_ts, signs,
                evals, parts, views,
            )
        return outs

    # the query day is part of each group's key: snapshot rows of day D-1
    # and mutations of day D meet the queries of day D
    qday = F.expr(f"{TIME_COLUMN} DIV {DAY_MS}")
    return _cogroup_features(
        left_df, right, list(left_keys) + [qday], list(right_keys) + [_QDAY],
        feature_fields, body)


def _mutation_scan(
    spark: SparkSession,
    source: EntitySource,
    rng: Optional[PartitionRange],
    spec: PartitionSpec,
) -> DataFrame:
    """Scan the mutation table with the source's Query DSL, preserving
    mutation_ts / is_before (reference: mutationDfFn, same selects as the
    snapshot plus the mutation metadata columns)."""
    from dataclasses import replace

    from chronon_spark.sources.scan import scan_df

    from chronon_spark.sources.scan import _load_table

    q = source.query
    # Query.mutationTimeColumn / reversalColumn (api.thrift:17-18):
    # source-side expressions normalized here to the engine-canonical
    # mutation_ts / is_before names
    mut_expr = q.mutation_time_column or MUTATION_TIME_COLUMN
    rev_expr = q.reversal_column or REVERSAL_COLUMN
    if q.selects is not None:
        selects = dict(q.selects)
        selects.setdefault(MUTATION_TIME_COLUMN, mut_expr)
        selects.setdefault(REVERSAL_COLUMN, rev_expr)
        q = replace(q, selects=selects)
    # Mutation tables partition by MUTATION day, not row-event day: prune
    # on ds only when the table physically has it; otherwise scan unpruned
    # and range-filter on mutation_ts (a pushed-down long predicate) — the
    # row ts of a before-image may be arbitrarily old and must survive.
    part_col = q.partition_column or spec.column
    has_ds = part_col in _load_table(spark, source.mutation_table).columns
    df = scan_df(spark, source.mutation_table, q, rng if has_ds else None, spec)
    if q.selects is None:  # select * — normalize custom names post-scan
        if mut_expr != MUTATION_TIME_COLUMN:
            df = df.withColumn(MUTATION_TIME_COLUMN, F.expr(mut_expr))
        if rev_expr != REVERSAL_COLUMN:
            df = df.withColumn(REVERSAL_COLUMN, F.expr(rev_expr))
    if rng is not None and not has_ds:
        if rng.start is not None:
            df = df.where(F.col(MUTATION_TIME_COLUMN) >= spec.epoch_millis(rng.start))
        if rng.end is not None:
            df = df.where(
                F.col(MUTATION_TIME_COLUMN) < spec.epoch_millis(spec.after(rng.end))
            )
    return df


def compute_temporal_entity_join_part(
    spark: SparkSession,
    left_df: DataFrame,
    join_part: JoinPart,
    rng: Optional[PartitionRange] = None,
    spec: PartitionSpec = DEFAULT_SPEC,
) -> DataFrame:
    """One (EVENTS, ENTITIES, TEMPORAL) join part.

    Snapshot scan prunes to [left_min - 1, left_max - 1] (each query day D
    reads partition D-1); mutation scan prunes to [left_min, left_max]."""
    from chronon_spark.operators.snapshot_join import _left_date_range
    from chronon_spark.sources.scan import scan_source

    gb = join_part.group_by
    srcs = [s for s in gb.sources if isinstance(s, EntitySource) and s.mutation_table]
    assert len(srcs) == 1, "temporal-entity GroupBy needs one EntitySource with a mutation_table"
    src = srcs[0]
    left_rng = rng if rng is not None and rng.start else _left_date_range(left_df, spec)
    snap_rng = PartitionRange(spec.before(left_rng.start), spec.before(left_rng.end), spec)
    snap = scan_source(spark, src, snap_rng, spec)
    mut = _mutation_scan(spark, src, left_rng, spec)

    key_map = join_part.right_to_left_keys()
    left_keys = [key_map[k] for k in gb.key_columns]
    prefix = join_part.full_prefix() + "_"
    return temporal_entity_features(
        left_df, snap, mut, left_keys, gb.key_columns,
        gb.aggregation_parts(), prefix,
    )


def naive_entity_replay(
    snapshot_rows: list[dict],
    mutation_rows: list[dict],
    query: tuple,
    part: AggregationPart,
    value_col: str,
) -> object:
    """Brute-force oracle for tests (analog of the reference's
    MutationsTest expected-value computation): recompute one query from
    the raw snapshot + mutation rows with exact window predicates."""
    T, qday = query
    day0 = qday * DAY_MS
    rows = []  # (ts, value, sign, order)
    for r in snapshot_rows:
        if r[PARTITION_COLUMN] == DEFAULT_SPEC.of_epoch_millis(day0 - DAY_MS):
            rows.append((r[TIME_COLUMN], r[value_col], 1))
    for m in mutation_rows:
        if day0 <= m[MUTATION_TIME_COLUMN] < day0 + DAY_MS and m[MUTATION_TIME_COLUMN] < T:
            rows.append((m[TIME_COLUMN], m[value_col], -1 if m[REVERSAL_COLUMN] else 1))
    w = part.window
    if w is not None:
        hop = sawtooth_hop_millis(w)
        tail = ((T - w.millis) // hop) * hop
        rows = [r for r in rows if tail <= r[0] < T]
    net: Counter = Counter()
    rep: dict = {}
    for ts, v, sgn in rows:
        if v is not None:
            k = (ts, _mkey(v))
            net[k] += sgn
            rep.setdefault(k, v)
    survivors = [
        rep[(ts, mk)] for ts, mk in sorted(
            (k for k, n in net.items() for _ in range(max(n, 0))),
        )
    ]
    return _naive_one(part, survivors)
