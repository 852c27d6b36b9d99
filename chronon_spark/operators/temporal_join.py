"""Point-in-time (temporal) join — the core deliverable.

For each left row (entity keys, ts) produce every GroupBy feature exactly
as-of that row's timestamp: window [floor((ts-w)/hop)*hop, ts], head
inclusive, zero temporal leakage.

reference algorithm: the "skew-free" UnionJoin — normalize left/right to a
common schema, union, ONE groupBy(keys) with collect_list, array_sort by
ts, per-key sawtooth UDF, explode back
(spark/.../join/UnionJoin.scala:28-198, SawtoothUdf.scala:82-139;
default spark.chronon.join.backfill.mode.skewFree=true,
TableUtils.scala:71-74; README.md:82 claims 9x vs the legacy cogroup
path).

Our physical plan is the idiomatic PySpark expression of the same shape:
``left.groupBy(keys).cogroup(right.groupBy(keys)).applyInPandas(kernel)``.
cogroup-apply is exactly union+groupBy at the shuffle level — each side is
hash-partitioned by key ONCE, co-located, and handed to the vectorized
kernel as Arrow batches; there is no join explosion and no per-row Python.
Skew controls: AQE on; the bucket-hash grouping is itself a generalized
salt (hot keys share buckets with other keys); hot keys named in
``spark.chronon.join.salt.keys`` can additionally be split across kernel
groups by hash (``salt``) or by time chunk (``salt.time_days``) — see
`_salt_hot_keys` (exact results, verified by the temporal_join_salted
gate query and test_composite_skew).
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chronon_spark.api import (
    PARTITION_COLUMN,
    TIME_COLUMN,
    AggregationPart,
    GroupBy,
    Join,
    JoinPart,
    Operation,
)
from chronon_spark.operators.groupby import (
    _apply_derivations,
    _union_sources,
    window_days,
)
from chronon_spark.operators.sawtooth import sawtooth_aggregate, sawtooth_segments
from chronon_spark.partitions import DEFAULT_SPEC, PartitionRange, PartitionSpec


def _temporal_scan_range(group_by, rng, spec) -> Optional[PartitionRange]:
    """Right-side scan widening for TEMPORAL accuracy.

    Unlike snapshot windows (which end at end-of-day and need N-1 days of
    lookback), a query at the very start of day X with an N-day window
    reaches back to day X-N, and the sawtooth tail rounds DOWN by up to
    one hop (<= 1 day) further — so widen by N+1 days. Regression: a
    step-chunked backfill must equal the single-pass compute.
    """
    if rng is None or rng.start is None:
        return rng
    lookbacks = [window_days(p) for p in group_by.aggregation_parts()]
    if any(d is None for d in lookbacks):
        return PartitionRange(None, rng.end, spec)  # lifetime: full history
    max_days = max(lookbacks, default=1)
    return PartitionRange(spec.shift(rng.start, -(max_days + 1)), rng.end, spec)

_ARRAY_OPS = (
    Operation.FIRST_K,
    Operation.LAST_K,
    Operation.TOP_K,
    Operation.BOTTOM_K,
    Operation.UNIQUE_TOP_K,
)
_MAP_OPS = (
    Operation.HISTOGRAM,
    Operation.APPROX_FREQUENT_K,
    Operation.APPROX_HEAVY_HITTERS_K,
)
_LONG_OPS = (Operation.COUNT, Operation.UNIQUE_COUNT, Operation.APPROX_UNIQUE_COUNT)
_DOUBLE_OPS = (
    Operation.AVERAGE,
    Operation.VARIANCE,
    Operation.SKEW,
    Operation.KURTOSIS,
)


def output_sql_type(part: AggregationPart, input_type: str) -> str:
    """Spark SQL type of one feature column given its input column type.

    array<T> inputs auto-explode (elements aggregate individually), so the
    value type derives from the ELEMENT type; bucketed parts wrap the value
    in map<string, _> (reference: BucketedColumnAggregator)."""
    map_input = False
    if input_type.startswith("array<") and input_type.endswith(">"):
        input_type = input_type[len("array<"):-1]
    elif input_type.startswith("map<") and input_type.endswith(">"):
        # per-map-key aggregation of the VALUE type -> map output
        map_input = True
        input_type = input_type[len("map<"):-1].split(",", 1)[1].strip()
    op = part.operation
    if op in _LONG_OPS:
        base = "bigint"
    elif op in _DOUBLE_OPS:
        base = "double"
    elif op == Operation.SUM:
        base = "double" if input_type in ("double", "float") else "bigint"
    elif op in (Operation.MIN, Operation.MAX):
        base = "double" if input_type in ("double", "float") else input_type
    elif op in (Operation.FIRST, Operation.LAST):
        base = input_type
    elif op in _ARRAY_OPS:
        base = f"array<{input_type}>"
    elif op in _MAP_OPS:
        base = "map<string,bigint>"
    elif op == Operation.APPROX_PERCENTILE:
        base = "array<double>"
    else:
        raise NotImplementedError(str(op))
    if part.bucket is not None or map_input:
        return f"map<string,{base}>"
    return base


def _np_col(pdf: pd.DataFrame, col: str, input_type: str) -> np.ndarray:
    """pandas column -> kernel array: floats w/ NaN nulls for numerics,
    object w/ None for the rest."""
    s = pdf[col]
    if input_type in ("double", "float", "bigint", "int", "smallint", "tinyint", "boolean"):
        return s.astype("float64").to_numpy()
    return s.to_numpy(dtype=object)


def _emit(res: np.ndarray, sql_type: str):
    """kernel output -> pandas column matching the Arrow schema."""
    if sql_type == "bigint":
        if res.dtype == object:
            # round, don't truncate: prefix-sum floats of exact integers can
            # sit epsilon below the true integer
            return pd.array(
                [None if v is None or v != v else int(round(v)) for v in res],
                dtype="Int64",
            )
        if res.dtype.kind == "f":
            mask = np.isnan(res)
            ints = np.where(mask, 0, np.round(res)).astype(np.int64)
            return pd.arrays.IntegerArray(ints, mask)
        return pd.array(res, dtype="Int64")
    if sql_type in ("int", "smallint"):
        return pd.array(
            [None if v is None or v != v else int(round(v)) for v in res], dtype="Int32"
        )
    if sql_type == "double":
        # kernel convention: NaN == null. Use the masked Float64 array so
        # Arrow writes genuine SQL NULLs (plain float64 NaN survives as NaN).
        if res.dtype == object:
            vals = np.array(
                [np.nan if v is None else float(v) for v in res], dtype=np.float64
            )
        else:
            vals = res.astype(np.float64, copy=False)
        return pd.arrays.FloatingArray(vals.copy(), np.isnan(vals))
    return pd.Series(list(res), dtype=object)


def _empty_feature(part: AggregationPart, sql_type: str, nq: int):
    """Feature column for left rows whose key has NO right rows."""
    if part.bucket is not None or sql_type.startswith("map<"):
        return pd.Series([{} for _ in range(nq)], dtype=object)
    if part.operation in (Operation.COUNT, Operation.UNIQUE_COUNT):
        return _emit(np.zeros(nq, dtype=np.int64), sql_type)
    if part.operation in _ARRAY_OPS:
        return pd.Series([[] for _ in range(nq)], dtype=object)
    if part.operation in _MAP_OPS:
        return pd.Series([{} for _ in range(nq)], dtype=object)
    return _emit(np.full(nq, None, dtype=object), sql_type)


def _norm_key(s: pd.Series, spark_type: str) -> pd.Series:
    """Coerce a key column to the right side's Spark type so factorize
    agrees with the bucket hash (which casts left keys Spark-side): int 5
    and string '5' must match when the declared key type is string."""
    if spark_type == "string":
        return s.map(lambda v: None if v is None else str(v))
    if spark_type in ("bigint", "int", "smallint", "tinyint"):
        return pd.to_numeric(s, errors="coerce").astype("Int64")
    if spark_type in ("double", "float"):
        return pd.to_numeric(s, errors="coerce").astype("float64")
    return s


def _segment_codes(
    lpdf: pd.DataFrame,
    rpdf: pd.DataFrame,
    left_keys: list[str],
    right_keys: list[str],
    key_types: Optional[list[str]] = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Joint integer codes for composite keys across both frames —
    vectorized (np.unique over concatenated values per key column)."""
    nl = len(lpdf)
    lcode = np.zeros(nl, dtype=np.int64)
    rcode = np.zeros(len(rpdf), dtype=np.int64)
    key_types = key_types or [None] * len(left_keys)
    for lk, rk, kt in zip(left_keys, right_keys, key_types):
        lv, rv = lpdf[lk], rpdf[rk]
        if kt is not None and lv.dtype != rv.dtype:
            lv, rv = _norm_key(lv, kt), _norm_key(rv, kt)
        both = pd.concat([lv, rv], ignore_index=True)
        codes, uniq = pd.factorize(both, use_na_sentinel=False)
        n = len(uniq)
        lcode = lcode * n + codes[:nl]
        rcode = rcode * n + codes[nl:]
    return lcode, rcode


_NUMERIC_BUF = ("double", "bigint", "int", "smallint")


def _join_buckets(spark: SparkSession) -> int:
    """Cogroup bucket count: spark.chronon.join.buckets, default 8x the
    shuffle partitions — at cluster scale size it so a bucket's rows fit
    executor memory."""
    return int(
        spark.conf.get(
            "spark.chronon.join.buckets",
            str(8 * int(spark.conf.get("spark.sql.shuffle.partitions", "32"))),
        )
    )


def _kernel_columns(types: dict, parts: list[AggregationPart], prefix: str = ""):
    """What a kernel reads and writes: the sorted input columns (values and
    buckets), the array- and map-typed ones among them, and one
    (name, sql type) per feature column."""
    input_cols = sorted(
        {p.input_column for p in parts} | {p.bucket for p in parts if p.bucket}
    )
    array_inputs = {c for c in input_cols if types[c].startswith("array<")}
    map_inputs = {c for c in input_cols if types[c].startswith("map<")}
    feature_fields = [
        (f"{prefix}{p.output_name}", output_sql_type(p, types[p.input_column]))
        for p in parts
    ]
    return input_cols, array_inputs, map_inputs, feature_fields


def _sawtooth_by_key(
    qcode: np.ndarray,
    qts: np.ndarray,
    ecode: np.ndarray,
    ets: np.ndarray,
    evals: dict[str, np.ndarray],
    parts: list[AggregationPart],
    feature_fields: list[tuple[str, str]],
    array_inputs: set[str],
    map_inputs: set[str],
) -> dict[str, np.ndarray]:
    """The sawtooth entry point shared by the join and self kernels.

    Queries (qcode, qts) and events (ecode, ets, evals) are each sorted by
    (key code, ts). Plain parts run as ONE `sawtooth_segments` call for
    the whole bucket: every query's window comes from searchsorted over
    packed (key, ts) event keys, and each op builds its tables once.
    Bucketed and map-input parts still call `sawtooth_aggregate` once per
    query key, on array views of that key's events. Returns feature name
    -> buffer aligned with the sorted queries: numeric features accumulate
    in float64 (NaN = null, exact for int64 < 2^53) so emit stays
    vectorized; arrays, maps and strings use object buffers."""
    nq = len(qts)
    outs = {
        name: np.full(nq, np.nan) if t in _NUMERIC_BUF else np.full(nq, None, dtype=object)
        for name, t in feature_fields
    }
    if nq == 0:
        return outs

    def store(name, vals, rows=slice(None)):
        buf = outs[name]
        if buf.dtype != object and vals.dtype == object:
            vals = np.array([np.nan if v is None else v for v in vals], dtype=np.float64)
        buf[rows] = vals

    names = {p.output_name: name for (name, _), p in zip(feature_fields, parts)}
    plain = [p for p in parts if p.bucket is None and p.input_column not in map_inputs]
    grouped = [p for p in parts if p not in plain]
    if plain:
        feats = sawtooth_segments(ecode, ets, evals, qcode, qts, plain, array_inputs)
        for out_name, vals in feats.items():
            store(names[out_name], vals)
    if not grouped:
        return outs
    starts = np.flatnonzero(np.diff(qcode, prepend=qcode[0] - 1))
    ends = np.append(starts[1:], nq)
    e0 = np.searchsorted(ecode, qcode[starts], side="left")
    e1 = np.searchsorted(ecode, qcode[starts], side="right")
    for s, e, r0, r1 in zip(starts.tolist(), ends.tolist(), e0.tolist(), e1.tolist()):
        feats = sawtooth_aggregate(
            ets[r0:r1], {c: v[r0:r1] for c, v in evals.items()}, qts[s:e], grouped,
            array_inputs=array_inputs, map_inputs=map_inputs,
        )
        for out_name, vals in feats.items():
            store(names[out_name], vals, slice(s, e))
    return outs


def _salt_hot_keys(
    spark: SparkSession,
    left_df: DataFrame,
    right_df: DataFrame,
    left_keys: list[str],
    right_keys: list[str],
    parts: list[AggregationPart],
):
    """Targeted hot-key salting: the keys named in
    spark.chronon.join.salt.keys (comma-separated values of the FIRST join
    key) get a `__salt` cogroup key so their rows spread over several
    kernel groups; every other key takes salt 0, the plain path.

    * ``spark.chronon.join.salt = S`` (QUERY-heavy keys): a hot key's left
      rows spread over S salts by a ts-derived hash and only its right rows
      replicate S times. Measured 2.03x on a 32M-row join whose viral key
      holds 1/3 of the queries (16 cores).
    * ``spark.chronon.join.salt.time_days = D`` (EVENT-heavy keys, where
      every hash slice would re-process all the key's events): the hot
      key's queries shard by ts into D-day chunks and each event
      replicates only into the chunks whose queries can see it, so
      per-chunk input is the chunk's own traffic plus one window of
      lookback. Needs every part windowed. Measured 1.46x.

    Either mode without salt.keys, or both together, raises ValueError.
    salt.keys is required because salting EVERY key replicates the whole
    right side S times: on a 32M-row join with one 3% key that was ~1.5x
    slower than no salting (best pass 67.2 s vs 44.3 s, same session).
    Returns the (possibly salted) frames and key lists."""
    salt = int(spark.conf.get("spark.chronon.join.salt", "1"))
    time_days = int(spark.conf.get("spark.chronon.join.salt.time_days", "0"))
    if salt <= 1 and time_days <= 0:
        return left_df, right_df, left_keys, right_keys
    if salt > 1 and time_days > 0:
        raise ValueError(
            "spark.chronon.join.salt and spark.chronon.join.salt.time_days "
            "are exclusive salting modes; set one")
    salt_keys = [
        s for s in spark.conf.get("spark.chronon.join.salt.keys", "").split(",")
        if s != ""
    ]
    if not salt_keys:
        raise ValueError(
            "spark.chronon.join.salt and spark.chronon.join.salt.time_days "
            "require spark.chronon.join.salt.keys")
    l_hot = F.col(left_keys[0]).cast("string").isin(salt_keys)
    r_hot = F.col(right_keys[0]).cast("string").isin(salt_keys)
    if time_days > 0:
        unbounded = [p.output_name for p in parts if p.window is None]
        if unbounded:
            raise ValueError(
                "time-sharded salting needs every part windowed; "
                f"unbounded: {unbounded}")
        span = time_days * 86_400_000
        max_w = max(p.window.millis for p in parts)
        # an event at ts serves query chunks floor(ts/span) ..
        # floor((ts + max_w + hop)/span): the sawtooth tail rounds the
        # window start DOWN by up to one hop (hop <= 1 day for every
        # window size), so the visibility horizon is max_w + hop, not
        # max_w — bound with a full day to stay safe for all hops
        reps = (max_w + 86_400_000) // span + 2
        l_salt = (
            F.when(l_hot, F.floor(F.col(TIME_COLUMN) / F.lit(span)))
            .otherwise(F.lit(0)).cast("long")
        )
        chunk0 = F.floor(F.col(TIME_COLUMN) / F.lit(span)).cast("long")
        r_salts = F.array_distinct(
            F.array(*[chunk0 + F.lit(i).cast("long") for i in range(reps)])
        )
    else:
        l_salt = F.when(
            l_hot,
            F.pmod(F.xxhash64(*[F.col(k) for k in left_keys], F.col(TIME_COLUMN)),
                   F.lit(salt)),
        ).otherwise(F.lit(0).cast("long"))
        r_salts = F.array(*[F.lit(i).cast("long") for i in range(salt)])
    left_df = left_df.withColumn("__salt", l_salt)
    right_df = right_df.withColumn(
        "__salt",
        F.explode(F.when(r_hot, r_salts).otherwise(F.array(F.lit(0).cast("long")))),
    )
    return left_df, right_df, list(left_keys) + ["__salt"], list(right_keys) + ["__salt"]


def temporal_features(
    left_df: DataFrame,
    right_df: DataFrame,
    left_keys: list[str],
    right_keys: list[str],
    parts: list[AggregationPart],
    prefix: str = "",
) -> DataFrame:
    """Enrich every left row with point-in-time features from right_df.

    left_df: any columns + `ts` (epoch millis long) + left_keys.
    right_df: right_keys + ts + the parts' input columns.
    Returns left_df columns + one `{prefix}{output_name}` column per part.
    All left columns pass through, so duplicate left rows are preserved
    (reference duplicates the left in tests: EventsEventsTemporalTest.scala:75-76).

    Physical plan: both sides are cogrouped on `pmod(xxhash64(keys),
    buckets)` — NOT on the raw key — and the kernel processes every key in
    the bucket from one Arrow batch. PySpark's cogroup serde costs
    milliseconds PER GROUP, so per-key grouping caps throughput at a few
    hundred groups/sec/core; bucketing amortizes that over thousands of
    keys, and `_sawtooth_by_key` answers all of the bucket's keys with one
    bucket-level kernel call.
    The bucket count comes from `_join_buckets`; hot keys may be salted
    (`_salt_hot_keys`).
    """
    spark = left_df.sparkSession
    buckets = _join_buckets(spark)
    left_df, right_df, left_keys, right_keys = _salt_hot_keys(
        spark, left_df, right_df, left_keys, right_keys, parts)
    right_types = dict(right_df.dtypes)
    input_cols, array_inputs, map_inputs, feature_fields = _kernel_columns(
        right_types, parts, prefix)
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in left_df.schema.fields]
        + [f"`{n}` {t}" for n, t in feature_fields]
    )
    left_cols = [f.name for f in left_df.schema.fields]
    right_needed = list(dict.fromkeys(right_keys + [TIME_COLUMN] + input_cols))
    # fresh aliases mint new exprIds so a self-cogroup (left derived from the
    # same scan as right) doesn't get its shared attributes deduplicated away
    right_slim = (
        right_df.select(*[F.col(c).alias(c) for c in right_needed])
        .where(F.col(TIME_COLUMN).isNotNull())
    )
    # hash on type-aligned keys so both sides bucket identically
    lkey_exprs = [
        F.col(lk).cast(right_types[rk]) for lk, rk in zip(left_keys, right_keys)
    ]
    l_bucket = F.pmod(F.xxhash64(*lkey_exprs), F.lit(buckets))
    r_bucket = F.pmod(F.xxhash64(*[F.col(k) for k in right_keys]), F.lit(buckets))

    def kernel(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if len(lpdf) == 0:
            return pd.DataFrame(columns=left_cols + [n for n, _ in feature_fields])
        nq = len(lpdf)
        out = lpdf[left_cols].copy().reset_index(drop=True)
        if len(rpdf) == 0:
            for (name, sql_type), part in zip(feature_fields, parts):
                out[name] = _empty_feature(part, sql_type, nq)
            return out
        lcode, rcode = _segment_codes(
            lpdf, rpdf, left_keys, right_keys,
            [right_types[rk] for rk in right_keys],
        )
        lts = lpdf[TIME_COLUMN].to_numpy().astype(np.int64)
        rts = rpdf[TIME_COLUMN].to_numpy().astype(np.int64)
        lorder = np.lexsort((lts, lcode))
        rorder = np.lexsort((rts, rcode))
        bufs = _sawtooth_by_key(
            lcode[lorder], lts[lorder], rcode[rorder], rts[rorder],
            {c: _np_col(rpdf, c, right_types[c])[rorder] for c in input_cols},
            parts, feature_fields, array_inputs, map_inputs,
        )
        for name, sql_type in feature_fields:
            buf = np.empty_like(bufs[name])
            buf[lorder] = bufs[name]
            out[name] = _emit(buf, sql_type)
        return out

    grouped = left_df.groupBy(l_bucket.alias("__bucket")).cogroup(
        right_slim.groupBy(r_bucket.alias("__bucket"))
    )
    # both salting modes key the cogroup on `__salt`; it is never output
    return grouped.applyInPandas(kernel, schema=out_schema).drop("__salt")


def temporal_self_features(
    df: DataFrame,
    keys: list[str],
    parts: list[AggregationPart],
    query_lo: Optional[int] = None,
    query_hi: Optional[int] = None,
) -> DataFrame:
    """TEMPORAL GroupBy fast path: features for every source row as-of its
    OWN `ts` (reference: GroupBy.temporalEvents with the source as its
    own query set).

    The generic cogroup plan would scan and shuffle the SAME table twice
    (left = queries, right = events) and sort both sides. Here the table
    flows through ONE scan -> ONE hash shuffle -> ONE sort ->
    applyInPandas, and the kernel serves each row's query from the very
    batch it arrived in — half the shuffle bytes and half the Arrow
    serde of the join path, which is exactly the memory-bandwidth-bound
    portion at high parallelism. The bucket count comes from
    `_join_buckets`.

    `query_lo`/`query_hi` (epoch ms) bound WHICH rows emit output (the
    backfill range) while all rows still feed window state — the self
    analog of the join path's lookback-widened right scan.
    """
    buckets = _join_buckets(df.sparkSession)
    types = dict(df.dtypes)
    input_cols, array_inputs, map_inputs, feature_fields = _kernel_columns(types, parts)
    out_cols = keys + [TIME_COLUMN]
    slim = (
        df.select(*dict.fromkeys(out_cols + input_cols))
        .where(F.col(TIME_COLUMN).isNotNull())
    )
    out_schema = ", ".join(
        [f"`{c}` {types[c]}" for c in out_cols]
        + [f"`{n}` {t}" for n, t in feature_fields]
    )
    bucket = F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(buckets))
    lo = -(1 << 62) if query_lo is None else int(query_lo)
    hi = (1 << 62) if query_hi is None else int(query_hi)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame(columns=out_cols + [f for f, _ in feature_fields])
        code = np.zeros(len(pdf), dtype=np.int64)
        for k in keys:
            codes, uniq = pd.factorize(pdf[k], use_na_sentinel=False)
            code = code * len(uniq) + codes
        ts = pdf[TIME_COLUMN].to_numpy().astype(np.int64)
        order = np.lexsort((ts, code))
        code_s, ts_s = code[order], ts[order]
        # the rows in [lo, hi) are the queries; every row is an event
        qsel = np.flatnonzero((ts_s >= lo) & (ts_s < hi))
        bufs = _sawtooth_by_key(
            code_s[qsel], ts_s[qsel], code_s, ts_s,
            {c: _np_col(pdf, c, types[c])[order] for c in input_cols},
            parts, feature_fields, array_inputs, map_inputs,
        )
        out = pdf.iloc[order[qsel]][out_cols].reset_index(drop=True)
        for name, sql_type in feature_fields:
            out[name] = _emit(bufs[name], sql_type)
        return out

    return slim.groupBy(bucket.alias("__bucket")).applyInPandas(
        kernel, schema=out_schema
    )


def compute_temporal_join_part(
    spark: SparkSession,
    left_df: DataFrame,
    join_part: JoinPart,
    rng: Optional[PartitionRange] = None,
    spec: PartitionSpec = DEFAULT_SPEC,
    skew_keys: Optional[dict] = None,
    probe_df: Optional[DataFrame] = None,
) -> DataFrame:
    """One join part: scan right GroupBy sources (lookback-widened),
    cogroup with the left, run the sawtooth kernel.

    `probe_df` (default: left_df) supplies the left keys for the
    small/mid-size right-scan filters — callers chaining several parts
    pass the RAW left scan so probing doesn't re-execute the upstream
    cogroups."""
    gb = join_part.group_by
    scan_rng = _temporal_scan_range(gb, rng, spec)
    right = _union_sources(spark, gb, scan_rng, spec)
    parts = gb.aggregation_parts()
    key_map = join_part.right_to_left_keys()  # gb key -> left col
    left_keys = [key_map[k] for k in gb.key_columns]
    # skew keys excluded from the left must be excluded from the RIGHT scan
    # too (reference: JoinUtils.skewFilter:330-382 filters both sides) —
    # otherwise the hot keys' events are still scanned, shuffled and sorted
    # in their cogroup bucket for nothing.
    if skew_keys:
        for gb_key, left_col in key_map.items():
            values = skew_keys.get(left_col) or skew_keys.get(gb_key)
            if values:
                right = right.where(
                    ~F.col(gb_key).isin(values) | F.col(gb_key).isNull()
                )
    probe = probe_df if probe_df is not None else left_df
    right = _right_key_filter(spark, probe, right, left_keys, gb.key_columns)
    prefix = join_part.full_prefix() + "_"
    return temporal_features(left_df, right, left_keys, gb.key_columns, parts, prefix)


def _right_key_filter(
    spark: SparkSession,
    left_df: DataFrame,
    right: DataFrame,
    left_keys: list[str],
    right_keys: list[str],
) -> DataFrame:
    """Two-tier right-scan reduction by left keys:

    * small mode (|left| <= 5k): literal IN-list pushdown — parquet
      row-group skipping (reference: JoinUtils.runSmallMode).
    * mid-size mode (5k < |left| <= 1M): broadcast LEFT-SEMI join of the
      right on the left's DISTINCT keys. The reference builds a bloom
      filter here (Join.scala:267-285, genBloomFilterIfNeeded); the
      broadcast-hash semi probe is the Spark-native equivalent with zero
      false positives and no separate filter-building pass — the probe
      sits directly above the right scan, so a 50k-row left no longer
      drags a full 100 TB right table through the shuffle.
    """
    filtered = _small_mode_filter(spark, left_df, right, left_keys, right_keys)
    if filtered is not right:
        return filtered
    return _midsize_semi_filter(spark, left_df, right, left_keys, right_keys)


def _midsize_semi_filter(
    spark: SparkSession,
    left_df: DataFrame,
    right: DataFrame,
    left_keys: list[str],
    right_keys: list[str],
) -> DataFrame:
    cutoff = int(spark.conf.get("spark.chronon.backfill.bloom.cutoff", "1000000"))
    if cutoff <= 0:
        return right
    # only worth paying the probe job + broadcast when the right scan is
    # big enough that skipping rows saves real IO (the reference gates its
    # bloom the same way, on leftRowCount vs threshold); the size estimate
    # comes free from file statistics — no job
    min_right = int(
        spark.conf.get("spark.chronon.backfill.bloom.min_right_bytes",
                       str(256 * 1024 * 1024))
    )
    try:
        right_bytes = int(
            right._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # pragma: no cover - non-file-backed plans
        right_bytes = 1 << 62
    if right_bytes < min_right:
        return right
    probe = left_df.select(*left_keys).limit(cutoff + 1)
    if probe.count() > cutoff:
        return right
    right_types = dict(right.dtypes)
    keys_df = (
        left_df.select(
            *[F.col(lk).cast(right_types[rk]).alias(f"__sj_{rk}")
              for lk, rk in zip(left_keys, right_keys)]
        )
        .distinct()
    )
    cond = None
    for rk in right_keys:
        c = F.col(rk).eqNullSafe(F.col(f"__sj_{rk}"))
        cond = c if cond is None else (cond & c)
    return right.join(F.broadcast(keys_df), cond, "left_semi")


def _small_mode_filter(
    spark: SparkSession,
    left_df: DataFrame,
    right: DataFrame,
    left_keys: list[str],
    right_keys: list[str],
) -> DataFrame:
    """Small-mode semi-join reduction (reference: JoinUtils.runSmallMode /
    injectKeyFilter, cutoff conf TableUtils.scala:54-57): when the left has
    few rows, push `key IN (...)` predicates into the right scan — Catalyst
    turns them into parquet row-group filters, so a tiny backfill touches a
    tiny slice of a 100TB right table. A per-key IN-list is a superset
    filter for composite keys (safe: extra right rows only cost compute)."""
    cutoff = int(spark.conf.get("spark.chronon.backfill.small_mode.cutoff", "5000"))
    if cutoff <= 0:
        return right
    sample = left_df.select(*left_keys).limit(cutoff + 1).collect()
    if len(sample) > cutoff:
        return right
    for lk, rk in zip(left_keys, right_keys):
        vals = {r[lk] for r in sample if r[lk] is not None}
        if vals:
            right = right.where(F.col(rk).isin(list(vals)))
    return right


def compute_temporal_join(
    spark: SparkSession,
    join: Join,
    rng: Optional[PartitionRange] = None,
    spec: PartitionSpec = DEFAULT_SPEC,
) -> DataFrame:
    """Full join: left source scanned once, then enriched per part.

    Single part: one co-partitioned cogroup over the left (no extra join).
    Multiple parts: each part cogroups a SLIM probe — (row_id, ts, the
    union of join-key columns) — and the feature columns merge back onto
    the left by row id at the end (the monolith analog of the modular
    MergeJob, reference MergeJob.scala:81-140). Chaining parts directly
    would push part 1..N-1's feature columns through part N's Arrow
    kernel serde: payload grows linearly with part count for nothing.
    Row ids are minted with monotonically_increasing_id over the scanned
    left — deterministic because the left plan below it is a parquet scan
    plus narrow ops (no round-robin repartition); the modular path
    materializes ids to disk for full re-execution safety."""
    from chronon_spark.sources.scan import scan_source

    left_df = scan_source(spark, join.left, rng, spec)
    left_df = _apply_skew_filter(left_df, join)
    if len(join.join_parts) <= 1:
        out = left_df
        for jp in join.join_parts:
            out = compute_temporal_join_part(
                spark, out, jp, rng, spec, skew_keys=join.skew_keys,
                probe_df=left_df,
            )
    else:
        row_id = "__row_id"
        base = left_df.withColumn(row_id, F.monotonically_increasing_id())
        need = {TIME_COLUMN}
        for jp in join.join_parts:
            need.update(jp.right_to_left_keys().values())
        slim = base.select(
            *[c for c in base.columns if c in need], row_id
        )
        out = base
        for jp in join.join_parts:
            pf = compute_temporal_join_part(
                spark, slim, jp, rng, spec, skew_keys=join.skew_keys,
                probe_df=left_df,
            )
            fcols = [c for c in pf.columns if c not in slim.columns]
            out = out.join(pf.select(row_id, *fcols), row_id, "left")
        out = out.drop(row_id)
    if join.derivations:
        from chronon_spark.api import apply_derivations

        ensure = list(join.row_ids or []) or _join_ensure_keys(join, left_df)
        out = apply_derivations(out, join.derivations, ensure)
    return out


def _join_ensure_keys(join: Join, left_df: DataFrame) -> list[str]:
    keys = []
    for jp in join.join_parts:
        km = jp.right_to_left_keys()
        keys.extend(km.values())
    keys.extend([TIME_COLUMN, PARTITION_COLUMN])
    return [k for k in dict.fromkeys(keys) if k in left_df.columns]


def _apply_skew_filter(left_df: DataFrame, join: Join) -> DataFrame:
    """skewKeys config -> NOT IN filters (reference: JoinUtils.skewFilter:330-382)."""
    if not join.skew_keys:
        return left_df
    for col, values in join.skew_keys.items():
        if col in left_df.columns:
            left_df = left_df.where(~F.col(col).isin(values) | F.col(col).isNull())
    return left_df


def compute_temporal_groupby(
    spark: SparkSession,
    group_by: GroupBy,
    rng: Optional[PartitionRange] = None,
    spec: PartitionSpec = DEFAULT_SPEC,
) -> DataFrame:
    """TEMPORAL-accuracy GroupBy backfill: every source event row becomes a
    query at its own timestamp (features as-of each event, head-inclusive
    so the row's own value is included — reference semantics for
    events-events temporal with the source as its own left).

    Runs on the SELF-cogroup fast path (one scan + one shuffle instead of
    the join path's two of each); the output range filter becomes ts
    bounds inside the kernel, and ds is re-derived from ts on the slim
    output."""
    scan_rng = _temporal_scan_range(group_by, rng, spec)
    df = _union_sources(spark, group_by, scan_rng, spec)
    keys = group_by.key_columns
    parts = group_by.aggregation_parts()
    lo = spec.epoch_millis(rng.start) if rng is not None and rng.start else None
    hi = (
        spec.epoch_millis(spec.after(rng.end))
        if rng is not None and rng.end
        else None
    )
    out = temporal_self_features(df, keys, parts, query_lo=lo, query_hi=hi)
    out = out.withColumn(
        PARTITION_COLUMN,
        F.date_format(F.timestamp_millis(F.col(TIME_COLUMN)), "yyyy-MM-dd"),
    )
    return _apply_derivations(out, group_by)
