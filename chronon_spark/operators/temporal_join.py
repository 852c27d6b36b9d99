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
``left.groupBy(bucket).cogroup(right.groupBy(bucket)).applyInArrow(kernel)``.
cogroup-apply is exactly union+groupBy at the shuffle level — each side is
hash-partitioned by key ONCE, co-located, and handed to the vectorized
kernel as Arrow tables, which it reads as numpy with no pandas layer;
there is no join explosion and no per-row Python.
Skew controls: AQE on; the bucket-hash grouping is itself a generalized
salt (hot keys share buckets with other keys); a Join step splits each key
above fair share across kernel groups, by hash or by time chunk
(`LeftProbe`, `_split_decision`, `_salt_hot_keys`; exact results).
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, replace
from functools import reduce
from operator import and_, or_
from typing import Optional

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import DataType, StructType

from chronon_spark.api import (
    PARTITION_COLUMN,
    TIME_COLUMN,
    Accuracy,
    AggregationPart,
    GroupBy,
    Join,
    JoinPart,
    Operation,
)
from chronon_spark.operators.groupby import (
    DAY_MS,
    _apply_derivations,
    _union_sources,
    window_days,
)
from chronon_spark.operators.sawtooth import sawtooth_segments
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


def _np_col(table: pa.Table, col: str, input_type: str) -> np.ndarray:
    """Arrow column -> kernel array: float64 with NaN nulls for numerics,
    object with None for the rest (map values as dicts)."""
    arr = table.column(col)
    if input_type in ("double", "float", "bigint", "int", "smallint", "tinyint", "boolean"):
        return arr.cast(pa.float64()).to_numpy()
    vals = arr.to_pylist()
    if input_type.startswith("map<"):
        vals = [None if v is None else dict(v) for v in vals]
    return np.fromiter(vals, dtype=object, count=len(vals))


def _to_arrow(buf: np.ndarray, sql_type: DataType) -> pa.Array:
    """Kernel buffer -> Arrow array of the output column's type. NaN and
    None are NULL. Numbers are rounded before any cast to an integer type:
    prefix sums of exact integers can sit an epsilon below them."""
    typ = to_arrow_type(sql_type)
    if not (pa.types.is_integer(typ) or pa.types.is_floating(typ)
            or pa.types.is_boolean(typ)):
        return pa.array(buf, type=typ, from_pandas=True)
    if buf.dtype == object:
        buf = pa.array(buf, type=pa.float64(), from_pandas=True).to_numpy(
            zero_copy_only=False)
    mask = np.isnan(buf)
    if pa.types.is_integer(typ):
        buf = np.round(buf)
    return pa.array(buf, mask=mask).cast(typ)


def _key_codes(cols: list[pa.ChunkedArray]) -> np.ndarray:
    """One integer code per row for a composite key: each key column is
    dictionary-encoded (NULL is a value of its own, codes in order of
    first appearance) and the codes combine in mixed radix."""
    code = np.zeros(len(cols[0]), dtype=np.int64)
    for col in cols:
        enc = col.combine_chunks().dictionary_encode(null_encoding="encode")
        code = code * len(enc.dictionary) + enc.indices.to_numpy()
    return code


_NUMERIC_BUF = ("double", "bigint", "int", "smallint")


def _join_buckets(spark: SparkSession) -> int:
    """Cogroup bucket count: 8x the shuffle partitions. At cluster scale,
    size the shuffle partitions so a bucket's rows fit executor memory."""
    return 8 * int(spark.conf.get("spark.sql.shuffle.partitions", "32"))


def _with_features(out: pa.Table, features: StructType, bufs: dict) -> pa.Table:
    for f in features.fields:
        out = out.append_column(f.name, _to_arrow(bufs[f.name], f.dataType))
    return out


def _feature_schema(feature_fields: list[tuple[str, str]]) -> StructType:
    return DataType.fromDDL(", ".join(f"`{n}` {t}" for n, t in feature_fields))


def _cogroup_features(
    left_df: DataFrame,
    right_df: DataFrame,
    left_keys: list,
    right_keys: list[str],
    feature_fields: list[tuple[str, str]],
    body,
) -> DataFrame:
    """The cogroup frame of the as-of join and mutation replay.

    Both sides group on `pmod(xxhash64(keys), buckets)` and each bucket is
    one Arrow kernel call. A left key is a column name or an expression;
    one that is an expression or whose type differs from the right key's
    is cast to the right type Spark-side and ships as a kernel-only column,
    so the bucket hash and the kernel's key codes see one type.
    `body(left, right, lcode, rcode)` gets the bucket's two Arrow tables
    and each row's joint key code, and returns feature name -> buffer
    aligned with the left rows. The frame passes every column of left_df
    through and appends the features."""
    buckets = _join_buckets(left_df.sparkSession)
    right_types = dict(right_df.dtypes)
    left_types = dict(left_df.dtypes)
    features = _feature_schema(feature_fields)
    schema = StructType(left_df.schema.fields + features.fields)
    left_cols = left_df.columns
    lkeys = []
    for i, (lk, rk) in enumerate(zip(left_keys, right_keys)):
        if not isinstance(lk, str) or left_types[lk] != right_types[rk]:
            expr = F.col(lk) if isinstance(lk, str) else lk
            lk = f"__key{i}"
            left_df = left_df.withColumn(lk, expr.cast(right_types[rk]))
        lkeys.append(lk)

    def kernel(left: pa.Table, right: pa.Table) -> pa.Table:
        code = _key_codes([
            pa.chunked_array(left.column(lk).chunks + right.column(rk).chunks,
                             type=right.schema.field(rk).type)
            for lk, rk in zip(lkeys, right_keys)
        ])
        nl = left.num_rows
        bufs = body(left, right, code[:nl], code[nl:])
        return _with_features(left.select(left_cols), features, bufs)

    l_bucket = F.pmod(F.xxhash64(*[F.col(k) for k in lkeys]), F.lit(buckets))
    r_bucket = F.pmod(F.xxhash64(*[F.col(k) for k in right_keys]), F.lit(buckets))
    grouped = left_df.groupBy(l_bucket.alias("__bucket")).cogroup(
        right_df.groupBy(r_bucket.alias("__bucket")))
    return grouped.applyInArrow(kernel, schema=schema)


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
    (key code, ts). Every part of the bucket, for every key, comes from ONE
    `sawtooth_segments` call: each query's window comes from searchsorted
    over packed (segment, ts) event keys, and each op builds its tables
    once; bucketed and map-input parts segment by (key, label). A bucket
    with no events runs the same way and gives every query the
    empty-window value. Returns feature name -> buffer aligned with the
    sorted queries: numeric features accumulate in float64 (NaN = null,
    exact for int64 < 2^53) so emit stays vectorized; arrays, maps and
    strings use object buffers."""
    nq = len(qts)
    outs = {
        name: np.full(nq, np.nan) if t in _NUMERIC_BUF else np.full(nq, None, dtype=object)
        for name, t in feature_fields
    }
    if nq == 0:
        return outs
    names = {p.output_name: name for (name, _), p in zip(feature_fields, parts)}
    feats = sawtooth_segments(ecode, ets, evals, qcode, qts, parts, array_inputs,
                              map_inputs)
    for out_name, vals in feats.items():
        buf = outs[names[out_name]]
        if buf.dtype != object and vals.dtype == object:
            vals = np.array([np.nan if v is None else v for v in vals], dtype=np.float64)
        buf[:] = vals
    return outs


@dataclass(frozen=True)
class HotKey:
    """A hot key's split (`key`: left-key values): its left rows spread over
    `shards` groups by a (keys, ts) hash or, if `days` > 0, into `days`-day
    chunks; `ts_range`, its left rows' first and last ts, bounds them."""

    key: tuple
    shards: int
    days: int = 0
    ts_range: Optional[tuple] = None


def _key_in(cols: list[str], keys) -> Column:
    """Whether a row's `cols` hold one of the key tuples in `keys`."""
    return reduce(or_, [reduce(and_, [F.col(c) == F.lit(v) for c, v in zip(cols, k)])
                        for k in keys])


def _salt_hot_keys(
    left_df: DataFrame,
    right_df: DataFrame,
    left_keys: list[str],
    right_keys: list[str],
    parts: list[AggregationPart],
    split: tuple,
):
    """Split each `HotKey` across kernel groups with a `__salt` cogroup
    key; every other key takes salt 0, the plain path. A hash split
    (query-heavy keys; 2.03x on a 32M-row join with a 1/3 viral key)
    replicates only the key's events, once per shard. Time shards
    (event-heavy keys, 1.46x) replicate each event only into the chunks
    whose queries can see it, and need every part windowed. Salting every
    key replicates the whole right side: ~1.5x slower with one 3% key."""
    if not split:
        return left_df, right_df, left_keys, right_keys
    if any(h.days for h in split) and any(p.window is None for p in parts):
        raise ValueError("time shards need every part windowed")
    l_case = r_case = F  # `F.when` opens each CASE, `Column.when` extends it
    for hot in split:
        if hot.days > 0:
            span = hot.days * DAY_MS
            # an event at ts serves query chunks floor(ts/span) ..
            # floor((ts + max_w + hop)/span): the sawtooth tail rounds the
            # window start DOWN by up to one hop (hop <= 1 day for every
            # window size), so the visibility horizon is max_w + hop, not
            # max_w — bound with a full day to stay safe for all hops
            reps = (max(p.window.millis for p in parts) + DAY_MS) // span + 2
            l_salt = F.floor(F.col(TIME_COLUMN) / F.lit(span)).cast("long")
            r_salts = F.sequence(l_salt, l_salt + F.lit(reps - 1))
            if hot.ts_range:
                first, last = (t // span for t in hot.ts_range)
                r_salts = F.filter(r_salts, lambda c: c.between(first, last))
        else:
            l_salt = F.pmod(F.xxhash64(*[F.col(k) for k in left_keys], F.col(TIME_COLUMN)),
                            F.lit(hot.shards))
            r_salts = F.sequence(F.lit(0).cast("long"), F.lit(hot.shards - 1).cast("long"))
        l_case = l_case.when(_key_in(left_keys, [hot.key]), l_salt)
        r_case = r_case.when(_key_in(right_keys, [hot.key]), r_salts)
    zero = F.lit(0).cast("long")
    left_df = left_df.withColumn("__salt", l_case.otherwise(zero))
    right_df = right_df.withColumn("__salt", F.explode(r_case.otherwise(F.array(zero))))
    return left_df, right_df, list(left_keys) + ["__salt"], list(right_keys) + ["__salt"]


def temporal_features(
    left_df: DataFrame,
    right_df: DataFrame,
    left_keys: list[str],
    right_keys: list[str],
    parts: list[AggregationPart],
    prefix: str = "",
    split: tuple = (),
) -> DataFrame:
    """Enrich every left row with point-in-time features from right_df.

    left_df: any columns + `ts` (epoch millis long) + left_keys.
    right_df: right_keys + ts + the parts' input columns.
    Returns left_df columns + one `{prefix}{output_name}` column per part.
    All left columns pass through, so duplicate left rows are preserved
    (reference duplicates the left in tests: EventsEventsTemporalTest.scala:75-76).

    Physical plan (`_cogroup_features`): both sides are cogrouped on
    `pmod(xxhash64(keys), buckets)` — NOT on the raw key — and the kernel
    processes every key in the bucket from one Arrow table. Each cogroup
    group is one Python call with its own Arrow streams, so a group per key
    would pay that fixed cost per key; `_sawtooth_by_key` answers all of
    the bucket's keys and parts with one bucket-level kernel call, also
    when the bucket holds no right rows. The bucket count comes from
    `_join_buckets`. `split` (`HotKey`s, default none) spreads those keys
    over several kernel groups (`_salt_hot_keys`).
    """
    left_df, right_df, left_keys, right_keys = _salt_hot_keys(
        left_df, right_df, left_keys, right_keys, parts, split)
    right_types = dict(right_df.dtypes)
    input_cols, array_inputs, map_inputs, feature_fields = _kernel_columns(
        right_types, parts, prefix)
    right_needed = list(dict.fromkeys(right_keys + [TIME_COLUMN] + input_cols))
    # fresh aliases mint new exprIds so a self-cogroup (left derived from the
    # same scan as right) doesn't get its shared attributes deduplicated away
    right_slim = (
        right_df.select(*[F.col(c).alias(c) for c in right_needed])
        .where(F.col(TIME_COLUMN).isNotNull())
    )

    def body(left: pa.Table, right: pa.Table, lcode, rcode) -> dict:
        lts = left.column(TIME_COLUMN).to_numpy().astype(np.int64)
        rts = right.column(TIME_COLUMN).to_numpy().astype(np.int64)
        lorder = np.lexsort((lts, lcode))
        rorder = np.lexsort((rts, rcode))
        bufs = _sawtooth_by_key(
            lcode[lorder], lts[lorder], rcode[rorder], rts[rorder],
            {c: _np_col(right, c, right_types[c])[rorder] for c in input_cols},
            parts, feature_fields, array_inputs, map_inputs,
        )
        back = np.argsort(lorder)  # each left row's position in sorted order
        return {name: buf[back] for name, buf in bufs.items()}

    out = _cogroup_features(left_df, right_slim, left_keys, right_keys,
                            feature_fields, body)
    # both splits key the cogroup on `__salt`; it is never output
    return out.drop("__salt")


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
    groupBy(...).applyInArrow, and the kernel serves each row's query from
    the very batch it arrived in — half the shuffle bytes and half the
    Arrow transfer of the join path, which is exactly the
    memory-bandwidth-bound portion at high parallelism. The bucket count
    comes from `_join_buckets`.

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
    features = _feature_schema(feature_fields)
    schema = StructType([slim.schema[c] for c in out_cols] + features.fields)
    bucket = F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(buckets))
    lo = -(1 << 62) if query_lo is None else int(query_lo)
    hi = (1 << 62) if query_hi is None else int(query_hi)

    def kernel(table: pa.Table) -> pa.Table:
        code = _key_codes([table.column(k) for k in keys])
        ts = table.column(TIME_COLUMN).to_numpy().astype(np.int64)
        order = np.lexsort((ts, code))
        code_s, ts_s = code[order], ts[order]
        # the rows in [lo, hi) are the queries; every row is an event
        qsel = np.flatnonzero((ts_s >= lo) & (ts_s < hi))
        bufs = _sawtooth_by_key(
            code_s[qsel], ts_s[qsel], code_s, ts_s,
            {c: _np_col(table, c, types[c])[order] for c in input_cols},
            parts, feature_fields, array_inputs, map_inputs,
        )
        return _with_features(table.select(out_cols).take(order[qsel]), features, bufs)

    return slim.groupBy(bucket.alias("__bucket")).applyInArrow(kernel, schema=schema)


def compute_temporal_join_part(
    spark: SparkSession,
    left_df: DataFrame,
    join_part: JoinPart,
    rng: Optional[PartitionRange] = None,
    spec: PartitionSpec = DEFAULT_SPEC,
    skew_keys: Optional[dict] = None,
    probe: Optional[LeftProbe] = None,
) -> DataFrame:
    """One join part: scan right GroupBy sources (lookback-widened),
    cogroup with the left, run the sawtooth kernel. `probe`, the step's
    `LeftProbe` of the part's left keys (default: a probe of `left_df`),
    picks the right-scan reduction and the hot-key split."""
    gb = join_part.group_by
    scan_rng = _temporal_scan_range(gb, rng, spec)
    right = _union_sources(spark, gb, scan_rng, spec)
    parts = gb.aggregation_parts()
    key_map = join_part.right_to_left_keys()  # gb key -> left col
    left_keys = [key_map[k] for k in gb.key_columns]
    # skew keys leave the RIGHT scan too (reference: JoinUtils.skewFilter
    # :330-382 filters both sides), or their events are shuffled for nothing
    for gb_key, left_col in key_map.items() if skew_keys else ():
        values = skew_keys.get(left_col) or skew_keys.get(gb_key)
        if values:
            right = right.where(~F.col(gb_key).isin(values) | F.col(gb_key).isNull())
    probe = probe or LeftProbe(spark, left_df, left_keys)
    # the split first: its exact left count spares the semi-join's count
    split = _split_decision(probe, right, gb.key_columns, parts)
    right = _right_key_filter(spark, probe, right, gb.key_columns)
    return temporal_features(left_df, right, left_keys, gb.key_columns, parts,
                             join_part.full_prefix() + "_", split)


class LeftProbe:
    """A Join step's one bounded look at its left keys, shared by its
    temporal parts over them: `left.select(keys).limit(n + 1)`, n the
    small-mode cutoff but at least 5,000. Counts run at most once."""

    def __init__(self, spark: SparkSession, left_df: DataFrame, keys):
        self.left_df, self.keys = left_df, list(keys)
        self.parallelism = spark.sparkContext.defaultParallelism
        cutoff = int(spark.conf.get("spark.chronon.backfill.small_mode.cutoff", "5000"))
        self.sample = left_df.select(*self.keys).limit(max(cutoff, 5000) + 1).collect()
        self.small = 0 < cutoff and len(self.sample) <= cutoff
        n = len(self.sample)
        self.rows = n if n <= max(cutoff, 5000) else None  # exact, once known
        self._at_most, self._hot = {}, None

    def at_most(self, n: int) -> bool:
        """Whether the left has at most n rows: counted at most once."""
        if self.rows is None and n >= len(self.sample) and n not in self._at_most:
            self._at_most[n] = self.left_df.select(*self.keys).limit(n + 1).count()
        return self._at_most.get(n, len(self.sample) if self.rows is None else self.rows) <= n

    def hot_keys(self) -> dict:
        """Left keys above fair share (1 / defaultParallelism of the rows)
        -> (rows, first ts, last ts): candidates from the probe, confirmed by
        one exact aggregate (a key-clustered left over-represents its first
        keys). No key of a left within the probe, nor one with a NULL."""
        if self._hot is None:
            n, fair = len(self.sample), self.parallelism
            cands = [k for k, c in Counter(map(tuple, self.sample)).items()
                     if c * fair > n and None not in k]
            self._hot = {}
            if cands and self.rows is None:
                stats = self.left_df.groupBy(
                    F.when(_key_in(self.keys, cands), F.struct(*self.keys)).alias("k")
                ).agg(F.count(F.lit(1)).alias("n"), F.min(TIME_COLUMN).alias("lo"),
                      F.max(TIME_COLUMN).alias("hi")).collect()
                self.rows = sum(r["n"] for r in stats)
                self._hot = {tuple(r["k"]): (r["n"], r["lo"], r["hi"]) for r in stats
                             if r["k"] is not None and r["n"] * fair > self.rows}
        return self._hot


def _split_decision(probe: LeftProbe, right: DataFrame, right_keys: list[str],
                    parts: list[AggregationPart]) -> tuple:
    """Each hot left key's `HotKey` for one part, from one count of `right`
    by hot key: ceil(its rows on both sides x parallelism / all rows)
    shards, at most the parallelism. A hash split when its queries outnumber
    its events; else time shards if every part is windowed, or none (each
    hash slice would re-process all its events)."""
    hot = probe.hot_keys()
    if not hot:
        return ()
    k = F.when(_key_in(right_keys, list(hot)), F.struct(*right_keys)).alias("k")
    counts = right.groupBy(k).count().collect()
    total = probe.rows + sum(r["count"] for r in counts)
    events = {tuple(r["k"]): r["count"] for r in counts if r["k"] is not None}
    split = []
    for key, (rows, lo, hi) in hot.items():
        ev = events.get(key, 0)
        shards = min(probe.parallelism, -(-(rows + ev) * probe.parallelism // total))
        if shards > 1 and ev < rows:
            split.append(HotKey(key, shards))
        elif shards > 1 and lo is not None and all(p.window is not None for p in parts):
            split.append(HotKey(key, shards, -(-(hi - lo + 1) // (shards * DAY_MS)), (lo, hi)))
    return tuple(split)


def _right_key_filter(
    spark: SparkSession,
    probe: LeftProbe,
    right: DataFrame,
    right_keys: list[str],
) -> DataFrame:
    """Two-tier right-scan reduction by the left keys of `probe`:

    * small mode (|left| <= 5k): literal IN-lists of the probe's rows, a
      superset filter for composite keys — parquet row-group skipping
      (reference: JoinUtils.runSmallMode, injectKeyFilter).
    * mid-size mode (5k < |left| <= 1M): broadcast LEFT-SEMI join of the
      right on the left's DISTINCT keys, right above the right scan — the
      reference's bloom filter (Join.scala:267-285, genBloomFilterIfNeeded)
      with zero false positives and no filter-building pass.
    """
    if probe.small:
        for lk, rk in zip(probe.keys, right_keys):
            vals = {r[lk] for r in probe.sample if r[lk] is not None}
            if vals:
                right = right.where(F.col(rk).isin(list(vals)))
        return right
    cutoff = int(spark.conf.get("spark.chronon.backfill.bloom.cutoff", "1000000"))
    # only worth a count job + broadcast when the right scan is big enough
    # that skipping rows saves real IO (the reference gates its bloom on
    # leftRowCount the same way); file statistics give the size, no job
    min_right = int(spark.conf.get("spark.chronon.backfill.bloom.min_right_bytes",
                                   str(256 * 1024 * 1024)))
    try:
        right_bytes = int(right._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # pragma: no cover - non-file-backed plans
        right_bytes = 1 << 62
    if cutoff <= 0 or right_bytes < min_right or not probe.at_most(cutoff):
        return right
    right_types = dict(right.dtypes)
    keys_df = probe.left_df.select(*[
        F.col(lk).cast(right_types[rk]).alias(f"__sj_{rk}")
        for lk, rk in zip(probe.keys, right_keys)]).distinct()
    cond = reduce(and_, [F.col(rk).eqNullSafe(F.col(f"__sj_{rk}")) for rk in right_keys])
    return right.join(F.broadcast(keys_df), cond, "left_semi")


def compute_temporal_join(
    spark: SparkSession,
    join: Join,
    rng: Optional[PartitionRange] = None,
    spec: PartitionSpec = DEFAULT_SPEC,
) -> DataFrame:
    """`compute_join` with every aggregating part forced to TEMPORAL
    accuracy, whatever its GroupBy declares or infers: features as of each
    left row's own timestamp. A part over an entity mutation log therefore
    runs the mutation replay; no-agg parts are unchanged."""
    from chronon_spark.operators.snapshot_join import compute_join

    parts = [
        replace(jp, group_by=replace(jp.group_by, accuracy=Accuracy.TEMPORAL))
        if jp.group_by.aggregations else jp
        for jp in join.join_parts
    ]
    return compute_join(spark, replace(join, join_parts=parts), rng, spec)


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
