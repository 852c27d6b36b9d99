"""GroupBy engine — snapshot accuracy (daily end-of-day feature values).

Semantics (reference: spark/.../GroupBy.scala):
  * events + SNAPSHOT accuracy: for each day `ds`, every window ends at
    end-of-day — window of N days covers
    ts >= (epoch(ds) - 86400*(N-1))*1000 AND ts < epoch(ds+1)*1000
    (golden SQL GroupByTest.scala:56-64, 103-117; shifted end times
    GroupBy.scala:156-159).
  * entities: aggregate within each daily snapshot partition.

Physical strategy (ours, Catalyst-native — replaces the reference's RDD
aggregateByKey + HopsAggregator machinery, GroupBy.scala:113-173):
  1. one shuffle: groupBy(keys, ds) computing partial IRs per day —
     map-side combine shrinks 100TB of events to |keys|x|days| rows.
  2. zero further shuffles: every window = Window.partitionBy(keys)
     .orderBy(day).rangeBetween(-(N-1), 0) over the SAME daily partials —
     the Catalyst analog of hop sharing (all windows reuse one pre-agg).
Scan range is widened by the max window lookback so window tails are
complete (reference: GroupBy.getIntersectedRange, GroupBy.scala:616-663).
"""

from __future__ import annotations

import math
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from chronon_spark.api import (
    PARTITION_COLUMN,
    TIME_COLUMN,
    Accuracy,
    AggregationPart,
    EntitySource,
    GroupBy,
    Operation,
    apply_derivations,
)
from chronon_spark.operators.agg_registry import _cmp_count_desc, finalize_rounding, spec_for
from chronon_spark.partitions import DEFAULT_SPEC, PartitionRange, PartitionSpec
from chronon_spark.sources.scan import scan_source

DAY_MS = 86_400_000
# ops planned as exploded per-value daily counts (_compute_hist_like_part and
# the bucketed twin); scalar and array exact UNIQUE_COUNT take the sweep instead
_HIST_LIKE = (
    Operation.HISTOGRAM,
    Operation.APPROX_FREQUENT_K,
    Operation.APPROX_HEAVY_HITTERS_K,
    Operation.UNIQUE_COUNT,
)


def window_days(part: AggregationPart) -> Optional[int]:
    """Snapshot accuracy rounds windows up to day granularity
    (DailyResolution, Resolution.scala:50-63)."""
    if part.window is None:
        return None
    return max(1, math.ceil(part.window.millis / DAY_MS))


def _union_sources(spark: SparkSession, group_by: GroupBy, scan_rng, spec) -> DataFrame:
    """Union multi-source GroupBys column-aligned by name
    (reference: GroupBy.scala:499-503)."""
    dfs = [scan_source(spark, s, scan_rng, spec) for s in group_by.sources]
    df = dfs[0]
    for other in dfs[1:]:
        df = df.unionByName(other, allowMissingColumns=True)
    # key null-filter: (k1 IS NOT NULL OR k2 IS NOT NULL ...) (GroupBy.scala:516-517)
    cond = None
    for k in group_by.key_columns:
        c = F.col(k).isNotNull()
        cond = c if cond is None else (cond | c)
    return df.where(cond) if cond is not None else df


def _scan_range(
    group_by: GroupBy, rng: Optional[PartitionRange], spec: PartitionSpec
) -> Optional[PartitionRange]:
    """Widen the requested output range by the max window lookback."""
    if rng is None or rng.start is None:
        return rng
    lookbacks = [window_days(p) for p in group_by.aggregation_parts()]
    if any(d is None for d in lookbacks):
        return PartitionRange(None, rng.end, spec)  # lifetime window: full history
    max_days = max(lookbacks, default=1)
    return PartitionRange(spec.shift(rng.start, -(max_days - 1)), rng.end, spec)


def _apply_derivations(df: DataFrame, group_by: GroupBy) -> DataFrame:
    """Reference projection semantics: "*" expands to unconsumed base
    columns; otherwise only keys/ds/ts + derived survive
    (api/.../Extensions.scala derivationProjection)."""
    ensure = list(group_by.key_columns) + [PARTITION_COLUMN, TIME_COLUMN]
    return apply_derivations(df, group_by.derivations, ensure)


def compute_snapshot_groupby(
    spark: SparkSession,
    group_by: GroupBy,
    rng: Optional[PartitionRange] = None,
    spec: PartitionSpec = DEFAULT_SPEC,
    dense: bool = False,
) -> DataFrame:
    """Snapshot-accuracy GroupBy: one output row per (keys, ds).

    ``dense=True`` emits a row for EVERY day in the output range per key
    (Chronon parity — a key with no event on `ds` but events within the
    window still gets a row); ``dense=False`` emits only days on which the
    key had at least one event (sparse — cheaper, and what the oracle
    checks use).
    """
    is_entity = any(
        isinstance(s, EntitySource) or getattr(s, "entity", False)
        for s in group_by.sources
    )
    parts = group_by.aggregation_parts()
    if not parts:  # no-agg passthrough (reference: NoAggTest)
        df = _union_sources(spark, group_by, rng, spec)
        return _apply_derivations(df, group_by)

    if is_entity:
        return _compute_entity_snapshot(spark, group_by, rng, spec)

    scan_rng = _scan_range(group_by, rng, spec)
    df = _union_sources(spark, group_by, scan_rng, spec)
    keys = group_by.key_columns
    dtypes = dict(df.dtypes)

    # dispatch parts: plain scalar / auto-explode (array) / map-valued /
    # bucketed / histogram-like (value-exploded plan) / exact unique count
    plain, by_array, mapped, bucketed, hist_like, utk_struct = [], {}, [], [], [], []
    bucketed_hist, hist_array, unique = [], [], []
    for p in parts:
        if p.bucket is not None:
            # hist-like bucketed ops get the exploded (bucket, value) plan —
            # the map-merge HOF shape is O(distinct^2) interpreted lambdas
            (bucketed_hist if p.operation in _HIST_LIKE else bucketed).append(p)
        elif (p.operation == Operation.UNIQUE_TOP_K
              and dtypes.get(p.input_column, "").startswith("struct<")):
            utk_struct.append(p)
        elif (p.operation == Operation.UNIQUE_COUNT
              and not dtypes.get(p.input_column, "").startswith("map<")):
            unique.append(p)
        elif dtypes.get(p.input_column, "").startswith("array<"):
            if p.operation in _HIST_LIKE:
                hist_array.append(p)
            else:
                by_array.setdefault(p.input_column, []).append(p)
        elif dtypes.get(p.input_column, "").startswith("map<"):
            mapped.append(p)
        elif p.operation in _HIST_LIKE:
            hist_like.append(p)
        else:
            plain.append(p)

    results = []
    if plain:
        results.append(_compute_plain_parts(df, keys, plain, rng, spec, dense))
    for p in unique:
        results.append(_compute_unique_count_part(df, keys, p, rng, spec, dense))
    for p in hist_like:
        results.append(_compute_hist_like_part(df, keys, p, rng, spec, dense))
    for p in hist_array:
        # array input: each element counts individually — explode, then the
        # same exploded-value plan as scalar hist-like ops
        exploded = _explode(df, p.input_column)
        results.append(_compute_hist_like_part(exploded, keys, p, rng, spec, dense))
    for p in bucketed_hist:
        results.append(_compute_bucketed_hist_part(df, keys, p, rng, spec, dense))
    for p in utk_struct:
        results.append(_compute_unique_topk_struct_part(df, keys, p, rng, spec, dense))
    for col, ps in by_array.items():
        # auto-explode: each list element aggregates individually
        # (reference: VectorDispatcher, ColumnAggregator.scala:208-217)
        results.append(_compute_plain_parts(_explode(df, col), keys, ps, rng, spec, dense))
    for p in mapped:
        # map<string, V> input: per-map-key aggregation == bucketed agg of
        # the exploded (key, value) pairs (reference: MapColumnAggregator)
        mk, mv = f"__mk_{p.input_column}", f"__mv_{p.input_column}"
        exploded = _explode(df, p.input_column, mk, mv)
        sub = AggregationPart(mv, p.operation, dict(p.arg_map), p.window, bucket=mk)
        fn = (_compute_bucketed_hist_part if p.operation in _HIST_LIKE
              else _compute_bucketed_part)
        r = fn(exploded, keys, sub, rng, spec, dense)
        results.append(r.withColumnRenamed(sub.output_name, p.output_name))
    for p in bucketed:
        results.append(_compute_bucketed_part(df, keys, p, rng, spec, dense))

    out = results[0]
    for other in results[1:]:
        out = out.join(other, keys + [PARTITION_COLUMN], "full_outer")
    # a key with zero non-null input values has no exploded rows at all —
    # its histogram-like map is {} (kernel parity)
    out_types = dict(out.dtypes)
    hist_mapped = [p for p in mapped if p.operation in _HIST_LIKE]
    for p in hist_like + hist_array + bucketed_hist + hist_mapped:
        empty = F.expr(f"CAST(map() AS {out_types[p.output_name]})")
        out = out.withColumn(p.output_name, F.coalesce(F.col(p.output_name), empty))
    # the sub-plans join in dispatch order; emit the parts in declared order
    out = out.select(*keys, PARTITION_COLUMN, *[p.output_name for p in parts])
    return _apply_derivations(out, group_by)


def _explode(df: DataFrame, col: str, *aliases: str) -> DataFrame:
    """`col` replaced by its elements (a map by its key/value `aliases`),
    one row each; a NULL or empty collection keeps one NULL row."""
    return df.select(*[c for c in df.columns if c != col],
                     F.explode_outer(F.col(col)).alias(*(aliases or (col,))))


def _day_expr(df) -> F.Column:
    """Integer day number for stage-1 grouping. Event rows bin by EVENT
    TIME via exact integer division — per-row date STRING formatting would
    dominate the scan at 10^11 rows (measured: anti-scaling from GC
    pressure). Rows with NULL ts fall back PER ROW to parsing the ds
    string (so they still group under their partition instead of being
    silently dropped)."""
    from_ds = (
        F.unix_date(F.to_date(F.col(PARTITION_COLUMN))).cast("long")
        if PARTITION_COLUMN in df.columns
        else F.lit(None).cast("long")
    )
    if TIME_COLUMN in df.columns:
        return F.coalesce(F.expr(f"{TIME_COLUMN} DIV {DAY_MS}"), from_ds)
    return from_ds


def _ds_from_day(col: F.Column) -> F.Column:
    return F.date_format(F.timestamp_millis(col * DAY_MS), "yyyy-MM-dd")


def _in_range(df: DataFrame, rng: Optional[PartitionRange], spec) -> DataFrame:
    for clause in rng.where_clauses(spec.column) if rng is not None else []:
        df = df.where(clause)
    return df


def _compute_plain_parts(df, keys, parts, rng, spec, dense) -> DataFrame:
    """stage 1: one shuffle to daily partial IRs (grouped on the integer
    day number — strings only materialize on the aggregated output);
    stage 2: every window as a rangeBetween frame over the SAME partials
    (the Catalyst analog of hop sharing)."""
    specs = [spec_for(p) for p in parts]
    partial_cols: dict[str, F.Column] = {}
    for sp in specs:
        partial_cols.update(sp.partials())
    daily = df.withColumn("__day", _day_expr(df)).groupBy(*keys, "__day").agg(
        *[c.alias(n) for n, c in partial_cols.items()]
    )

    if dense:
        daily = _densify(daily, keys, rng, spec)

    w_base = W.partitionBy(*keys).orderBy("__day")
    out_cols = []
    for part, sp in zip(parts, specs):
        days = window_days(part)
        if days is None:
            frame = w_base.rangeBetween(W.unboundedPreceding, W.currentRow)
        else:
            frame = w_base.rangeBetween(-(days - 1), W.currentRow)
        daily = daily.withColumn(part.output_name, finalize_rounding(sp.merge(frame), sp))
        out_cols.append(part.output_name)

    out = daily.select(
        *keys, _ds_from_day(F.col("__day")).alias(PARTITION_COLUMN), *out_cols
    )
    return _in_range(out, rng, spec)


def _compute_bucketed_part(df, keys, part, rng, spec, dense) -> DataFrame:
    """Bucketed aggregation -> map<bucket, value> (reference:
    BucketedColumnAggregator): partials per (keys, ds, bucket), densified
    over the key's (bucket x active-day) grid so a bucket with in-window
    but not same-day events still gets its map entry, then windowed and
    folded to a map."""
    b = part.bucket
    sub = AggregationPart(part.input_column, part.operation, dict(part.arg_map), part.window)
    sp = spec_for(sub)
    dfb = df.where(F.col(b).isNotNull()).withColumn("__day", _day_expr(df))
    partial_cols = sp.partials()
    daily = dfb.groupBy(*keys, "__day", b).agg(
        *[c.alias(n) for n, c in partial_cols.items()]
    )
    # densify: (key, day) spine x key's observed buckets. Dense mode (used
    # by snapshot joins) must cover EVERY day of the output range — not just
    # observed days — so a window still holding events emits its map on
    # event-free days.
    if dense:
        # key universe from ALL event rows (df), not the null-bucket-filtered
        # daily: a key whose buckets are all NULL still has rows, so kernel
        # parity (and any GROUP BY oracle) gives it an {} map, not no row
        spine = _dense_spine(df, keys, rng, spec)
    else:
        spine = df.withColumn("__day", _day_expr(df)).select(*keys, "__day").distinct()
    kb = dfb.select(*keys, b).distinct()
    # LEFT join: identical to inner for keys holding >=1 non-null bucket;
    # all-null-bucket keys keep one (key, day, bucket=NULL) scaffold row
    # whose window value nulls out below, folding to the {} map the
    # temporal kernel emits for the same inputs
    scaffold = spine.join(kb, keys, "left")
    daily = scaffold.join(daily, keys + ["__day", b], "full_outer")

    w_base = W.partitionBy(*keys, b).orderBy("__day")
    days = window_days(part)
    frame = (
        w_base.rangeBetween(W.unboundedPreceding, W.currentRow)
        if days is None
        else w_base.rangeBetween(-(days - 1), W.currentRow)
    )
    val = finalize_rounding(sp.merge(frame), sp)
    daily = daily.withColumn("__v", val)
    # empty-window entries are dropped from the map (kernel parity)
    if part.operation in (Operation.COUNT, Operation.UNIQUE_COUNT):
        keep = F.col("__v") > 0
    else:
        keep = F.col("__v").isNotNull()
    entries = F.sort_array(
        F.collect_list(F.when(keep, F.struct(F.col(b).alias("key"), F.col("__v").alias("value"))))
    )
    out = daily.groupBy(*keys, "__day").agg(
        F.map_from_entries(entries).alias(part.output_name)
    ).withColumn(PARTITION_COLUMN, _ds_from_day(F.col("__day"))).drop("__day")
    return _in_range(out, rng, spec)


def _compute_unique_count_part(df, keys, part, rng, spec, dense) -> DataFrame:
    """Exact UNIQUE_COUNT (scalar or array input) as a sweep line over
    time, the time-ordered single pass of TD-Join (SIGMOD 2025).

    A value seen by a key on `day` enters that key's window at `day` (+1)
    and leaves it when the window slides past — at `day + w`, or earlier
    at the value's next occurrence, which re-enters it. A lifetime window
    never slides, so only the first occurrence counts. The running sum of
    the deltas per key, read on the output spine, is the number of
    distinct values in the window. Values are compared as strings (an
    array element counts individually). Cost is O(distinct (key, value,
    day) triples) — no (key x day x value) scaffold, no map fold."""
    uv = f"__uv_{part.output_name}"
    dayed = df.withColumn("__day", _day_expr(df))
    val = F.col(part.input_column)
    if dict(df.dtypes)[part.input_column].startswith("array<"):
        val = F.explode(val)
    triples = (
        dayed.select(*keys, "__day", val.alias(uv))
        .select(*keys, "__day", F.col(uv).cast("string").alias(uv))
        .where(F.col(uv).isNotNull())
        .distinct()
    )
    days = window_days(part)
    nxt = F.lead("__day").over(W.partitionBy(*keys, uv).orderBy("__day"))
    # least() skips NULL: a value's last occurrence leaves at day + w, and
    # never under a lifetime window
    leave = nxt if days is None else F.least(nxt, F.col("__day") + days)
    deltas = triples.withColumn("__leave", leave).select(*keys, F.inline(F.array(
        F.struct(F.col("__day"), F.lit(1).alias("__d")),
        F.struct(F.col("__leave").alias("__day"), F.lit(-1).alias("__d")),
    ))).where(F.col("__day").isNotNull())
    # the spine carries every output row (keys whose values are all NULL
    # included, so they read 0); its delta-0 rows only mark where to read
    spine = (_dense_spine(dayed, keys, rng, spec) if dense
             else dayed.select(*keys, "__day").distinct())
    swept = spine.select(*keys, "__day", F.lit(0).alias("__d"), F.lit(True).alias("__s"))
    swept = swept.unionByName(deltas.withColumn("__s", F.lit(False)))
    running = F.sum("__d").over(
        W.partitionBy(*keys).orderBy("__day")
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    out = swept.withColumn(part.output_name, running.cast("long")).where("__s").select(
        *keys, _ds_from_day(F.col("__day")).alias(PARTITION_COLUMN), part.output_name
    )
    return _in_range(out, rng, spec)


def _compute_hist_like_part(df, keys, part, rng, spec, dense) -> DataFrame:
    """HISTOGRAM / frequent-k via the explode -> groupBy(keys, day, value)
    -> re-window -> fold plan (the shape of the reference's own Spark
    UDAF, spark/.../udafs/Histogram.scala:28-43). Exact UNIQUE_COUNT has
    its own sweep (`_compute_unique_count_part`).

    Replaces the round-1 scale-killer: the O(distinct^2)
    higher-order-function merge (interpreted lambdas per output row).
    Total cost here is O(distinct (key, day, value) triples) with map-side
    combine, and every window shares the same per-value daily counts."""
    hv = f"__hv_{part.output_name}"
    dfb = df.withColumn(hv, F.col(part.input_column).cast("string"))
    sub = AggregationPart(part.input_column, Operation.COUNT, {}, part.window, bucket=hv)
    r = _compute_bucketed_part(dfb, keys, sub, rng, spec, dense)
    out_col = m = F.col(sub.output_name)
    k = part.arg_map.get("k")
    if k:
        out_col = F.map_from_entries(
            F.slice(F.array_sort(F.map_entries(m), _cmp_count_desc), 1, int(k))
        )
    return r.withColumn(part.output_name, out_col).drop(sub.output_name)


def _compute_bucketed_hist_part(df, keys, part, rng, spec, dense) -> DataFrame:
    """Bucketed HISTOGRAM / frequent-k / UNIQUE_COUNT without interpreted
    map-merge lambdas: explode to (keys, day, bucket, value) daily counts,
    re-window the counts (bucket AND value are plain group columns), then
    fold twice — per (keys, day, bucket) to the inner value map (or its
    distinct count), per (keys, day) to the outer bucket map. Cost is
    O(distinct (key, day, bucket, value)) with map-side combine, replacing
    the O(distinct^2) HistogramSpec/UniqueCountSpec HOF merges."""
    b, col = part.bucket, part.input_column
    hv = f"__hv_{part.output_name}"
    dayed = df.withColumn("__day", _day_expr(df))
    dfb = dayed.where(F.col(b).isNotNull()).withColumn(hv, F.col(col).cast("string"))
    daily = (
        dfb.where(F.col(hv).isNotNull())
        .groupBy(*keys, "__day", b, hv)
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    # scaffold: (key, day) spine x the key's observed (bucket, value) pairs
    # so windows still emit on days without that exact pair
    if dense:
        # key universe from ALL event rows (kernel parity for all-null keys;
        # the spine left-join at the end coalesces them to empty maps)
        spine = _dense_spine(dayed, keys, rng, spec)
    else:
        spine = dayed.select(*keys, "__day").distinct()
    kb = dfb.where(F.col(hv).isNotNull()).select(*keys, b, hv).distinct()
    scaffold = spine.join(kb, keys)
    daily = scaffold.join(daily, keys + ["__day", b, hv], "full_outer")

    days = window_days(part)
    w_base = W.partitionBy(*keys, b, hv).orderBy("__day")
    frame = (
        w_base.rangeBetween(W.unboundedPreceding, W.currentRow)
        if days is None
        else w_base.rangeBetween(-(days - 1), W.currentRow)
    )
    windowed = daily.withColumn("__v", F.sum("__c").over(frame)).where(
        F.col("__v") > 0
    )
    if part.operation == Operation.UNIQUE_COUNT:
        inner = F.count(F.lit(1)).cast("long").alias("__m")
    else:
        entries = F.sort_array(F.collect_list(
            F.struct(F.col(hv).alias("key"), F.col("__v").alias("value"))
        ))
        k = part.arg_map.get("k")
        if k:
            entries = F.slice(F.array_sort(entries, _cmp_count_desc), 1, int(k))
        inner = F.map_from_entries(entries).alias("__m")
    per_bucket = windowed.groupBy(*keys, "__day", b).agg(inner)

    def _cmp_key(x, y):  # structs holding maps aren't orderable; sort by key
        return (F.when(x["key"] < y["key"], F.lit(-1))
                .when(x["key"] > y["key"], F.lit(1)).otherwise(F.lit(0)))

    outer = per_bucket.groupBy(*keys, "__day").agg(
        F.map_from_entries(F.array_sort(F.collect_list(
            F.struct(F.col(b).alias("key"), F.col("__m").alias("value"))
        ), _cmp_key)).alias(part.output_name)
    )
    out_type = dict(outer.dtypes)[part.output_name]
    out = (
        spine.join(outer, keys + ["__day"], "left")
        .withColumn(
            part.output_name,
            F.coalesce(F.col(part.output_name), F.expr(f"CAST(map() AS {out_type})")),
        )
        .withColumn(PARTITION_COLUMN, _ds_from_day(F.col("__day")))
        .drop("__day")
    )
    return _in_range(out, rng, spec)


def _cmp_utk(a, b):
    """array_sort comparator: sort_key DESC, unique_id ASC — the
    deterministic order of the reference's UniqueOrderByLimit (topK=true)."""
    return (
        F.when(a["sort_key"] > b["sort_key"], F.lit(-1))
        .when(a["sort_key"] < b["sort_key"], F.lit(1))
        .when(a["unique_id"] < b["unique_id"], F.lit(-1))
        .when(a["unique_id"] > b["unique_id"], F.lit(1))
        .otherwise(F.lit(0))
    )


def _compute_unique_topk_struct_part(df, keys, part, rng, spec, dense) -> DataFrame:
    """UNIQUE_TOP_K over struct{sort_key: string, unique_id: bigint}
    (reference: UniqueTopKAggregator / UniqueOrderByLimit.scala:1-123,
    SimpleAggregators.scala:768-917): top-k elements by sort_key desc,
    at most one element per unique_id.

    Plan: explode -> groupBy(keys, day, unique_id) keeping the MAX
    sort_key per id per day (deterministic tiebreak; the reference keeps
    the first-inserted element, which is partition-order-dependent) ->
    window max per (keys, unique_id) -> fold per (keys, day) to the k
    best (sort_key desc, unique_id asc). State stays O(ids/day), the
    windowed merge is a plain max — same asymptotics as the reference's
    bounded insert-with-watermark state."""
    uid = f"__uid_{part.output_name}"
    sk = f"__sk_{part.output_name}"
    exploded = df.select(
        *[c for c in df.columns if c != part.input_column],
        F.col(f"{part.input_column}.unique_id").alias(uid),
        F.col(f"{part.input_column}.sort_key").alias(sk),
    )
    sub = AggregationPart(sk, Operation.MAX, {}, part.window, bucket=uid)
    r = _compute_bucketed_part(exploded, keys, sub, rng, spec, dense)
    k = int(part.arg_map.get("k", 10))
    entries = F.transform(
        F.map_entries(F.col(sub.output_name)),
        lambda e: F.struct(
            e["value"].alias("sort_key"),
            e["key"].cast("long").alias("unique_id"),
        ),
    )
    out_col = F.slice(F.array_sort(entries, _cmp_utk), 1, k)
    return r.withColumn(part.output_name, out_col).drop(sub.output_name)


def _dense_spine(df, keys, rng, spec) -> DataFrame:
    """Every (key, `__day`) pair of the bounded output range, over the keys
    of `df` — the dense-mode output rows (Chronon emits rows for all days,
    so window tails materialize on event-free days)."""
    assert rng is not None and rng.start is not None and rng.end is not None, (
        "dense mode needs a bounded output range"
    )
    days_df = df.sparkSession.createDataFrame(
        [(spec.epoch_millis(d) // DAY_MS,) for d in rng.partitions()], "__day long"
    )
    return df.select(*keys).distinct().crossJoin(F.broadcast(days_df))


def _densify(daily, keys, rng, spec):
    """Scaffold the dense spine onto the daily partials. FULL outer: keep
    the lookback days' partials (outside the output range) — the window
    frames need that history — while adding empty rows for event-free
    days inside the range."""
    return _dense_spine(daily, keys, rng, spec).join(daily, keys + ["__day"], "full_outer")


def _compute_entity_snapshot(spark, group_by, rng, spec) -> DataFrame:
    """Entities: aggregate each daily snapshot partition independently
    (reference: GroupBy.snapshotEntities, GroupBy.scala:113-146). Windowed
    entity aggregations hop over prior snapshot days like events do; an
    UNWINDOWED entity aggregation is the CURRENT day's snapshot state
    (each partition already carries the accumulated world — merging days
    would double-count entities)."""
    df = _union_sources(spark, group_by, rng, spec)
    keys = group_by.key_columns
    parts = group_by.aggregation_parts()
    if all(p.window is None for p in parts):
        specs = [spec_for(p) for p in parts]
        aggs = [
            finalize_rounding(sp.direct(), sp).alias(p.output_name)
            for p, sp in zip(parts, specs)
        ]
        out = df.groupBy(*keys, PARTITION_COLUMN).agg(*aggs)
    else:
        # windowed hist-like parts ride the exploded per-value plan (same
        # round-2 rewrite as the events path — no O(distinct^2) HOF merge)
        def _is_hist(p):
            return (p.window is not None and p.operation in _HIST_LIKE
                    and p.bucket is None)

        plain = [p for p in parts if not _is_hist(p)]
        hist_like = [p for p in parts if _is_hist(p)]
        specs = [spec_for(p) for p in plain]
        partial_cols: dict[str, F.Column] = {}
        for sp in specs:
            partial_cols.update(sp.partials())
        daily = df.groupBy(*keys, PARTITION_COLUMN).agg(
            *[c.alias(n) for n, c in partial_cols.items()]
        )
        daily = daily.withColumn(
            "__day", F.unix_date(F.to_date(F.col(PARTITION_COLUMN))).cast("long")
        )
        w_base = W.partitionBy(*keys).orderBy("__day")
        for part, sp in zip(plain, specs):
            days = window_days(part)
            frame = (
                w_base.rangeBetween(W.currentRow, W.currentRow)
                if days is None
                else w_base.rangeBetween(-(days - 1), W.currentRow)
            )
            daily = daily.withColumn(part.output_name, finalize_rounding(sp.merge(frame), sp))
        out = daily.select(*keys, PARTITION_COLUMN, *[p.output_name for p in plain])
        for p in hist_like:
            fn = (_compute_unique_count_part if p.operation == Operation.UNIQUE_COUNT
                  else _compute_hist_like_part)
            r = fn(df, keys, p, rng, spec, dense=False)
            out = out.join(r, keys + [PARTITION_COLUMN], "full_outer")
            if p.operation == Operation.UNIQUE_COUNT:
                out = out.withColumn(
                    p.output_name,
                    F.coalesce(F.col(p.output_name), F.lit(0).cast("long")),
                )
    return _apply_derivations(_in_range(out, rng, spec), group_by)


def compute_groupby(
    spark: SparkSession,
    group_by: GroupBy,
    rng: Optional[PartitionRange] = None,
    spec: PartitionSpec = DEFAULT_SPEC,
    dense: bool = False,
) -> DataFrame:
    """Dispatch on accuracy. TEMPORAL GroupBys are served through the
    temporal join engine (operators/temporal_join.py) with the left side
    equal to the source's own (keys, ts) rows."""
    acc = group_by.inferred_accuracy()
    if acc == Accuracy.SNAPSHOT:
        return compute_snapshot_groupby(spark, group_by, rng, spec, dense)
    if any(isinstance(s, EntitySource) and s.mutation_table for s in group_by.sources):
        # (ENTITIES, TEMPORAL) has no standalone backfill shape — mutation
        # replay needs a query set (the reference's temporalEntities takes
        # the JOIN's left). Attach this GroupBy to a Join instead.
        raise NotImplementedError(
            "temporal-entity GroupBys are served through Join "
            "(operators/mutations.compute_temporal_entity_join_part)"
        )
    from chronon_spark.operators.temporal_join import compute_temporal_groupby

    return compute_temporal_groupby(spark, group_by, rng, spec)
