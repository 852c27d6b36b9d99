"""GroupBy engine — snapshot accuracy (daily end-of-day feature values).

Semantics (reference: spark/.../GroupBy.scala):
  * for each day `ds`, every window ends at end-of-day — window of N days
    covers the rows of days [ds - N + 1, ds] (golden SQL
    GroupByTest.scala:56-64, 103-117; shifted end times
    GroupBy.scala:156-159).
  * entities take the event plan under two rules (snapshotEntities,
    GroupBy.scala:113-146): a row's day is its partition `ds`, not its
    `ts`, and an unwindowed part is a 1-day window, the day's snapshot
    (merging days would double-count the state each partition carries).
    Entity output is always sparse.

Plan build: a step is ONE Spark SQL statement over the scanned source,
which the statement reads as a temp view that lives only while Spark
analyzes it. Each part family below is a nest of subqueries, and the
operator registry (`agg_registry`) supplies every partial and merge as
SQL text. The plan equals the one chained DataFrame calls would build,
while the Python side makes a few dozen py4j calls per step instead of
~13 per expression node and one eager analysis per DataFrame call.
Several key columns travel as one struct `__k`, so a key with a NULL part
still groups, partitions and joins as one key.

Physical strategy (ours, Catalyst-native — replaces the reference's RDD
aggregateByKey + HopsAggregator machinery, GroupBy.scala:113-173). The
plain parts take two shuffles:
  1. on (keys, day): GROUP BY keys, day computing partial IRs per day —
     map-side combine shrinks the events to |keys|x|days| rows.
  2. on keys: every window is a named `PARTITION BY keys ORDER BY day
     RANGE BETWEEN N-1 PRECEDING AND CURRENT ROW` over the SAME daily
     partials — the Catalyst analog of hop sharing (all windows reuse one
     pre-agg).
Every other part family is its own sub-plan with its own shuffles; the
exact UNIQUE_COUNT sweep, for one, shuffles on (keys, day, value) for its
distinct triples, on (keys, value) for `lead`, on (keys, day) for its
spine and on keys for the running sum. The families then join back on
(keys, ds) with full-outer joins, which shuffle both sides once more,
although each side is already hash-partitioned on keys. A step of the
plain parts plus one UNIQUE_COUNT part thus runs 8 Exchanges. An entity
GroupBy with no windowed part aggregates its scalar parts per (keys, day).
Scan range is widened by the max window lookback so window tails are
complete (reference: GroupBy.getIntersectedRange, GroupBy.scala:616-663).
"""

from __future__ import annotations

import math
import uuid
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from chronon_spark.api import (
    PARTITION_COLUMN,
    TIME_COLUMN,
    AggregationPart,
    EntitySource,
    GroupBy,
    Operation,
    apply_derivations,
)
from chronon_spark.operators.agg_registry import (
    CMP_COUNT_DESC,
    finalize_rounding,
    quote,
    spec_for,
)
from chronon_spark.partitions import DEFAULT_SPEC, PartitionRange, PartitionSpec
from chronon_spark.sources.scan import scan_source

DAY_MS = 86_400_000
# ops planned as exploded per-value daily counts (_hist_like_part and the
# bucketed twin); scalar and array exact UNIQUE_COUNT take the sweep instead
_HIST_LIKE = (
    Operation.HISTOGRAM,
    Operation.APPROX_FREQUENT_K,
    Operation.APPROX_HEAVY_HITTERS_K,
    Operation.UNIQUE_COUNT,
)
_DS = quote(PARTITION_COLUMN)
_DS_FROM_DAY = f"date_format(timestamp_millis(__day * {DAY_MS}), 'yyyy-MM-dd') AS {_DS}"


def window_days(part: AggregationPart) -> Optional[int]:
    """Snapshot accuracy rounds windows up to day granularity
    (DailyResolution, Resolution.scala:50-63)."""
    if part.window is None:
        return None
    return max(1, math.ceil(part.window.millis / DAY_MS))


def _part_days(part: AggregationPart, entity: bool) -> Optional[int]:
    """The days a part's window spans (None: lifetime). An unwindowed
    entity part is the day's snapshot, a 1-day window."""
    return window_days(part) or (1 if entity else None)


def _is_entity(group_by: GroupBy) -> bool:
    return any(isinstance(s, EntitySource) or getattr(s, "entity", False)
               for s in group_by.sources)


def _union_sources(spark: SparkSession, group_by: GroupBy, scan_rng, spec) -> DataFrame:
    """Union multi-source GroupBys column-aligned by name
    (reference: GroupBy.scala:499-503)."""
    dfs = [scan_source(spark, s, scan_rng, spec) for s in group_by.sources]
    df = dfs[0]
    for other in dfs[1:]:
        df = df.unionByName(other, allowMissingColumns=True)
    # key null-filter: (k1 IS NOT NULL OR k2 IS NOT NULL ...) (GroupBy.scala:516-517)
    cond = " OR ".join(f"{quote(k)} IS NOT NULL" for k in group_by.key_columns)
    return df.where(cond) if cond else df


def _scan_range(
    group_by: GroupBy, rng: Optional[PartitionRange], spec: PartitionSpec
) -> Optional[PartitionRange]:
    """Widen the requested output range by the max window lookback."""
    if rng is None or rng.start is None:
        return rng
    entity = _is_entity(group_by)
    lookbacks = [_part_days(p, entity) for p in group_by.aggregation_parts()]
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


def _sql(spark: SparkSession, src: DataFrame, view: str, text: str) -> DataFrame:
    """Run `text`, which reads `src` as the temp view `view`. Analysis is
    eager, so the view is dropped as soon as the plan holds `src`."""
    src.createOrReplaceTempView(view)
    try:
        return spark.sql(text)
    finally:
        spark.catalog.dropTempView(view)


def _sub(body: str) -> str:
    """`body` as a relation. Sub-plans nest as subqueries, not CTEs: one
    is analyzed in a few fixed-point rounds, while each level of a CTE
    chain costs the analyzer another round over the whole plan."""
    return f"({body})"


@dataclass(frozen=True)
class _Step:
    """What every part family of a step's statement shares."""

    keys: str  # the key in SQL: one column, or the struct `__k` of several
    cols: list[str]  # the columns of the relation the families read
    day: str  # SQL of a row's integer day number
    rng: Optional[PartitionRange]
    spec: PartitionSpec
    dense: bool
    entity: bool

    def days(self, part: AggregationPart) -> Optional[int]:
        return _part_days(part, self.entity)


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
    checks use). Entity output is sparse whatever ``dense`` says; the
    module docstring gives the two entity rules.
    """
    parts = group_by.aggregation_parts()
    if not parts:  # no-agg passthrough (reference: NoAggTest)
        df = _union_sources(spark, group_by, rng, spec)
        return _apply_derivations(df, group_by)

    entity = _is_entity(group_by)
    df = _union_sources(spark, group_by, _scan_range(group_by, rng, spec), spec)
    dtypes = dict(df.dtypes)
    src = f"__chronon_src_{uuid.uuid4().hex}"
    rel, cols, keys, out_keys = _keyed(src, list(dtypes), group_by.key_columns)
    st = _Step(keys, cols, _day_expr(cols, entity), rng, spec, dense and not entity, entity)
    # every part is the day's snapshot: no window, one aggregate per day
    one_day = entity and all(p.window is None for p in parts)

    # dispatch parts: plain scalar / auto-explode (array) / map-valued /
    # bucketed / histogram-like (value-exploded plan) / exact unique count
    plain, by_array, mapped, bucketed, hist_like, utk_struct = [], {}, [], [], [], []
    bucketed_hist, hist_array, unique = [], [], []
    for p in parts:
        dtype = dtypes.get(p.input_column, "")
        if p.bucket is not None:
            # hist-like bucketed ops get the exploded (bucket, value) plan —
            # the map-merge HOF shape is O(distinct^2) interpreted lambdas
            (bucketed_hist if p.operation in _HIST_LIKE else bucketed).append(p)
        elif p.operation == Operation.UNIQUE_TOP_K and dtype.startswith("struct<"):
            utk_struct.append(p)
        elif one_day and not dtype.startswith(("array<", "map<")):
            plain.append(p)
        elif p.operation == Operation.UNIQUE_COUNT and not dtype.startswith("map<"):
            unique.append(p)
        elif dtype.startswith("array<"):
            if p.operation in _HIST_LIKE:
                hist_array.append(p)
            else:
                by_array.setdefault(p.input_column, []).append(p)
        elif dtype.startswith("map<"):
            mapped.append(p)
        elif p.operation in _HIST_LIKE:
            hist_like.append(p)
        else:
            plain.append(p)

    results = []  # (relation, {output name: expression over it})
    if plain:
        results.append((_one_day_parts if one_day else _plain_parts)(st, rel, plain))
    for p in unique:
        is_array = dtypes[p.input_column].startswith("array<")
        results.append(_unique_count_part(st, rel, p, is_array))
    for p in hist_like:
        results.append(_hist_like_part(st, rel, p))
    for p in hist_array:
        # array input: each element counts individually — explode, then the
        # same exploded-value plan as scalar hist-like ops
        results.append(_hist_like_part(st, _explode(st, rel, p.input_column), p))
    for p in bucketed_hist:
        results.append(_bucketed_hist_part(st, rel, p))
    for p in utk_struct:
        results.append(_unique_topk_struct_part(st, rel, p))
    for col, ps in by_array.items():
        # auto-explode: each list element aggregates individually
        # (reference: VectorDispatcher, ColumnAggregator.scala:208-217)
        results.append(_plain_parts(st, _explode(st, rel, col), ps))
    for p in mapped:
        # map<string, V> input: per-map-key aggregation == bucketed agg of
        # the exploded (key, value) pairs (reference: MapColumnAggregator)
        mk, mv = f"__mk_{p.input_column}", f"__mv_{p.input_column}"
        exploded = _explode(st, rel, p.input_column, mk, mv)
        sub = AggregationPart(mv, p.operation, dict(p.arg_map), p.window, bucket=mk)
        fn = _bucketed_hist_part if p.operation in _HIST_LIKE else _bucketed_part
        sub_rel, outs = fn(st, exploded, sub)
        results.append((sub_rel, {p.output_name: outs[sub.output_name]}))
    for p in bucketed:
        results.append(_bucketed_part(st, rel, p))

    outs = {name: e for _, family in results for name, e in family.items()}
    # a key with zero non-null input values has no exploded rows at all —
    # its histogram-like map is {} (kernel parity)
    hist_mapped = [p for p in mapped if p.operation in _HIST_LIKE]
    for p in hist_like + hist_array + bucketed_hist + hist_mapped:
        outs[p.output_name] = f"coalesce({outs[p.output_name]}, map())"
    joined = " FULL OUTER JOIN ".join(
        [results[0][0]] + [f"{r} USING ({keys}, {_DS})" for r, _ in results[1:]]
    )
    # the families join in dispatch order; emit the parts in declared order
    values = ", ".join(f"{outs[p.output_name]} AS {quote(p.output_name)}" for p in parts)
    out = _sql(spark, df, src, f"SELECT {out_keys}, {_DS}, {values} FROM {joined}")
    return _apply_derivations(out, group_by)


def _keyed(src: str, cols: list[str], key_columns: list[str]):
    """The relation the families read, its columns, the key in SQL and the
    key columns of the output. Several key columns travel as one struct
    `__k`: GROUP BY, PARTITION BY and join USING match a struct with a
    NULL field, where they never match a NULL column."""
    if len(key_columns) < 2:
        keys = ", ".join(quote(k) for k in key_columns)
        return src, cols, keys, keys
    fields = ", ".join(f"'k{i}', {quote(k)}" for i, k in enumerate(key_columns))
    out_keys = ", ".join(f"__k.k{i} AS {quote(k)}" for i, k in enumerate(key_columns))
    return (_sub(f"SELECT *, named_struct({fields}) AS __k FROM {src}"),
            cols + ["__k"], "__k", out_keys)


def _explode(st: _Step, rel: str, col: str, *aliases: str) -> str:
    """`col` replaced by its elements (a map by its key/value `aliases`),
    one row each; a NULL or empty collection keeps one NULL row."""
    names = ", ".join(quote(a) for a in aliases or (col,))
    others = "".join(f"{quote(c)}, " for c in st.cols if c != col)
    return _sub(f"SELECT {others}explode_outer({quote(col)}) AS ({names}) FROM {rel}")


def _day_expr(cols: list[str], entity: bool) -> str:
    """Integer day number for stage-1 grouping. An entity row's day is its
    snapshot partition `ds`: its `ts` is end-of-day or the table's own.
    Event rows bin by EVENT TIME via exact integer division — per-row date
    STRING formatting would dominate the scan at 10^11 rows (measured:
    anti-scaling from GC pressure). Rows with NULL ts fall back PER ROW to
    parsing the ds string (so they still group under their partition
    instead of being silently dropped)."""
    from_ds = (f"CAST(unix_date(to_date({_DS})) AS BIGINT)" if PARTITION_COLUMN in cols
               else "CAST(NULL AS BIGINT)")
    if TIME_COLUMN in cols and not entity:
        return f"coalesce({quote(TIME_COLUMN)} DIV {DAY_MS}, {from_ds})"
    return from_ds


def _dayed(st: _Step, rel: str, where: str = "") -> str:
    """`rel` (filtered by `where`) plus its `__day`."""
    return _sub(f"SELECT *, {st.day} AS __day FROM {rel}"
                + (f" WHERE {where}" if where else ""))


def _in_range(st: _Step, body: str) -> str:
    clauses = st.rng.where_clauses(quote(st.spec.column)) if st.rng is not None else []
    return f"SELECT * FROM ({body}) WHERE {' AND '.join(clauses)}" if clauses else body


def _frame(days: Optional[int]) -> str:
    """The RANGE frame of a `days`-day window over `__day` (None: lifetime)."""
    lo = ("UNBOUNDED PRECEDING" if days is None else f"{days - 1} PRECEDING" if days > 1
          else "CURRENT ROW")
    return f"RANGE BETWEEN {lo} AND CURRENT ROW"


def _windowed(partition: str, frames: list[str]) -> tuple[list[str], str]:
    """One named window per distinct frame, ordered by `__day`: the names,
    in the order of `frames`, and the WINDOW clause defining them."""
    names: dict[str, str] = {}
    for f in frames:
        names.setdefault(f, f"__w{len(names)}")
    defs = ", ".join(f"{w} AS (PARTITION BY {partition} ORDER BY __day {f})"
                     for f, w in names.items())
    return [names[f] for f in frames], f"WINDOW {defs}" if defs else ""


def _one_day_parts(st: _Step, rel: str, parts):
    """Parts that each cover one day only (an entity GroupBy with no
    windowed part): one aggregate per (keys, day), no window."""
    aggs = ", ".join(f"{finalize_rounding(sp.direct(), sp)} AS {quote(p.output_name)}"
                     for p, sp in ((p, spec_for(p)) for p in parts))
    out = _sub(_in_range(st, f"SELECT {st.keys}, {_DS_FROM_DAY}, {aggs}"
                             f" FROM {_dayed(st, rel)} GROUP BY {st.keys}, __day"))
    return out, {p.output_name: quote(p.output_name) for p in parts}


def _plain_parts(st: _Step, rel: str, parts):
    """stage 1: one shuffle to daily partial IRs (grouped on the integer
    day number — strings only materialize on the aggregated output);
    stage 2: every window as a RANGE frame over the SAME partials (the
    Catalyst analog of hop sharing)."""
    keys = st.keys
    specs = [spec_for(p) for p in parts]
    partials: dict[str, str] = {}
    for sp in specs:
        partials.update(sp.partials())
    aggs = ", ".join(f"{e} AS {quote(n)}" for n, e in partials.items())
    daily = _sub(f"SELECT {keys}, __day, {aggs} FROM {_dayed(st, rel)}"
                 f" GROUP BY {keys}, __day")
    if st.dense:
        daily = _densify(st, daily)
    names, window = _windowed(keys, [_frame(st.days(p)) for p in parts])
    merges = ", ".join(f"{finalize_rounding(sp.merge(w), sp)} AS {quote(p.output_name)}"
                       for p, sp, w in zip(parts, specs, names))
    out = _sub(_in_range(st, f"SELECT {keys}, {_DS_FROM_DAY}, {merges} FROM {daily} {window}"))
    return out, {p.output_name: quote(p.output_name) for p in parts}


def _bucketed_part(st: _Step, rel: str, part):
    """Bucketed aggregation -> map<bucket, value> (reference:
    BucketedColumnAggregator): partials per (keys, ds, bucket), densified
    over the key's (bucket x active-day) grid so a bucket with in-window
    but not same-day events still gets its map entry, then windowed and
    folded to a map."""
    keys, b = st.keys, quote(part.bucket)
    sub = AggregationPart(part.input_column, part.operation, dict(part.arg_map), part.window)
    sp = spec_for(sub)
    dfb = _dayed(st, rel, f"{b} IS NOT NULL")
    aggs = ", ".join(f"{e} AS {quote(n)}" for n, e in sp.partials().items())
    daily = _sub(f"SELECT {keys}, __day, {b}, {aggs} FROM {dfb}"
                 f" GROUP BY {keys}, __day, {b}")
    # densify: (key, day) spine x key's observed buckets. Dense mode (used
    # by snapshot joins) must cover EVERY day of the output range — not just
    # observed days — so a window still holding events emits its map on
    # event-free days. Its key universe comes from ALL event rows, not the
    # null-bucket-filtered ones: a key whose buckets are all NULL still has
    # rows, so kernel parity (and any GROUP BY oracle) gives it an {} map.
    spine = _spine(st, _dayed(st, rel))
    # LEFT join: identical to inner for keys holding >=1 non-null bucket;
    # all-null-bucket keys keep one (key, day, bucket=NULL) scaffold row
    # whose window value nulls out below, folding to the {} map the
    # temporal kernel emits for the same inputs
    scaffold = _sub(f"SELECT * FROM {spine} LEFT JOIN (SELECT DISTINCT {keys}, {b}"
                    f" FROM {dfb}) USING ({keys})")
    joined = _sub(f"SELECT * FROM {scaffold} FULL OUTER JOIN {daily}"
                  f" USING ({keys}, __day, {b})")
    (w,), window = _windowed(f"{keys}, {b}", [_frame(st.days(part))])
    windowed = _sub(f"SELECT *, {finalize_rounding(sp.merge(w), sp)} AS __v"
                    f" FROM {joined} {window}")
    # empty-window entries are dropped from the map (kernel parity)
    keep = ("__v > 0" if part.operation in (Operation.COUNT, Operation.UNIQUE_COUNT)
            else "__v IS NOT NULL")
    entries = (f"sort_array(collect_list(CASE WHEN {keep} THEN"
               f" named_struct('key', {b}, 'value', __v) END))")
    name = quote(part.output_name)
    out = _sub(_in_range(st, f"SELECT {keys}, {_DS_FROM_DAY}, map_from_entries({entries})"
                             f" AS {name} FROM {windowed} GROUP BY {keys}, __day"))
    return out, {part.output_name: name}


def _unique_count_part(st: _Step, rel: str, part, is_array: bool):
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
    keys = st.keys
    uv = quote(f"__uv_{part.output_name}")
    dayed = _dayed(st, rel)
    val = f"explode({quote(part.input_column)})" if is_array else quote(part.input_column)
    triples = _sub(f"SELECT DISTINCT {keys}, __day, {uv} FROM (SELECT {keys}, __day,"
                   f" CAST({uv} AS STRING) AS {uv} FROM (SELECT {keys}, __day, {val} AS {uv}"
                   f" FROM {dayed})) WHERE {uv} IS NOT NULL")
    days = st.days(part)
    nxt = f"lead(__day) OVER (PARTITION BY {keys}, {uv} ORDER BY __day)"
    # least() skips NULL: a value's last occurrence leaves at day + w, and
    # never under a lifetime window
    leave = nxt if days is None else f"least({nxt}, __day + {days})"
    deltas = _sub(f"SELECT * FROM (SELECT {keys}, inline(array("
                  f"named_struct('__day', __day, '__d', 1),"
                  f" named_struct('__day', __leave, '__d', -1)))"
                  f" FROM (SELECT *, {leave} AS __leave FROM {triples})) WHERE __day IS NOT NULL")
    # the spine carries every output row (keys whose values are all NULL
    # included, so they read 0); its delta-0 rows only mark where to read
    spine = _spine(st, dayed)
    swept = _sub(f"SELECT {keys}, __day, 0 AS __d, true AS __s FROM {spine}"
                 f" UNION ALL SELECT {keys}, __day, __d, false AS __s FROM {deltas}")
    running = (f"CAST(sum(__d) OVER (PARTITION BY {keys} ORDER BY __day"
               f" {_frame(None)}) AS BIGINT)")
    name = quote(part.output_name)
    out = _sub(_in_range(st, f"SELECT {keys}, {_DS_FROM_DAY}, {name} FROM (SELECT {keys},"
                             f" __day, __s, {running} AS {name} FROM {swept}) WHERE __s"))
    return out, {part.output_name: name}


def _hist_like_part(st: _Step, rel: str, part):
    """HISTOGRAM / frequent-k via the explode -> group by (keys, day, value)
    -> re-window -> fold plan (the shape of the reference's own Spark
    UDAF, spark/.../udafs/Histogram.scala:28-43). Exact UNIQUE_COUNT has
    its own sweep (`_unique_count_part`).

    Replaces the round-1 scale-killer: the O(distinct^2)
    higher-order-function merge (interpreted lambdas per output row).
    Total cost here is O(distinct (key, day, value) triples) with map-side
    combine, and every window shares the same per-value daily counts."""
    hv = f"__hv_{part.output_name}"
    dfb = _sub(f"SELECT *, CAST({quote(part.input_column)} AS STRING) AS {quote(hv)}"
               f" FROM {rel}")
    sub = AggregationPart(part.input_column, Operation.COUNT, {}, part.window, bucket=hv)
    out, outs = _bucketed_part(st, dfb, sub)
    m = outs[sub.output_name]
    k = part.arg_map.get("k")
    if k:
        m = (f"map_from_entries(slice(array_sort(map_entries({m}), {CMP_COUNT_DESC}),"
             f" 1, {int(k)}))")
    return out, {part.output_name: m}


def _bucketed_hist_part(st: _Step, rel: str, part):
    """Bucketed HISTOGRAM / frequent-k / UNIQUE_COUNT without interpreted
    map-merge lambdas: explode to (keys, day, bucket, value) daily counts,
    re-window the counts (bucket AND value are plain group columns), then
    fold twice — per (keys, day, bucket) to the inner value map (or its
    distinct count), per (keys, day) to the outer bucket map. Cost is
    O(distinct (key, day, bucket, value)) with map-side combine, replacing
    the O(distinct^2) HistogramSpec/UniqueCountSpec HOF merges."""
    keys, b = st.keys, quote(part.bucket)
    hv = quote(f"__hv_{part.output_name}")
    dayed = _dayed(st, rel)
    dfb = _sub(f"SELECT *, CAST({quote(part.input_column)} AS STRING) AS {hv}"
               f" FROM {dayed} WHERE {b} IS NOT NULL")
    daily = _sub(f"SELECT {keys}, __day, {b}, {hv}, CAST(count(1) AS BIGINT) AS __c"
                 f" FROM {dfb} WHERE {hv} IS NOT NULL GROUP BY {keys}, __day, {b}, {hv}")
    # scaffold: (key, day) spine x the key's observed (bucket, value) pairs
    # so windows still emit on days without that exact pair; the dense
    # spine's key universe is ALL event rows (kernel parity for all-null
    # keys; the spine left-join at the end gives them empty maps)
    spine = _spine(st, dayed)
    scaffold = _sub(f"SELECT * FROM {spine} JOIN (SELECT DISTINCT {keys}, {b}, {hv}"
                    f" FROM {dfb} WHERE {hv} IS NOT NULL) USING ({keys})")
    joined = _sub(f"SELECT * FROM {scaffold} FULL OUTER JOIN {daily}"
                  f" USING ({keys}, __day, {b}, {hv})")
    (w,), window = _windowed(f"{keys}, {b}, {hv}", [_frame(st.days(part))])
    windowed = _sub(f"SELECT * FROM (SELECT *, sum(__c) OVER {w} AS __v FROM {joined}"
                    f" {window}) WHERE __v > 0")
    if part.operation == Operation.UNIQUE_COUNT:
        inner = "CAST(count(1) AS BIGINT)"
    else:
        entries = f"sort_array(collect_list(named_struct('key', {hv}, 'value', __v)))"
        k = part.arg_map.get("k")
        if k:
            entries = f"slice(array_sort({entries}, {CMP_COUNT_DESC}), 1, {int(k)})"
        inner = f"map_from_entries({entries})"
    per_bucket = _sub(f"SELECT {keys}, __day, {b}, {inner} AS __m FROM {windowed}"
                      f" GROUP BY {keys}, __day, {b}")
    # structs holding maps aren't orderable; sort by key
    cmp_key = ("(__a, __b) -> CASE WHEN __a.key < __b.key THEN -1"
               " WHEN __a.key > __b.key THEN 1 ELSE 0 END")
    name = quote(part.output_name)
    outer = _sub(f"SELECT {keys}, __day, map_from_entries(array_sort(collect_list("
                 f"named_struct('key', {b}, 'value', __m)), {cmp_key})) AS {name}"
                 f" FROM {per_bucket} GROUP BY {keys}, __day")
    out = _sub(_in_range(st, f"SELECT {keys}, coalesce({name}, map()) AS {name}, {_DS_FROM_DAY}"
                             f" FROM {spine} LEFT JOIN {outer} USING ({keys}, __day)"))
    return out, {part.output_name: name}


# array_sort comparator: sort_key DESC, unique_id ASC — the deterministic
# order of the reference's UniqueOrderByLimit (topK=true)
_CMP_UTK = (
    "(__a, __b) -> CASE WHEN __a.sort_key > __b.sort_key THEN -1"
    " WHEN __a.sort_key < __b.sort_key THEN 1"
    " WHEN __a.unique_id < __b.unique_id THEN -1"
    " WHEN __a.unique_id > __b.unique_id THEN 1 ELSE 0 END"
)


def _unique_topk_struct_part(st: _Step, rel: str, part):
    """UNIQUE_TOP_K over struct{sort_key: string, unique_id: bigint}
    (reference: UniqueTopKAggregator / UniqueOrderByLimit.scala:1-123,
    SimpleAggregators.scala:768-917): top-k elements by sort_key desc,
    at most one element per unique_id.

    Plan: explode -> group by (keys, day, unique_id) keeping the MAX
    sort_key per id per day (deterministic tiebreak; the reference keeps
    the first-inserted element, which is partition-order-dependent) ->
    window max per (keys, unique_id) -> fold per (keys, day) to the k
    best (sort_key desc, unique_id asc). State stays O(ids/day), the
    windowed merge is a plain max — same asymptotics as the reference's
    bounded insert-with-watermark state."""
    uid, sk = f"__uid_{part.output_name}", f"__sk_{part.output_name}"
    c = quote(part.input_column)
    others = "".join(f"{quote(x)}, " for x in st.cols if x != part.input_column)
    exploded = _sub(f"SELECT {others}{c}.unique_id AS {quote(uid)}, {c}.sort_key AS {quote(sk)}"
                    f" FROM {rel}")
    sub = AggregationPart(sk, Operation.MAX, {}, part.window, bucket=uid)
    out, outs = _bucketed_part(st, exploded, sub)
    entries = (f"transform(map_entries({outs[sub.output_name]}), __e -> named_struct("
               f"'sort_key', __e.value, 'unique_id', CAST(__e.key AS BIGINT)))")
    k = int(part.arg_map.get("k", 10))
    return out, {part.output_name: f"slice(array_sort({entries}, {_CMP_UTK}), 1, {k})"}


def _spine(st: _Step, dayed: str) -> str:
    """The output rows of a family: every (key, `__day`) of the range when
    dense, else the (key, `__day`) pairs with events."""
    if st.dense:
        return _dense_spine(st, dayed)
    return _sub(f"SELECT DISTINCT {st.keys}, __day FROM {dayed}")


def _dense_spine(st: _Step, rel: str) -> str:
    """Every (key, `__day`) pair of the bounded output range, over the keys
    of `rel` — the dense-mode output rows (Chronon emits rows for all days,
    so window tails materialize on event-free days)."""
    rng = st.rng
    assert rng is not None and rng.start is not None and rng.end is not None, (
        "dense mode needs a bounded output range"
    )
    lo, hi = (st.spec.epoch_millis(d) // DAY_MS for d in (rng.start, rng.end))
    return _sub(f"SELECT /*+ BROADCAST(__days) */ * FROM (SELECT DISTINCT {st.keys}"
                f" FROM {rel}) CROSS JOIN (SELECT explode(sequence({lo}L, {hi}L)) AS __day)"
                f" AS __days")


def _densify(st: _Step, daily: str) -> str:
    """Scaffold the dense spine onto the daily partials. FULL outer: keep
    the lookback days' partials (outside the output range) — the window
    frames need that history — while adding empty rows for event-free
    days inside the range."""
    spine = _dense_spine(st, daily)
    return _sub(f"SELECT * FROM {spine} FULL OUTER JOIN {daily} USING ({st.keys}, __day)")
