"""The Join orchestrator and its snapshot-accuracy parts.

`compute_join` is the one code that runs a Join: it scans the left, drops
the skew keys, applies bootstrap parts, computes each part by its
accuracy (`_join_part`, the reference's dispatch table,
JoinPartJob.scala:216-246), merges multi-part features back by row id
and derives. `compute_temporal_join`, `join_backfill` and the modular
join (`plans.backfill.run_modular_join`) all go through it or through
`_join_part`.

Snapshot semantics (reference: JoinBase.joinWithLeft:99-111,
JoinUtils.shiftDays): a left row at time ts joins the snapshot feature row
of partition ds = date(ts) - 1 day: "features as of the end of yesterday".
Implemented as a plain equi-join on (keys, date) against the DENSE daily
snapshot table — Catalyst picks broadcast/SMJ, AQE handles skew; no custom
kernel.

At scale: the snapshot side is |keys| x |days| (already aggregated), so
this join is usually broadcastable per-day or a cheap shuffled hash join;
the expensive windowing work happened once in the snapshot GroupBy and is
shared by every left row of the day.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chronon_spark.api import (
    PARTITION_COLUMN,
    TIME_COLUMN,
    Accuracy,
    DataFrameSource,
    EntitySource,
    EventSource,
    GroupBy,
    Join,
    JoinPart,
    apply_derivations,
)
from chronon_spark.operators.bootstrap import (
    MATCHED_HASHES,
    collect_combos,
    compute_bootstrap_table,
    covering_combos,
    covering_filter,
)
from chronon_spark.operators.groupby import _union_sources, compute_snapshot_groupby
from chronon_spark.operators.mutations import compute_temporal_entity_join_part
from chronon_spark.operators.temporal_join import LeftProbe, compute_temporal_join_part
from chronon_spark.partitions import DEFAULT_SPEC, PartitionRange, PartitionSpec
from chronon_spark.sources.scan import _load_table, scan_source

TS_DS = "ts_ds"  # date-of-ts helper (reference: Constants.TimePartitionColumn)
ROW_ID = "__row_id"


def _left_date_range(left_df: DataFrame, spec: PartitionSpec) -> PartitionRange:
    row = left_df.agg(
        F.min(PARTITION_COLUMN).alias("lo"), F.max(PARTITION_COLUMN).alias("hi")
    ).collect()[0]
    return PartitionRange(row["lo"], row["hi"], spec)


def compute_snapshot_join_part(
    spark: SparkSession,
    left_df: DataFrame,
    join_part: JoinPart,
    rng: Optional[PartitionRange] = None,
    spec: PartitionSpec = DEFAULT_SPEC,
) -> DataFrame:
    """Enrich left rows with the GroupBy's end-of-previous-day snapshot
    values. The snapshot is computed DENSE over [left_min - 1, left_max - 1]
    so a key with in-window events but none on a given day still has a row
    (otherwise window tails would read as null)."""
    gb = join_part.group_by
    left_rng = rng if rng is not None and rng.start else _left_date_range(left_df, spec)
    snap_rng = PartitionRange(
        spec.before(left_rng.start), spec.before(left_rng.end), spec
    )
    snap = compute_snapshot_groupby(spark, gb, snap_rng, spec, dense=True)

    key_map = join_part.right_to_left_keys()  # gb key -> left col
    prefix = join_part.full_prefix() + "_"
    feature_cols = [p.output_name for p in gb.aggregation_parts()]
    right = snap.select(
        *[F.col(k).alias(f"__rk_{k}") for k in gb.key_columns],
        F.col(PARTITION_COLUMN).alias("__snap_ds"),
        *[F.col(c).alias(prefix + c) for c in feature_cols],
    )

    out = left_df.withColumn(
        TS_DS, F.date_format(F.timestamp_millis(F.col(TIME_COLUMN)), "yyyy-MM-dd")
    )
    cond = F.col("__snap_ds") == F.date_format(
        F.date_sub(F.to_date(F.col(TS_DS)), 1), "yyyy-MM-dd"
    )
    for k in gb.key_columns:
        cond = cond & (F.col(key_map[k]) == F.col(f"__rk_{k}"))
    out = out.join(right, cond, "left")
    return out.drop(TS_DS, "__snap_ds", *[f"__rk_{k}" for k in gb.key_columns])


def compute_join(
    spark: SparkSession,
    join: Join,
    rng: Optional[PartitionRange] = None,
    spec: PartitionSpec = DEFAULT_SPEC,
) -> DataFrame:
    """The one code that runs a Join; `compute_temporal_join`, `join_backfill`
    and the modular join all come here or to `_join_part`.

    The left is scanned once, without the skew keys; each part is computed
    by its GroupBy's accuracy (`_join_part`). A single part cogroups the
    left itself. Several parts, or bootstrap parts, each compute over a
    SLIM probe (row id, ts, ds, join keys), so no part's Arrow kernel
    carries the left's payload, and their features merge back by row id
    (the monolith MergeJob, reference MergeJob.scala:81-140). A row a
    bootstrap combo covers (reference Join.computeRange:264-285) stays out
    of the part's probe; elsewhere a non-NULL bootstrap value wins.
    Derivations run last. Output: the left columns, then each part's
    features in declared order. TEMPORAL parts over the same left keys
    share one bounded probe of it (`LeftProbe`): scan reduction and split."""
    left_df = _apply_skew_filter(scan_source(spark, join.left, rng, spec), join)
    merged = len(join.join_parts) > 1 or bool(join.bootstrap_parts)
    left_df = _pinned(left_df) if merged else left_df
    # resolve the date range ONCE, and only where a scan prunes by it: a
    # per-part probe would re-run the chained plan with earlier parts in it
    if ((rng is None or not rng.start) and PARTITION_COLUMN in left_df.columns
            and _scans_by_range(spark, join, spec)):
        rng = _left_date_range(left_df, spec)

    probes = {}  # left keys -> the step's one LeftProbe of them

    def part(df: DataFrame, jp: JoinPart) -> DataFrame:
        keys = tuple(jp.right_to_left_keys()[k] for k in jp.group_by.key_columns)
        if _kind(jp.group_by) == "temporal" and keys not in probes:
            probes[keys] = LeftProbe(spark, left_df, keys)
        return _join_part(spark, df, jp, rng, spec, join.skew_keys, probes.get(keys))

    if not merged:
        out = left_df
        for jp in join.join_parts:
            out = part(out, jp)
        return _derive(join, out, left_df.columns)

    out = left_df.withColumn(ROW_ID, F.monotonically_increasing_id())
    hash_fields, combos = {}, []
    if join.bootstrap_parts:
        out, hash_fields = compute_bootstrap_table(spark, out, join, rng, spec)
        # one collect on the un-chained bootstrap table; per-part covering
        # sets are then pure-Python filters over these combos
        if hash_fields:
            combos = collect_combos(out)
    need = {ROW_ID, MATCHED_HASHES, TIME_COLUMN, PARTITION_COLUMN}.union(
        *(jp.right_to_left_keys().values() for jp in join.join_parts))
    slim = out.select(*[c for c in out.columns if c in need])
    frames = []
    for jp in join.join_parts:
        prefix = jp.full_prefix() + "_"
        part_cols = [prefix + p.output_name for p in jp.group_by.aggregation_parts()]
        covering = covering_combos(combos, hash_fields, part_cols) if part_cols else []
        probe = slim.where(~covering_filter(covering)) if covering else slim
        pf = part(probe, jp)
        frames.append((pf, [c for c in pf.columns if c not in slim.columns]))
    return _derive(join, _merge_parts(out, frames, [ROW_ID], left_df.columns),
                   left_df.columns)


def _pinned(left_df: DataFrame) -> DataFrame:
    """`left_df`, materialized when its plan has a shuffle (a JoinSource),
    whose rows may come in another order each time the plan runs: the merge
    and each probe would get different monotonically_increasing_id rows."""
    plan = left_df._jdf.queryExecution().executedPlan().toString()
    return left_df.localCheckpoint() if "Exchange" in plan else left_df


def _scans_by_range(spark: SparkSession, join: Join, spec: PartitionSpec) -> bool:
    """Whether the left's date range prunes a scan: a bootstrap table, a
    snapshot, no-agg or mutation part, or a temporal part's right source
    that is a partitioned table or passes the range to inner sources."""
    def prunes(src) -> bool:
        if isinstance(src, (EventSource, EntitySource)):
            table = src.table if isinstance(src, EventSource) else src.snapshot_table
            return (src.query.partition_column or spec.column) in _load_table(
                spark, table).columns
        return not isinstance(src, DataFrameSource)

    return bool(join.bootstrap_parts) or any(
        _kind(jp.group_by) != "temporal" or any(map(prunes, jp.group_by.sources))
        for jp in join.join_parts)


def _kind(gb: GroupBy) -> str:
    """The part's algorithm in the reference's table (JoinPartJob.scala
    :216-246): "no_agg", "mutations" for a TEMPORAL part over an entity
    mutation log, else "temporal" or "snapshot" by accuracy."""
    if not gb.aggregations:
        return "no_agg"
    if gb.inferred_accuracy() != Accuracy.TEMPORAL:
        return "snapshot"
    if any(isinstance(s, EntitySource) and s.mutation_table for s in gb.sources):
        return "mutations"
    return "temporal"


def _join_part(
    spark: SparkSession,
    left_df: DataFrame,
    join_part: JoinPart,
    rng: Optional[PartitionRange],
    spec: PartitionSpec,
    skew_keys: Optional[dict] = None,
    probe: Optional[LeftProbe] = None,
) -> DataFrame:
    """One join part by its `_kind`: temporal -> sawtooth cogroup;
    mutations -> mutation replay; snapshot -> end-of-yesterday snapshot
    equi-join; no_agg -> latest snapshot row by key. A temporal part takes
    the step's `probe` of its left keys."""
    kind = _kind(join_part.group_by)
    if kind == "temporal":
        return compute_temporal_join_part(
            spark, left_df, join_part, rng, spec, skew_keys=skew_keys, probe=probe)
    if kind == "mutations":
        return compute_temporal_entity_join_part(spark, left_df, join_part, rng, spec)
    if kind == "snapshot":
        return compute_snapshot_join_part(spark, left_df, join_part, rng, spec)
    return _no_agg_join_part(spark, left_df, join_part, rng, spec)


def _apply_skew_filter(left_df: DataFrame, join: Join) -> DataFrame:
    """skewKeys config -> NOT IN filters (reference: JoinUtils.skewFilter:330-382)."""
    for col, values in (join.skew_keys or {}).items():
        if col in left_df.columns:
            left_df = left_df.where(~F.col(col).isin(values) | F.col(col).isNull())
    return left_df


def _merge_parts(
    out: DataFrame, frames: list, on: list[str], keep: list[str]
) -> DataFrame:
    """Left-join each (part frame, its feature columns) back onto `out` on
    `on`, the row id; return `keep` and then the features. A feature column
    `out` already holds is a bootstrap value and wins where not NULL."""
    features = {}
    for i, (pf, fcols) in enumerate(frames):
        out = out.join(
            pf.select(*on, *[F.col(c).alias(f"__p{i}_{c}") for c in fcols]), on, "left")
        for c in fcols:
            v = F.col(f"__p{i}_{c}")
            features[c] = F.coalesce(F.col(c), v) if c in out.columns else v
    return out.select(*keep, *[v.alias(c) for c, v in features.items()])


def _derive(join: Join, out: DataFrame, left_columns: list[str]) -> DataFrame:
    """Join derivations. Without a "*" entry only the row ids — by default
    the join keys, ts and ds — and the derived columns survive."""
    if not join.derivations:
        return out
    keys = [k for jp in join.join_parts for k in jp.right_to_left_keys().values()]
    ensure = list(join.row_ids or []) or [
        k for k in dict.fromkeys(keys + [TIME_COLUMN, PARTITION_COLUMN])
        if k in left_columns]
    return apply_derivations(out, join.derivations, ensure)


def _no_agg_join_part(
    spark: SparkSession,
    left_df: DataFrame,
    join_part: JoinPart,
    rng: Optional[PartitionRange],
    spec: PartitionSpec,
) -> DataFrame:
    """No-aggregation GroupBy = raw feature columns joined by key
    (reference: NoAggTest): for each left row, the latest snapshot
    partition whose ds <= date(left ts) - 1 ("end of yesterday"), carried
    forward per key so sparse snapshot tables still resolve — with zero
    leakage from same-day or future partitions.

    Physical plan (scale-safe, no theta join): dedupe right to one row per
    (key, ds); union snapshot rows with the left's distinct probe dates;
    one `last(ignorenulls)` carry-forward window per key; equi-join the
    left on (keys, date(ts)-1). Snapshot side is |keys| x |days| so the
    final join is broadcast/cheap."""
    from pyspark.sql import Window as W

    gb = join_part.group_by
    key_map = join_part.right_to_left_keys()
    prefix = join_part.full_prefix() + "_"
    keys = gb.key_columns

    left_rng = rng if rng is not None and rng.start else _left_date_range(left_df, spec)
    # scan nothing after end-of-yesterday of the left's max date
    scan_rng = PartitionRange(None, spec.before(left_rng.end), spec)
    right = _union_sources(spark, gb, scan_rng, spec)
    value_cols = [
        c for c in right.columns
        if c not in keys + [PARTITION_COLUMN, TIME_COLUMN]
    ]
    # one row per (key, snapshot day): latest by ts when present, else max
    # value-struct for determinism
    packed = F.struct(*[F.col(c) for c in value_cols])
    if TIME_COLUMN in right.columns:
        per_day_snap = F.max_by(packed, F.coalesce(F.col(TIME_COLUMN), F.lit(0)))
    else:
        per_day_snap = F.max(packed)
    snap_rows = right.groupBy(*keys, PARTITION_COLUMN).agg(
        per_day_snap.alias("__snap")
    ).select(*keys, F.col(PARTITION_COLUMN).alias("__d"), "__snap",
             F.lit(0).alias("__ord"))

    # probe rows: the left's distinct (key, date(ts) - 1) needs
    if TIME_COLUMN in left_df.columns:
        left_date = F.date_sub(F.to_date(F.timestamp_millis(F.col(TIME_COLUMN))), 1)
    else:
        left_date = F.date_sub(F.to_date(F.col(PARTITION_COLUMN)), 1)
    need_ds = F.date_format(left_date, "yyyy-MM-dd")
    nonnull_keys = F.lit(True)
    for k in keys:
        nonnull_keys = nonnull_keys & F.col(k).isNotNull()
    probes = (
        left_df.select(
            *[F.col(key_map[k]).alias(k) for k in keys], need_ds.alias("__d")
        )
        .where(nonnull_keys)
        .distinct()
    )
    snap_type = snap_rows.schema["__snap"].dataType.simpleString()
    probe_rows = probes.select(
        *keys, "__d", F.expr(f"CAST(NULL AS {snap_type})").alias("__snap"),
        F.lit(1).alias("__ord"),
    )

    # carry-forward: at equal ds, snapshots (__ord=0) sort before probes so
    # the ds == left_date - 1 partition IS visible to the probe
    w = (
        W.partitionBy(*keys)
        .orderBy("__d", "__ord")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    filled = (
        snap_rows.unionByName(probe_rows)
        .withColumn("__filled", F.last("__snap", ignorenulls=True).over(w))
        .where(F.col("__ord") == 1)
        .select(
            *[F.col(k).alias(f"__rk_{k}") for k in keys],
            F.col("__d").alias("__need_ds"),
            *[F.col("__filled")[c].alias(prefix + c) for c in value_cols],
        )
    )
    out = left_df.withColumn("__need_ds_l", need_ds)
    cond = F.col("__need_ds_l") == F.col("__need_ds")
    for k in keys:
        cond = cond & (F.col(key_map[k]) == F.col(f"__rk_{k}"))
    joined = out.join(filled, cond, "left")
    return joined.drop(
        "__need_ds_l", "__need_ds", *[f"__rk_{k}" for k in keys]
    )
