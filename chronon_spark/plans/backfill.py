"""Incremental, checkpoint-resumable backfill — the engine's analog of the
reference's modular pipeline (reference: batch/ModularMonolith.scala:24-117,
SourceJob -> JoinPartJob -> MergeJob; unfilled-range planning
TableUtils.unfilledRanges, catalog/TableUtils.scala:347-431; step chunking
GroupBy.scala:777, JoinBase.scala:344-347).

Every job is idempotent and partition-granular:
  1. plan  = unfilled_ranges(wanted, existing output partitions)
  2. chunk = each hole split into step_days ranges (bounds shuffle size and
     gives mid-job recovery points)
  3. run   = compute + ONE dynamic-partition-overwrite write per chunk —
     the step's plan runs once, nothing is cached
  4. record = one manifest row PER PARTITION with lineage + metrics, rows
     read from the footers of the files the step committed, appended with
     pyarrow on the driver (north_rule: per-partition lineage and metrics
     to a manifest table)

Semantic-hash invalidation (reference: JoinUtils.tablesToRecompute,
JoinUtils.scala:292-305): the job config's hash is stored with the output;
a changed definition archives the stale output and recomputes.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid
from dataclasses import asdict, dataclass, field, is_dataclass
from enum import Enum
from typing import Callable, Optional, Sequence

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chronon_spark.api import PARTITION_COLUMN, GroupBy, Join
from chronon_spark.partitions import (
    DEFAULT_SPEC,
    PartitionRange,
    PartitionSpec,
    chunk,
    unfilled_ranges,
)
from chronon_spark.sources.catalog import ParquetWarehouse

MANIFEST_TABLE = "_manifest"

MANIFEST_SCHEMA = (
    "job string, output_table string, ds string, rows long, "
    "input_start string, input_end string, wall_sec double, "
    "semantic_hash string, run_ts long, status string"
)
_MANIFEST_ARROW = pa.schema([
    (name, {"string": pa.string(), "long": pa.int64(), "double": pa.float64()}[t])
    for name, t in (f.split() for f in MANIFEST_SCHEMA.split(", "))
])


def agg_aware_hash(config) -> str:
    """Semantic hash that separates the GroupBy CORE (sources, keys,
    accuracy, ...) from per-aggregation hashes: "core+agg1+agg2+...".

    This is what makes schema evolution additive (reference: autoExpand,
    TableUtils.expandTable:542-603): a config whose only change is NEW
    aggregations is COMPATIBLE with existing output — green partitions
    stay, new partitions carry the extra columns, and mergeSchema reads
    old partitions with NULLs. Removing or altering an existing
    aggregation (or touching the core) stays a hard invalidation."""
    if isinstance(config, GroupBy) and config.aggregations:
        from dataclasses import replace

        core = replace(config, aggregations=None)
        parts = sorted(semantic_hash(a) for a in config.aggregations)
        return "+".join([semantic_hash(core)] + parts)
    return semantic_hash(config)


def semantic_hash(config) -> str:
    """Stable hash of a job definition (dataclass tree -> json -> sha1)."""

    def enc(o):
        if is_dataclass(o):
            return {"__type": type(o).__name__, **{k: enc(v) for k, v in asdict(o).items()}}
        if isinstance(o, Enum):
            return o.name
        if isinstance(o, dict):
            return {str(k): enc(v) for k, v in o.items()}
        if isinstance(o, (list, tuple)):
            return [enc(v) for v in o]
        if callable(o):
            return f"<fn {getattr(o, '__name__', 'lambda')}>"
        return o

    blob = json.dumps(enc(config), sort_keys=True, default=str)
    return hashlib.sha1(blob.encode()).hexdigest()[:16]


def column_hashes(group_by: GroupBy) -> dict[str, str]:
    """MetaData.columnHashes analog (api.thrift:308-311): output column
    name -> semantic hash covering the GroupBy CORE (sources: expressions,
    tables, filters, keys, time columns) plus that column's aggregation —
    exactly the per-aggregation decomposition agg_aware_hash uses for
    additive schema evolution, exposed per OUTPUT column for column-level
    lineage/change detection. Aggregation op/window/bucket affect only the
    NAME, so (per the thrift contract) two columns share a hash iff they
    aggregate the same input under the same scan."""
    from dataclasses import replace

    core = semantic_hash(replace(group_by, aggregations=None))
    out: dict[str, str] = {}
    for agg in group_by.aggregations or []:
        h = f"{core}+{semantic_hash(agg)}"
        for part in agg.unpack():
            out[part.output_name] = hashlib.sha1(h.encode()).hexdigest()[:16]
    return out


@dataclass
class StepResult:
    rng: PartitionRange
    rows: int
    wall_sec: float


@dataclass
class BackfillReport:
    output_table: str
    requested: PartitionRange
    planned: list[PartitionRange]
    steps: list[StepResult] = field(default_factory=list)
    recomputed_for_semantics: bool = False
    # partitions that existed under an older-but-compatible (additive)
    # definition and were re-materialized so the NEW aggregation columns
    # are computed instead of silently NULL
    additive_refilled: list[str] = field(default_factory=list)

    @property
    def rows_written(self) -> int:
        return sum(s.rows for s in self.steps)


class BackfillJob:
    """Generic partition-granular backfill of `compute(range) -> DataFrame`
    into a warehouse table, with manifest lineage."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: ParquetWarehouse,
        output_table: str,
        compute: Callable[[PartitionRange], DataFrame],
        config=None,
        job_name: str = "backfill",
        step_days: int = 15,
        spec: PartitionSpec = DEFAULT_SPEC,
        cluster_by: Optional[Sequence[str]] = None,
        recompute_days: Optional[int] = None,
        min_start: Optional[str] = None,
    ):
        self.spark = spark
        self.wh = warehouse
        self.output_table = output_table
        self.compute = compute
        self.job_name = job_name
        self.step_days = step_days
        self.spec = spec
        # write layout: range-cluster + sort each output partition on these
        # columns (e.g. ("user_id", "ts")) so downstream as-of scans prune
        # by footer min/max — the north-rule's explicit repartitionByRange
        self.cluster_by = tuple(cluster_by) if cluster_by else None
        # reference StagingQuery.recomputeDays (thrift/api.thrift:100-107):
        # every run re-materializes the trailing N days even if green —
        # the labeling-flow contract for in-place source rewrites and
        # partially-mature aggregations (labels that keep maturing for N
        # days after first computation)
        self.recompute_days = recompute_days
        # GroupBy.backfillStartDate (api.thrift:366): no historical
        # partitions before this date are ever generated — requested
        # ranges clamp to it
        self.min_start = min_start
        self.sem_hash = agg_aware_hash(config) if config is not None else ""

    # -- manifest ---------------------------------------------------------
    def _record(self, ds_rows: dict[str, int], rng: PartitionRange, wall: float,
                status: str = "ok") -> None:
        """Append one manifest row per partition (one `empty` row for a step
        that wrote nothing) as a parquet file written on the driver with
        pyarrow — no Spark job. The file lands under a hidden name and is
        renamed into place, so readers never see a partial file."""
        if not ds_rows:
            ds_rows, status = {rng.start or "": 0}, "empty"
        now = int(time.time() * 1000)
        rows = [
            dict(zip(_MANIFEST_ARROW.names, (
                self.job_name, self.output_table, ds, int(n), rng.start, rng.end,
                round(wall, 3), self.sem_hash, now, status)))
            for ds, n in sorted(ds_rows.items())
        ]
        root = self.wh.path(MANIFEST_TABLE)
        os.makedirs(root, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(root, "." + name)
        pq.write_table(pa.Table.from_pylist(rows, schema=_MANIFEST_ARROW), tmp)
        os.replace(tmp, os.path.join(root, name))

    def manifest(self) -> DataFrame:
        return self.spark.read.parquet(self.wh.path(MANIFEST_TABLE))

    # -- semantic invalidation -------------------------------------------
    def _compatible(self, prior: str) -> bool:
        """prior output is reusable iff its core matches and its
        aggregation set is a SUBSET of the new one (additive evolution)."""
        if prior == self.sem_hash:
            return True
        new, old = self.sem_hash.split("+"), prior.split("+")
        return old[0] == new[0] and set(old[1:]) <= set(new[1:])

    def _prior_hash(self) -> Optional[str]:
        if not self.sem_hash or not self.wh.exists(MANIFEST_TABLE):
            return None
        if not self.wh.exists(self.output_table):
            return None
        # the LATEST manifest entry describes the table currently on disk
        # (older hashes may belong to since-archived generations)
        prior = (
            self.manifest()
            .where(
                (F.col("output_table") == self.output_table)
                & (F.col("status") == "ok")
            )
            .orderBy(F.desc("run_ts"))
            .select("semantic_hash")
            .limit(1)
            .collect()
        )
        return prior[0]["semantic_hash"] if prior else None

    def _partitions_at_current_hash(self) -> set[str]:
        """Partitions whose LATEST ok manifest row carries the current
        semantic hash — only these may be reused after an additive change
        (older-compatible partitions lack the new aggregation columns)."""
        rows = (
            self.manifest()
            .where(
                (F.col("output_table") == self.output_table)
                & (F.col("status") == "ok")
            )
            .groupBy("ds")
            .agg(F.max_by("semantic_hash", "run_ts").alias("h"))
            .collect()
        )
        return {r["ds"] for r in rows if r["h"] == self.sem_hash}

    # -- run --------------------------------------------------------------
    def run(self, start: str, end: str, skip_first_hole: bool = True) -> BackfillReport:
        if self.min_start is not None and start < self.min_start:
            start = self.min_start
        wanted = PartitionRange(start, end, self.spec)
        prior = self._prior_hash()
        recomputed = False
        additive: list[str] = []
        if prior is not None and prior != self.sem_hash:
            if not self._compatible(prior):
                # definition changed -> ARCHIVE stale output (not drop —
                # reference: archiveOrDropTableIfExists), full recompute
                if hasattr(self.wh, "archive"):
                    self.wh.archive(self.output_table)
                else:  # pragma: no cover
                    self.wh.drop(self.output_table)
                recomputed = True
            else:
                # ADDITIVE change: schema may expand in place (reference
                # autoExpand), but partitions written under the old hash
                # lack the new aggregation's VALUES — re-materialize them
                # instead of reporting success with silently-NULL columns
                current = self._partitions_at_current_hash()
                additive = [
                    p for p in self.wh.partitions(self.output_table)
                    if p not in current
                    and (wanted.start is None or p >= wanted.start)
                    and (wanted.end is None or p <= wanted.end)
                ]
        existing = self.wh.partitions(self.output_table)
        if additive:
            existing = [p for p in existing if p not in set(additive)]
        if self.recompute_days:
            # trailing-window maturation: treat the last N wanted days as
            # unfilled so they re-plan (and re-overwrite) every run
            trail_start = self.spec.shift(end, -(self.recompute_days - 1))
            existing = [p for p in existing if p < trail_start]
        holes = unfilled_ranges(wanted, existing, skip_first_hole, self.spec)
        report = BackfillReport(self.output_table, wanted, holes,
                                recomputed_for_semantics=recomputed,
                                additive_refilled=sorted(additive))
        for hole in holes:
            for step in hole.steps(self.step_days):
                report.steps.append(self._run_step(step))
        return report

    def _run_step(self, step: PartitionRange, status: str = "ok") -> StepResult:
        """compute -> one write -> manifest. Rows per ds come from the
        footers of the files this step's commit added, so the step's plan
        runs exactly once and nothing is cached. Only the step's own
        partitions count: a concurrent writer may commit other partitions
        of the table meanwhile."""
        t0 = time.perf_counter()
        since = self.wh.latest_snapshot_id(self.output_table)
        self.wh.insert_overwrite(self.compute(step), self.output_table,
                                 cluster_by=self.cluster_by)
        per_ds = {ds: n for ds, n in self.wh.rows_added_since(self.output_table, since).items()
                  if step.start <= ds <= step.end}
        wall = time.perf_counter() - t0
        self._record(per_ds, step, wall, status)
        return StepResult(step, sum(per_ds.values()), round(wall, 3))


def groupby_backfill(
    spark: SparkSession,
    warehouse: ParquetWarehouse,
    group_by: GroupBy,
    output_table: str,
    step_days: int = 15,
    dense: bool = False,
    spec: PartitionSpec = DEFAULT_SPEC,
    cluster_by: Optional[Sequence[str]] = None,
) -> BackfillJob:
    """Snapshot-GroupBy backfill job (reference EP-1, GroupBy.computeBackfill)."""
    from chronon_spark.operators.groupby import compute_snapshot_groupby

    return BackfillJob(
        spark, warehouse, output_table,
        compute=lambda rng: compute_snapshot_groupby(spark, group_by, rng, spec, dense),
        config=group_by, job_name=f"groupby/{group_by.name}",
        step_days=step_days, spec=spec, cluster_by=cluster_by,
        min_start=group_by.backfill_start_date,
    )


def join_backfill(
    spark: SparkSession,
    warehouse: ParquetWarehouse,
    join: Join,
    output_table: str,
    step_days: int = 15,
    spec: PartitionSpec = DEFAULT_SPEC,
    cluster_by: Optional[Sequence[str]] = None,
) -> BackfillJob:
    """Join backfill job (reference EP-2, JoinBase.computeJoin): each step is
    `compute_join` over the step's range, so every part keeps its declared
    accuracy, no-agg and bootstrap parts included."""
    from chronon_spark.operators.snapshot_join import compute_join

    return BackfillJob(
        spark, warehouse, output_table,
        compute=lambda rng: compute_join(spark, join, rng, spec),
        config=join, job_name=f"join/{join.name}",
        step_days=step_days, spec=spec, cluster_by=cluster_by,
    )


# ---------------------------------------------------------------------------
# incremental refresh over snapshot ranges (north rule: "incremental
# backfill over Iceberg snapshot ranges")
# ---------------------------------------------------------------------------
def staging_backfill(
    spark: SparkSession,
    warehouse: ParquetWarehouse,
    staging_query,
    output_table: str,
    step_days: int = 15,
    spec: PartitionSpec = DEFAULT_SPEC,
    cluster_by: Optional[Sequence[str]] = None,
) -> BackfillJob:
    """StagingQuery as a resumable partition-granular job. Honors the
    query's `recompute_days` (reference thrift/api.thrift:100-107): every
    run re-materializes the trailing N days even when green — late data
    and maturing label windows keep refreshing until stable."""
    from dataclasses import replace

    from chronon_spark.operators.staging import run_staging_query

    return BackfillJob(
        spark, warehouse, output_table,
        compute=lambda rng: run_staging_query(
            spark, staging_query.query, rng, spec, staging_query.setups
        ),
        # recompute_days is orchestration metadata, not query semantics —
        # changing it must not invalidate (archive+recompute) the table
        config=replace(staging_query, recompute_days=None),
        job_name=f"staging/{staging_query.name}",
        step_days=step_days, spec=spec, cluster_by=cluster_by,
        recompute_days=staging_query.recompute_days,
    )


def groupby_affected_days(group_by: GroupBy) -> Optional[int]:
    """How many output days one changed upstream day can influence: the max
    window length in days (snapshot day d reads upstream (d-w, d]).
    None = unbounded (a lifetime aggregation makes every LATER output
    partition stale)."""
    days = 1
    for part in group_by.aggregation_parts():
        w = part.window
        if w is None:
            return None
        days = max(days, -(-w.millis // 86_400_000))
    return days


@dataclass
class RefreshReport:
    upstream_table: str
    from_snapshot: int
    to_snapshot: int
    changed_upstream: list[str]
    refreshed: list[PartitionRange]
    backfill: Optional[BackfillReport] = None


class WatermarkStore:
    """Consumed-snapshot watermarks: <root>/_watermarks/<consumer>__<upstream>.json.
    The downstream job's cursor into the upstream snapshot log."""

    def __init__(self, warehouse: ParquetWarehouse):
        self.wh = warehouse

    def _path(self, consumer: str, upstream: str) -> str:
        d = self.wh.path("_watermarks")
        os.makedirs(d, exist_ok=True)
        return os.path.join(d, f"{consumer}__{upstream}.json")

    def get(self, consumer: str, upstream: str) -> Optional[dict]:
        p = self._path(consumer, upstream)
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            return json.load(fh)

    def set(self, consumer: str, upstream: str, snapshot_id: int, sem_hash: str) -> None:
        p = self._path(consumer, upstream)
        tmp = p + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"snapshot_id": snapshot_id, "semantic_hash": sem_hash}, fh)
        os.rename(tmp, p)


def incremental_refresh(
    job: BackfillJob,
    upstream_table: str,
    start: str,
    end: str,
    affected_days: Optional[int] = 1,
) -> RefreshReport:
    """Run `job` over [start, end], additionally RECOMPUTING output
    partitions invalidated by upstream commits since the last consumed
    snapshot (plain `run` only fills holes — it cannot see that an already
    -green partition's inputs were rewritten).

    The upstream snapshot log answers "which ds values changed in
    (last_consumed, latest]"; each changed upstream day d invalidates
    output days [d, d + affected_days - 1] (affected_days=None = every
    later day — unbounded windows). Invalidated partitions are recomputed
    and manifest-recorded with status 'refreshed'; holes backfill as
    usual; the watermark then advances to `latest`. Iceberg analog:
    incremental processing off the snapshot log (Flink/Spark structured
    streaming over Iceberg uses the same start/end-snapshot-id scan).
    """
    wh = job.wh
    wm = WatermarkStore(wh)
    latest = wh.latest_snapshot_id(upstream_table)
    prior = wm.get(job.output_table, upstream_table)
    refreshed: list[PartitionRange] = []
    changed: list[str] = []
    from_snap = 0
    # a watermark from a different job definition is meaningless — the
    # semantic-hash machinery already archives/recomputes in that case
    if prior is not None and prior.get("semantic_hash") == job.sem_hash:
        from_snap = prior["snapshot_id"]
        changed = wh.changed_partitions(upstream_table, from_snap, latest)
        stale: set[str] = set()
        existing = set(wh.partitions(job.output_table))
        for ds in changed:
            if affected_days is None:
                lo, hi = max(ds, start), end
            else:
                lo = max(ds, start)
                hi = min(job.spec.shift(ds, affected_days - 1), end)
            d = lo
            while d <= hi:
                if d in existing:
                    stale.add(d)
                d = job.spec.after(d)
        for rng in chunk(sorted(stale), job.spec):
            for step in rng.steps(job.step_days):
                job._run_step(step, status="refreshed")
                refreshed.append(step)
    report = job.run(start, end)
    wm.set(job.output_table, upstream_table, latest, job.sem_hash)
    return RefreshReport(
        upstream_table=upstream_table,
        from_snapshot=from_snap,
        to_snapshot=latest,
        changed_upstream=changed,
        refreshed=refreshed,
        backfill=report,
    )


# ---------------------------------------------------------------------------
# modular join pipeline (reference: batch/ModularMonolith.scala)
# ---------------------------------------------------------------------------
def run_modular_join(
    spark: SparkSession,
    warehouse: ParquetWarehouse,
    join: Join,
    rng: PartitionRange,
    namespace: str = "modular",
    step_days: int = 15,
    spec: PartitionSpec = DEFAULT_SPEC,
) -> DataFrame:
    """Join as a DAG of resumable, table-materialized BackfillJob nodes:
    SourceJob (left) -> per-part JoinPartJob (`_join_part`) -> MergeJob ->
    derivations; parts and merge read the left without the skew keys.
    Re-running computes only unfilled ranges. Equals `compute_join` (the
    reference's ModularJoinTest). Bootstrap parts raise."""
    from chronon_spark.operators.snapshot_join import (
        ROW_ID, _apply_skew_filter, _derive, _join_part, _merge_parts)
    from chronon_spark.sources.scan import scan_source

    if join.bootstrap_parts:
        raise ValueError(
            f"join {join.name}: the modular join does not support bootstrap_parts; "
            "run it with compute_join or join_backfill")
    left_table = f"{namespace}_{join.name}_left"
    # row id (reference: Join.rowIds / JoinPartJob row-id carry): minted
    # ONCE when the left table materializes, then stable on disk — part
    # outputs carry it through, and MergeJob joins on it instead of on
    # every left column (null-valued or duplicated left columns would make
    # an all-columns equi-join drop or multiply feature rows).
    src_job = BackfillJob(
        spark, warehouse, left_table,
        compute=lambda r: scan_source(spark, join.left, r, spec).withColumn(
            ROW_ID, F.monotonically_increasing_id()
        ),
        config=join.left, job_name=f"source/{join.name}",
        step_days=step_days, spec=spec,
    )
    src_job.run(rng.start, rng.end)

    def read_left(r: PartitionRange) -> DataFrame:
        return _apply_skew_filter(warehouse.read(left_table, r), join)

    part_tables = []
    for jp in join.join_parts:
        pt = f"{namespace}_{join.name}_part_{jp.full_prefix()}"
        part_tables.append(pt)
        pj = BackfillJob(
            spark, warehouse, pt,
            compute=lambda r, jp=jp: _join_part(
                spark, read_left(r), jp, r, spec, join.skew_keys
            ),
            # the part's rows carry the left table's row ids and skew filter
            config=(jp, join.skew_keys, src_job.sem_hash),
            job_name=f"part/{join.name}/{jp.full_prefix()}",
            step_days=step_days, spec=spec,
        )
        pj.run(rng.start, rng.end)

    # MergeJob (reference: JoinBase.joinWithLeft / MergeJob.scala:81-140),
    # keyed on (__row_id, ds) — unique because ids are unique within one
    # chunk's compute and chunks cover disjoint ds ranges.
    left_df = read_left(rng)
    frames = []
    for pt in part_tables:
        part_df = warehouse.read(pt, rng)
        frames.append((part_df, [c for c in part_df.columns if c not in left_df.columns]))
    keep = [c for c in left_df.columns if c != ROW_ID]
    out = _merge_parts(left_df, frames, [ROW_ID, PARTITION_COLUMN], keep)
    return _derive(join, out, keep)
