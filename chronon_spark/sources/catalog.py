"""Format-aware catalog: partition listing + idempotent partitioned writes
+ an Iceberg-style snapshot log for incremental consumption.

The reference supports Hive / Iceberg / Delta catalogs (reference:
spark/.../catalog/Format.scala, Iceberg.scala:21-85, DeltaLake.scala,
FormatProvider.scala) with partition listing via Iceberg's `.partitions`
metadata table and dynamic insert-overwrite sinks
(TableUtils.insertPartitions:219-290).

This container ships no Iceberg/Delta jars, so the default implementation
is a directory-of-parquet warehouse with hive-style `ds=` partitioning that
exposes the exact same three primitives the engine needs:

  * partitions(table)          -> list of ds strings      (resume planning)
  * read(table[, range])       -> DataFrame               (pruned scan)
  * insert_overwrite(df,table) -> per-partition overwrite (idempotent sink)

plus the Iceberg snapshot-metadata surface the north rule's incremental
backfill consumes (each commit = one snapshot recording added/removed
data files — Iceberg's snapshot log, kept as JSON under the table dir):

  * snapshots(table)                      -> commit metadata list
  * read_at(table, snapshot_id)          -> time travel (VERSION AS OF)
  * read_incremental(table, from, to)    -> incremental append scan
  * changed_partitions(table, from, to)  -> which ds values a snapshot
    range touched — the planning primitive for incremental refresh

On this warehouse the file inventory comes from a directory walk (the
sandbox analog of reading Iceberg manifests); a real Iceberg catalog
answers the same four calls from metadata alone and `Catalog.for_session`
picks it automatically when the runtime jar is present — the rest of the
engine is unchanged.

Caveats, same as Iceberg's: once a table has a log, all writes must go
through `insert_overwrite` (files added behind the log's back are
invisible to reads); deleting a partition directory by hand is tolerated
for current-state reads (forces recompute, a supported Hive-era workflow)
but breaks time travel to versions that referenced it.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from typing import Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from chronon_spark.partitions import DEFAULT_SPEC, PartitionRange, PartitionSpec

SNAPSHOT_DIR = "_chronon_snapshots"  # leading _ -> invisible to parquet discovery


class ParquetWarehouse:
    """Directory-backed warehouse: <root>/<table>/ds=YYYY-MM-DD/*.parquet."""

    def __init__(self, spark: SparkSession, root: str, spec: PartitionSpec = DEFAULT_SPEC):
        self.spark = spark
        self.root = root
        self.spec = spec

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        return os.path.isdir(self.path(table))

    def partitions(self, table: str) -> list[str]:
        """List ds partition values from the directory layout (the analog of
        `SELECT partition FROM db.tbl.partitions` on Iceberg)."""
        if not self.exists(table):
            return []
        files = self._live_files(table)
        if files is not None:  # log-resolved (dead files don't count)
            return sorted({p for f in files if (p := self._partition_of(f))})
        pat = re.compile(rf"^{re.escape(self.spec.column)}=(.+)$")
        out = []
        for entry in os.listdir(self.path(table)):
            m = pat.match(entry)
            if m:
                out.append(m.group(1))
        return sorted(out)

    def read(self, table: str, rng: Optional[PartitionRange] = None) -> DataFrame:
        # ds stays a string column (partition dirs would otherwise be
        # type-inferred to DATE on read-back). mergeSchema: evolved tables
        # (autoExpand — new feature columns added later) read old
        # partitions with NULLs for the new columns, the parquet analog of
        # the reference's ALTER TABLE ADD COLUMNS
        # (TableUtils.expandTable:542-603).
        # Tables with a snapshot log resolve their LIVE file set through it
        # (data files are immutable; replaced files stay on disk for time
        # travel until expire_snapshots) — the Iceberg read path.
        files = self._live_files(table)
        with self._no_partition_type_inference():
            if files is None:
                df = self.spark.read.option("mergeSchema", "true").parquet(
                    self.path(table))
            elif not files:
                try:
                    df = (
                        self.spark.read.option("mergeSchema", "true")
                        .parquet(self.path(table)).limit(0)
                    )
                except Exception as e:  # no physical file left to infer from
                    raise ValueError(
                        f"table {table!r} has an empty live set and no "
                        "residual data file to infer a schema from"
                    ) from e
            else:
                df = self._read_files(table, files)
        if rng is not None:
            for clause in rng.where_clauses(self.spec.column):
                df = df.where(clause)
        return df

    def _no_partition_type_inference(self):
        """Scoped (set/restore) partitionColumnTypeInference=false: ds must
        stay a string, but permanently flipping the session conf would
        change unrelated reads' partition-column types as a side effect."""
        import contextlib

        spark = self.spark

        @contextlib.contextmanager
        def scope():
            key = "spark.sql.sources.partitionColumnTypeInference.enabled"
            prev = spark.conf.get(key, None)
            spark.conf.set(key, "false")
            try:
                yield
            finally:
                if prev is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, prev)

        return scope()

    def archive(self, table: str) -> Optional[str]:
        """Rename the table out of the way instead of destroying it
        (reference: TableUtils.archiveOrDropTableIfExists:454-463 —
        `{table}_archive_{yyyyMMddHHmmss}`). Returns the archive path."""
        import datetime

        if not self.exists(table):
            return None
        suffix = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%d%H%M%S")
        dst = self.path(f"{table}__archive_{suffix}")
        n = 0
        while os.path.exists(dst):  # same-second re-archives
            n += 1
            dst = self.path(f"{table}__archive_{suffix}_{n}")
        os.rename(self.path(table), dst)
        return dst

    def insert_overwrite(
        self, df: DataFrame, table: str, cluster_by: Optional[Sequence[str]] = None
    ) -> None:
        """Dynamic partition overwrite — idempotent per-partition sink.

        reference: TableUtils.insertPartitions (catalog/TableUtils.scala:219-290)
        with partitionOverwriteMode=dynamic semantics, implemented the
        Iceberg way: the commit stages new immutable data files, MOVES them
        into the table, and logically replaces the touched partitions'
        previous files in the snapshot log (they stay on disk for time
        travel until `expire_snapshots`). Readers resolve liveness through
        the log, so a half-finished stage is invisible — same isolation
        guarantee as an Iceberg commit.

        `cluster_by` (e.g. ("user_id", "ts")): range-shuffle on
        (ds, *cluster_by) + sortWithinPartitions before the write — the
        Iceberg SORTED BY layout. Each data file then covers a narrow
        (entity, ts) slice, so as-of probes and entity-range scans prune
        by parquet footer min/max instead of reading whole partitions;
        downstream sorts start from clustered runs. Costs one extra
        range exchange at write time — pay it once per table, save it on
        every scan.
        """
        import shutil

        self._ensure_adopted(table)
        if cluster_by:
            cols = [self.spec.column, *cluster_by]
            df = df.repartitionByRange(*cols).sortWithinPartitions(*cols)
        # Per-writer staging dir: concurrent insert_overwrite calls must
        # never share staging state, or one writer's cleanup deletes
        # another's in-flight files and the survivor commits a partial
        # added-list. pid+uuid gives each writer its own namespace; the
        # optimistic-concurrency guarantee in _commit_snapshot then holds.
        stage = os.path.join(
            self.path(table), f"_stage.{os.getpid()}.{uuid.uuid4().hex[:8]}"
        )
        shutil.rmtree(stage, ignore_errors=True)
        df.write.mode("overwrite").partitionBy(self.spec.column).parquet(stage)
        added: list[str] = []
        for dirpath, dirnames, files in os.walk(stage):
            dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
            for f in files:
                if f.endswith(".parquet") and not f.startswith(("_", ".")):
                    rel = os.path.relpath(os.path.join(dirpath, f), stage)
                    dst = os.path.join(self.path(table), rel)
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    os.replace(os.path.join(dirpath, f), dst)
                    added.append(rel)
        shutil.rmtree(stage, ignore_errors=True)
        touched = {p for f in added if (p := self._partition_of(f))}
        self._commit_snapshot(table, "overwrite", sorted(added), touched=touched)

    def drop(self, table: str) -> None:
        import shutil

        if self.exists(table):
            shutil.rmtree(self.path(table))

    # -- snapshot log (Iceberg semantics on a parquet dir) ------------------
    def _data_files(self, table: str) -> set[str]:
        """Current data-file inventory, as table-relative paths. The
        directory walk is the sandbox stand-in for reading Iceberg
        manifests; Spark's own writes make file names unique per commit
        (part-<task>-<uuid>), so set difference identifies a commit's
        added/removed files exactly."""
        root = self.path(table)
        if not os.path.isdir(root):
            return set()
        out: set[str] = set()
        for dirpath, dirnames, files in os.walk(root):
            dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
            for f in files:
                if f.endswith(".parquet") and not f.startswith(("_", ".")):
                    out.add(os.path.relpath(os.path.join(dirpath, f), root))
        return out

    def _partition_of(self, relpath: str) -> Optional[str]:
        m = re.search(rf"(?:^|/){re.escape(self.spec.column)}=([^/]+)/", relpath)
        return m.group(1) if m else None

    def _snapshot_dir(self, table: str) -> str:
        return os.path.join(self.path(table), SNAPSHOT_DIR)

    def _live_files(self, table: str) -> Optional[list[str]]:
        """Files live at the latest snapshot; None when the table has no
        log (externally-written parquet — plain directory semantics).

        Existence-filtered: operators deleting a partition directory by
        hand to force recompute is a supported Hive-era workflow, so for
        CURRENT-state reads and planning the directory stays the source of
        truth for existence (time travel via read_at stays strict — it
        fails loudly if history was physically deleted)."""
        snaps = self.snapshots(table)
        if not snaps:
            # a PRESENT but empty log dir means "logged table, zero live
            # files" (a first commit is staging) — only a truly logless
            # table falls back to plain directory semantics
            if os.path.isdir(self._snapshot_dir(table)):
                return []
            return None
        live: set[str] = set()
        for s in snaps:
            live.update(s["added_files"])
            live.difference_update(s["removed_files"])
        root = self.path(table)
        return sorted(f for f in live if os.path.exists(os.path.join(root, f)))

    def _ensure_adopted(self, table: str) -> None:
        """Adopt a pre-existing logless table: its current files become
        snapshot 1 (operation 'adopt'), so subsequent commits can replace
        them logically."""
        if self.snapshots(table):
            return
        existing = sorted(self._data_files(table))
        if existing:
            self._commit_snapshot(table, "adopt", existing, [])
        else:
            # EMPTY fresh table: no adopt snapshot (ids stay 1-based from
            # the first real commit), but the log directory must exist
            # before insert_overwrite moves staged files in — a reader
            # during that window then resolves "log present, zero live
            # files" (an empty table) instead of falling back to logless
            # directory semantics and seeing a half-finished commit
            os.makedirs(self._snapshot_dir(table), exist_ok=True)

    def snapshots(self, table: str) -> list[dict]:
        """Commit log, oldest first (Iceberg: `SELECT * FROM tbl.snapshots`)."""
        sdir = self._snapshot_dir(table)
        if not os.path.isdir(sdir):
            return []
        out = []
        for f in sorted(os.listdir(sdir)):
            if f.startswith("v") and f.endswith(".json"):
                with open(os.path.join(sdir, f)) as fh:
                    out.append(json.load(fh))
        return out

    def latest_snapshot_id(self, table: str) -> int:
        """0 when the table has no commits yet."""
        snaps = self.snapshots(table)
        return snaps[-1]["snapshot_id"] if snaps else 0

    def rows_added_since(self, table: str, snapshot_id: int) -> dict[str, int]:
        """Rows per partition in the data files that overwrite commits
        after `snapshot_id` added, read from their parquet footers on the
        driver — no data scan, no Spark job (Iceberg keeps the same number
        as each manifest entry's record_count)."""
        import pyarrow.parquet as pq

        out: dict[str, int] = {}
        for s in self.snapshots(table):
            if s["snapshot_id"] > snapshot_id and s["operation"] == "overwrite":
                for f in s["added_files"]:
                    ds = self._partition_of(f)
                    n = pq.read_metadata(os.path.join(self.path(table), f)).num_rows
                    out[ds] = out.get(ds, 0) + n
        return out

    def _commit_snapshot(
        self,
        table: str,
        operation: str,
        added: list[str],
        removed: Optional[list[str]] = None,
        touched: Optional[set] = None,
        max_retries: int = 50,
    ) -> dict:
        """Optimistic-concurrency commit (Iceberg semantics): the new
        snapshot file is created EXCLUSIVELY (os.link fails if another
        writer took the id first); on conflict the commit re-reads the
        log tip, REBASES — the replaced-file set is recomputed against
        the files live NOW in the touched partitions, so concurrent
        writers to different partitions both survive and same-partition
        races resolve last-writer-wins — and retries with the next id.
        `removed` is only for callers with a fixed replacement set
        (adopt); partition overwrites pass `touched` instead."""
        sdir = self._snapshot_dir(table)
        os.makedirs(sdir, exist_ok=True)
        for _ in range(max_retries):
            sid = self.latest_snapshot_id(table) + 1
            if touched is not None:
                # rebase against the CURRENT tip (never trust a
                # pre-commit read — the log may have advanced since)
                removed_now = sorted(
                    f for f in (self._live_files(table) or [])
                    if self._partition_of(f) in touched
                )
            else:
                removed_now = sorted(removed or [])
            parts = {
                p for f in added + removed_now if (p := self._partition_of(f))
            }
            snap = {
                "snapshot_id": sid,
                "parent_id": sid - 1 if sid > 1 else None,
                "operation": operation,
                "added_files": added,
                "removed_files": removed_now,
                "partitions": sorted(parts),
            }
            final = os.path.join(sdir, f"v{sid:08d}.json")
            # pid+uuid: two THREADS of one process otherwise share the tmp
            # path and can publish each other's payload via os.link
            tmp = final + f".tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as fh:
                json.dump(snap, fh)
            try:
                os.link(tmp, final)  # atomic create-if-absent
                return snap
            except FileExistsError:
                continue  # another writer won this id — rebase + retry
            finally:
                os.unlink(tmp)
        raise RuntimeError(
            f"snapshot commit contention on {table}: {max_retries} retries"
        )

    def compact(self, table: str, min_files: int = 2,
                cluster_by: Optional[Sequence[str]] = None) -> dict:
        """Iceberg `rewrite_data_files` analog: partitions fragmented into
        >= `min_files` live files by repeated incremental commits are
        rewritten as one file per partition, committed like any other
        snapshot (current rows unchanged — asserted by tests; prior
        versions still readable until expire_snapshots). Small files are
        THE silent scan-cost killer of a long-running incremental
        pipeline: task-per-file scheduling overhead grows with commits,
        not with data.

        `cluster_by`: pass the table's write-time clustering columns so
        the rewrite PRESERVES the sorted layout (a plain hash rewrite
        would silently destroy the footer min/max pruning the table paid
        a range exchange to establish).
        """
        from collections import Counter

        self._ensure_adopted(table)
        live = self._live_files(table) or []
        per_part = Counter(
            p for f in live if (p := self._partition_of(f))
        )
        frag = sorted(p for p, n in per_part.items() if n >= min_files)
        if not frag:
            return {"partitions": [], "files_before": 0, "files_after": 0}
        files = [f for f in live if self._partition_of(f) in set(frag)]
        df = self._read_files(table, files)
        from pyspark.sql import functions as F

        if not cluster_by:
            # hash-repartition on the partition column: every ds lands in
            # exactly one task -> exactly one output file per partition
            df = df.repartition(len(frag), F.col(self.spec.column))
        self.insert_overwrite(df, table, cluster_by=cluster_by)
        after = Counter(
            p for f in (self._live_files(table) or [])
            if (p := self._partition_of(f)) in set(frag)
        )
        return {
            "partitions": frag,
            "files_before": len(files),
            "files_after": sum(after.values()),
        }

    def expire_snapshots(
        self, table: str, retain_last: int = 1, grace_seconds: float = 3600.0
    ) -> int:
        """Garbage-collect with retention (Iceberg expire_snapshots
        retain-last semantics): keep the newest `retain_last` snapshots
        time-travelable; every data file referenced by any retained
        version survives, everything older is physically deleted and the
        log is rebased onto a baseline snapshot carrying the oldest
        retained version's live set (so replay of the retained deltas
        still reconstructs each kept version exactly). retain_last=1 is
        the classic collapse-to-current. Returns files deleted.

        `grace_seconds`: data files younger than this are never deleted
        even if unreferenced — a concurrent insert_overwrite moves files
        into the table dir BEFORE its snapshot commit lands, and without
        the grace window expiry would reap that in-flight commit's files
        (Iceberg's remove_orphan_files has the same `older_than` guard).
        Pass 0 only when the caller holds exclusive access."""
        snaps = self.snapshots(table)
        if not snaps:
            return 0
        retain_last = max(1, retain_last)
        retained = snaps[-retain_last:]
        cut_sid = retained[0]["snapshot_id"]
        root = self.path(table)

        def live_at(sid: int) -> set:
            live: set = set()
            for s in snaps:
                if s["snapshot_id"] > sid:
                    break
                live.update(s["added_files"])
                live.difference_update(s["removed_files"])
            return live

        keep: set = set()
        for s in retained:
            keep |= live_at(s["snapshot_id"])
        keep = {f for f in keep if os.path.exists(os.path.join(root, f))}
        now = time.time()
        # Files referenced by SOME snapshot but no retained one are provably
        # dead (the log shows them committed and superseded).  Files no
        # snapshot references are either true orphans or a concurrent
        # writer's moved-but-not-yet-committed files — only those get the
        # age guard.
        referenced: set = set()
        for s in snaps:
            referenced.update(s["added_files"])

        def _reapable(f: str) -> bool:
            if f in referenced:
                return True
            try:
                return now - os.path.getmtime(os.path.join(root, f)) >= grace_seconds
            except OSError:
                return False

        dead = sorted(
            f for f in self._data_files(table) - keep if _reapable(f)
        )
        for f in dead:
            try:
                os.remove(os.path.join(root, f))
            except FileNotFoundError:
                pass
        sdir = self._snapshot_dir(table)
        baseline = sorted(
            f for f in live_at(cut_sid)
            if os.path.exists(os.path.join(root, f))
        )
        # rewrite ATOMICALLY and in replay-safe order: first replace
        # v{cut} in place with the baseline (carrying, as removed_files,
        # every file a pre-cut snapshot referenced that the baseline does
        # not re-add — so replaying the not-yet-deleted prefix + baseline
        # still yields EXACTLY live_at(cut)), then delete the older
        # snapshot files. A concurrent snapshots() never sees an empty or
        # torn log at any point.
        ref_le_cut: set = set()
        for s in snaps:
            if s["snapshot_id"] <= cut_sid:
                ref_le_cut.update(s["added_files"])
        self._commit_snapshot_with_id(
            table, cut_sid, "expire", baseline,
            removed=sorted(ref_le_cut - set(baseline)))
        for f in os.listdir(sdir):
            if f.startswith("v") and f.endswith(".json"):
                if int(f[1:-5]) < cut_sid:
                    os.remove(os.path.join(sdir, f))
        return len(dead)

    def _commit_snapshot_with_id(
        self, table: str, sid: int, operation: str, added: list[str],
        removed: Optional[list[str]] = None,
    ) -> None:
        snap = {
            "snapshot_id": sid,
            "parent_id": None,
            "operation": operation,
            "added_files": added,
            "removed_files": removed or [],
            "partitions": sorted(
                {p for f in added if (p := self._partition_of(f))}
            ),
        }
        sdir = self._snapshot_dir(table)
        os.makedirs(sdir, exist_ok=True)
        final = os.path.join(sdir, f"v{sid:08d}.json")
        tmp = final + f".tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(snap, fh)
        os.replace(tmp, final)  # never a torn/partial snapshot file

    def _read_files(self, table: str, files: list[str]) -> DataFrame:
        if not files:
            return self.read(table).limit(0)
        base = self.path(table)
        with self._no_partition_type_inference():
            return (
                self.spark.read.option("mergeSchema", "true")
                .option("basePath", base)
                .parquet(*[os.path.join(base, f) for f in files])
            )

    def read_at(self, table: str, snapshot_id: int) -> DataFrame:
        """Time travel (Iceberg `VERSION AS OF`): the files live at that
        snapshot = added up to it minus removed up to it. Replaced files
        stay on disk until expire_snapshots, so old versions read exactly."""
        snaps = self.snapshots(table)
        if not snaps:  # logless table: only the current version exists
            return self.read(table)
        if snapshot_id < snaps[0]["snapshot_id"]:
            # after retention-expiry the log starts at the rebased
            # baseline — older versions are GONE; failing loudly beats a
            # silently-empty frame (Iceberg raises for expired snapshots)
            raise ValueError(
                f"snapshot {snapshot_id} of {table} has been expired "
                f"(oldest retained: {snaps[0]['snapshot_id']})"
            )
        live: set[str] = set()
        for s in snaps:
            if s["snapshot_id"] > snapshot_id:
                break
            live.update(s["added_files"])
            live.difference_update(s["removed_files"])
        return self._read_files(table, sorted(live))

    def read_incremental(
        self, table: str, from_snapshot: int, to_snapshot: Optional[int] = None
    ) -> DataFrame:
        """Incremental append scan (Iceberg start-snapshot-id/end-snapshot-id):
        rows of files added in (from_snapshot, to_snapshot] and still live
        at to_snapshot. For append-only tables this is exactly Iceberg's
        incremental read; for overwrite commits it returns the replacing
        files' rows (the current content of rewritten partitions), which is
        what incremental refresh wants."""
        to = to_snapshot if to_snapshot is not None else self.latest_snapshot_id(table)
        fresh: set[str] = set()
        for s in self.snapshots(table):
            sid = s["snapshot_id"]
            if sid > to:
                break
            if sid > from_snapshot:
                fresh.update(s["added_files"])
                fresh.difference_update(s["removed_files"])
        return self._read_files(table, sorted(fresh))

    def changed_partitions(
        self, table: str, from_snapshot: int, to_snapshot: Optional[int] = None
    ) -> list[str]:
        """ds values touched by commits in (from_snapshot, to_snapshot] —
        the planning primitive for incremental downstream refresh."""
        to = to_snapshot if to_snapshot is not None else self.latest_snapshot_id(table)
        parts: set[str] = set()
        for s in self.snapshots(table):
            if from_snapshot < s["snapshot_id"] <= to:
                parts.update(s["partitions"])
        return sorted(parts)


def recover_partition_column(df: DataFrame, mapping: dict, col: str) -> DataFrame:
    """Attach a metadata-sourced partition value per input FILE (hive
    layouts keep it out of the data files): `mapping` is abs-path ->
    value, matched against scheme-stripped input_file_name(). Keys are
    full paths on purpose — one partitionBy job reuses the same basename
    (part-<task>-<jobuuid>) in every partition dir. Small file sets
    inline a literal map; large ones broadcast-join a (path, value)
    frame so the plan stays flat at manifest scale (millions of files on
    a real table would otherwise blow up the expression tree)."""
    from pyspark.sql import functions as F

    # input_file_name() is URI-percent-encoded (a space is %20) while the
    # mapping keys are raw filesystem paths — decode before matching, or
    # any table path with a space/%/non-ASCII char silently recovers NULL
    stripped = F.regexp_replace(
        F.input_file_name(), "^[a-z][a-z0-9+.-]*:(//)?", "")
    path_col = F.coalesce(F.try_url_decode(stripped), stripped)
    if len(mapping) <= 64:
        # try_element_at: ANSI mode makes plain element_at THROW on a
        # missing key; an unmapped file must yield NULL like the join path
        return df.withColumn(col, F.try_element_at(
            F.create_map(*[F.lit(x) for kv in mapping.items() for x in kv]),
            path_col))
    spark = df.sparkSession
    lookup = spark.createDataFrame(
        [(p, v) for p, v in mapping.items()], f"__file_path string, {col} string")
    return (df.withColumn("__file_path", path_col)
              .join(F.broadcast(lookup), "__file_path", "left")
              .drop("__file_path"))


def read_parquet_path(spark: SparkSession, path: str,
                      rng: Optional[PartitionRange] = None) -> DataFrame:
    """Format-aware read for a direct path, in precedence order:

    1. a warehouse snapshot log (authoritative for tables this engine
       wrote — replaced files retained for time travel must not
       double-count);
    2. Iceberg v2 metadata (``metadata/v*.metadata.json``) — external
       Iceberg tables read through the wire-format reader;
    3. a Delta transaction log (``_delta_log/``) — ditto for Delta;
    4. plain parquet.

    Used by the Query-DSL scan, so an EventSource/EntitySource can point
    at any of the four layouts and see committed data only. `rng`, when
    given, prunes FILES from the plan via each format's metadata (the
    scan's row-level ds predicates alone cannot prune an explicit file
    list); plain hive-layout parquet gets it from Catalyst partition
    pruning instead."""
    local = path[len("file:"):] if path.startswith("file:") else path
    local = local.rstrip("/")
    bounds = (rng.start, rng.end) if rng is not None else None
    if os.path.isdir(os.path.join(local, SNAPSHOT_DIR)):
        wh = ParquetWarehouse(spark, os.path.dirname(local))
        return wh.read(os.path.basename(local), rng)
    meta_dir = os.path.join(local, "metadata")
    if os.path.isdir(meta_dir) and any(
            f.endswith(".metadata.json") for f in os.listdir(meta_dir)):
        from chronon_spark.sources.iceberg import IcebergTable
        return IcebergTable(local).read(spark, partition_range=bounds)
    if os.path.isdir(os.path.join(local, "_delta_log")):
        from chronon_spark.sources.delta_log import DeltaTable
        return DeltaTable(local).read(spark, partition_range=bounds)
    return spark.read.parquet(path)


class IcebergCatalog:  # pragma: no cover - requires iceberg runtime jar
    """Real Iceberg tables, when the runtime jar is on the classpath."""

    def __init__(self, spark: SparkSession, namespace: str = "chronon"):
        self.spark = spark
        self.namespace = namespace
        self.spec = DEFAULT_SPEC

    def partitions(self, table: str) -> list[str]:
        rows = self.spark.sql(
            f"SELECT partition.{self.spec.column} AS p FROM {self.namespace}.{table}.partitions"
        ).collect()
        return sorted({r["p"] for r in rows})

    def read(self, table: str, rng: Optional[PartitionRange] = None) -> DataFrame:
        df = self.spark.read.table(f"{self.namespace}.{table}")
        if rng is not None:
            for clause in rng.where_clauses(self.spec.column):
                df = df.where(clause)
        return df

    def insert_overwrite(
        self, df: DataFrame, table: str, cluster_by: Optional[Sequence[str]] = None
    ) -> None:
        if cluster_by:
            cols = [self.spec.column, *cluster_by]
            df = df.repartitionByRange(*cols).sortWithinPartitions(*cols)
        df.writeTo(f"{self.namespace}.{table}").overwritePartitions()

    # snapshot surface: same four calls as ParquetWarehouse, answered from
    # Iceberg metadata tables (no file listing at all)
    def snapshots(self, table: str) -> list[dict]:
        rows = self.spark.sql(
            f"SELECT snapshot_id, parent_id, operation FROM "
            f"{self.namespace}.{table}.snapshots ORDER BY committed_at"
        ).collect()
        return [r.asDict() for r in rows]

    def latest_snapshot_id(self, table: str) -> int:
        snaps = self.snapshots(table)
        return snaps[-1]["snapshot_id"] if snaps else 0

    def read_at(self, table: str, snapshot_id: int) -> DataFrame:
        return (
            self.spark.read.option("snapshot-id", str(snapshot_id))
            .table(f"{self.namespace}.{table}")
        )

    def read_incremental(
        self, table: str, from_snapshot: int, to_snapshot: Optional[int] = None
    ) -> DataFrame:
        r = self.spark.read.format("iceberg").option(
            "start-snapshot-id", str(from_snapshot)
        )
        if to_snapshot is not None:
            r = r.option("end-snapshot-id", str(to_snapshot))
        return r.load(f"{self.namespace}.{table}")

    def changed_partitions(
        self, table: str, from_snapshot: int, to_snapshot: Optional[int] = None
    ) -> list[str]:
        rows = (
            self.read_incremental(table, from_snapshot, to_snapshot)
            .select(self.spec.column).distinct().collect()
        )
        return sorted(r[0] for r in rows)


class Catalog:
    @staticmethod
    def for_session(spark: SparkSession, root: str) -> ParquetWarehouse:
        try:  # use real Iceberg when the extension is configured
            ext = spark.conf.get("spark.sql.extensions", "")
            if "IcebergSparkSessionExtensions" in (ext or ""):
                return IcebergCatalog(spark)  # type: ignore[return-value]
        except Exception:
            pass
        return ParquetWarehouse(spark, root)


def zorder_column(
    cols: Sequence[tuple[str, float, float]], bits: int = 16
):
    """Z-order (Morton) key over up to 4 numeric columns — the multi-
    column layout complement to linear `cluster_by`: linear clustering
    prunes footer min/max only on the LEADING column; range-partitioning
    on the interleaved key gives every listed column narrow per-file
    ranges, so scans filtering on ANY of them skip files.

    cols: (column, lo, hi) with the scaling bounds (from partition_stats'
    footer walk — no data scan needed); values clamp to [lo, hi] and
    scale to `bits` levels before bit interleaving. One Arrow-batched
    pandas UDF, vectorized interleave, flat plan at any width.

    Usage: df.withColumn("__z", zorder_column([...]));
           warehouse.insert_overwrite(df, t, cluster_by=("__z",)).
    """
    import numpy as np
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    if not 1 <= len(cols) <= 4:
        raise ValueError("zorder supports 1-4 columns")
    names = [c for c, _, _ in cols]
    bounds = [(float(lo), float(hi)) for _, lo, hi in cols]
    k = len(cols)
    # keep every interleaved bit below the int64 sign bit: at 4 cols ×
    # bits=16 the top bit would land at position 63 and keys wrap negative,
    # rotating the repartitionByRange sort order across the sign boundary
    bits = min(bits, 63 // k)

    @pandas_udf("long")
    def _z(struct: pd.DataFrame) -> pd.Series:
        out = np.zeros(len(struct), dtype=np.int64)
        quant = []
        for (lo, hi), name in zip(bounds, names):
            v = struct[name].to_numpy(dtype=np.float64, na_value=lo)
            span = max(hi - lo, 1e-12)
            q = np.clip((v - lo) / span, 0.0, 1.0)
            quant.append((q * ((1 << bits) - 1)).astype(np.int64))
        # interleave: bit b of column j lands at position b*k + j
        for b in range(bits):
            for j, q in enumerate(quant):
                out |= ((q >> b) & 1) << (b * k + j)
        return pd.Series(out)

    return _z(F.struct(*[F.col(c).alias(c) for c in names]))
