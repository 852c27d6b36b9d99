"""Date-partition algebra: PartitionSpec / PartitionRange.

The backbone of incremental backfill — dates-as-strings shift / intersect /
steps / where-clauses, plus the "unfilled ranges" diff that makes every job
idempotent and resumable at partition granularity.

reference: api/.../PartitionSpec.scala:29-141, api/.../DataRange.scala:38-163,
TableUtils.unfilledRanges spark/.../catalog/TableUtils.scala:347-431.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from typing import Iterable, Optional

DAY_MILLIS = 24 * 60 * 60 * 1000


@dataclass(frozen=True)
class PartitionSpec:
    """Partition column + string date format + interval (only daily supported)."""

    column: str = "ds"
    fmt: str = "%Y-%m-%d"  # python strftime form of yyyy-MM-dd
    interval_millis: int = DAY_MILLIS

    def parse(self, ds: str) -> datetime:
        return datetime.strptime(ds, self.fmt).replace(tzinfo=timezone.utc)

    def format(self, dt: datetime) -> str:
        return dt.strftime(self.fmt)

    def epoch_millis(self, ds: str) -> int:
        return int(self.parse(ds).timestamp() * 1000)

    def of_epoch_millis(self, millis: int) -> str:
        return self.format(datetime.fromtimestamp(millis / 1000.0, tz=timezone.utc))

    def shift(self, ds: str, days: int) -> str:
        return self.format(self.parse(ds) + timedelta(milliseconds=days * self.interval_millis))

    def after(self, ds: str) -> str:
        return self.shift(ds, 1)

    def before(self, ds: str) -> str:
        return self.shift(ds, -1)


DEFAULT_SPEC = PartitionSpec()


@dataclass(frozen=True)
class PartitionRange:
    """Closed range of date partitions [start, end] (both inclusive).

    Either bound may be None (open / unbounded), matching the reference's
    PartitionRange (api/.../DataRange.scala:38-163).
    """

    start: Optional[str]
    end: Optional[str]
    spec: PartitionSpec = field(default=DEFAULT_SPEC)

    def intersect(self, other: "PartitionRange") -> "PartitionRange":
        def _max(a, b):
            if a is None:
                return b
            if b is None:
                return a
            return max(a, b)

        def _min(a, b):
            if a is None:
                return b
            if b is None:
                return a
            return min(a, b)

        return PartitionRange(_max(self.start, other.start), _min(self.end, other.end), self.spec)

    def shift(self, days: int) -> "PartitionRange":
        s = self.spec.shift(self.start, days) if self.start else None
        e = self.spec.shift(self.end, days) if self.end else None
        return PartitionRange(s, e, self.spec)

    def partitions(self) -> list[str]:
        """All partition values in the range. Requires both bounds."""
        assert self.start is not None and self.end is not None, "unbounded range"
        out, cur = [], self.start
        while cur <= self.end:
            out.append(cur)
            cur = self.spec.after(cur)
        return out

    def steps(self, days: int) -> list["PartitionRange"]:
        """Split into chunks of `days` partitions (step_days chunking).

        reference: api/.../DataRange.scala:83 (PartitionRange.steps).
        """
        parts = self.partitions()
        return [
            PartitionRange(parts[i], parts[min(i + days, len(parts)) - 1], self.spec)
            for i in range(0, len(parts), days)
        ]

    def where_clauses(self, column: Optional[str] = None) -> list[str]:
        """SQL predicates pruning a scan to this range.

        reference: TableUtils.whereClauses (catalog/TableUtils.scala:651-662):
        col >= start AND col < after(end).
        """
        col = column or self.spec.column
        clauses = []
        if self.start is not None:
            clauses.append(f"{col} >= '{self.start}'")
        if self.end is not None:
            clauses.append(f"{col} < '{self.spec.after(self.end)}'")
        return clauses

    def __contains__(self, ds: str) -> bool:
        if self.start is not None and ds < self.start:
            return False
        if self.end is not None and ds > self.end:
            return False
        return True


def chunk(partitions: Iterable[str], spec: PartitionSpec = DEFAULT_SPEC) -> list[PartitionRange]:
    """Group a sorted set of partition values into contiguous ranges.

    reference: TableUtils.chunk (catalog/TableUtils.scala:335-345).
    """
    out: list[PartitionRange] = []
    run_start = prev = None
    for p in sorted(set(partitions)):
        if prev is not None and p == spec.after(prev):
            prev = p
            continue
        if run_start is not None:
            out.append(PartitionRange(run_start, prev, spec))
        run_start = prev = p
    if run_start is not None:
        out.append(PartitionRange(run_start, prev, spec))
    return out


def unfilled_ranges(
    wanted: PartitionRange,
    existing_output_partitions: Iterable[str],
    skip_first_hole: bool = True,
    spec: PartitionSpec = DEFAULT_SPEC,
) -> list[PartitionRange]:
    """Partitions in `wanted` missing from the output — the resume unit.

    Output-partitions diff + hole chunking. With ``skip_first_hole`` the
    leading hole before the earliest existing partition is NOT recomputed
    (matches the reference's default semantics so that a shortened
    retention on inputs doesn't trigger infinite backfill).
    reference: TableUtils.unfilledRanges (catalog/TableUtils.scala:347-431).
    """
    existing = {p for p in existing_output_partitions if p in wanted}
    missing = [p for p in wanted.partitions() if p not in existing]
    if skip_first_hole and existing and missing:
        earliest_existing = min(existing)
        missing = [p for p in missing if p > earliest_existing]
    return chunk(missing, spec)
