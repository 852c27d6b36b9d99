"""Persistable, mergeable sketch IRs for cross-job aggregation.

The reference persists standard sketch binaries in its IR tables so that
partials computed by DIFFERENT jobs (or engines) can be merged later:
KLL for APPROX_PERCENTILE and CPC for APPROX_UNIQUE_COUNT
(reference: aggregator/.../SimpleAggregators.scala:400-491,499-585 —
`CpcFriendly`/`KllSketch` serde into the IR columns).

This module provides the Spark-first analog:

* **Quantiles** — a from-scratch numpy implementation of the KLL sketch
  (Karnin, Lang, Liberty, "Optimal quantile approximation in streams",
  FOCS 2016 — the same public algorithm the reference's library
  implements). Fixed-size binary payload, `merge` is associative and
  commutative, rank error is O(1/k) with k anchors. The wire format is
  this engine's own (documented below) — the container ships no
  `datasketches` python bindings, so cross-ENGINE compatibility is out
  of scope, but cross-JOB IR-table reuse (the thing the reference's KV
  upload path needs) works end-to-end and is tested.

* **Unique counts** — Spark's built-in `hll_sketch_agg` already emits an
  Apache DataSketches-format HLL binary (public format), so the IR table
  just persists that column; `hll_union_agg` merges partials from any
  number of jobs. Nothing custom to implement — the wrappers below make
  the round trip explicit.

Both IR writers produce one row per (key..., ds) with a `binary` sketch
column: bounded size per row regardless of events/day, the property that
makes a 100 TB backfill's IR table small enough to re-merge cheaply.

KLL wire format (little-endian):
    magic  u16 = 0x4B4C ('KL')
    k      u16
    n      u64          total updates folded in
    levels u16          number of levels (level i weight = 2^i)
    counts u32 * levels items per level
    items  f64 * sum(counts)   level 0 first, each level ascending-sorted
"""

from __future__ import annotations

import math
import struct
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MAGIC = 0x4B4C
_HDR = struct.Struct("<HHQH")


class KLL:
    """KLL quantile sketch over float64 values.

    Levels of sorted numpy buffers; an item at level i represents 2^i
    original values. When a level overflows its capacity, every other
    item (deterministic alternating offset — keeps IR builds
    reproducible run-to-run; the (2/3)^h capacity decay still bounds
    rank error at O(1/k)) is promoted to the next level.
    """

    C = 2.0 / 3.0

    def __init__(self, k: int = 200):
        self.k = int(k)
        self.n = 0
        self.levels: list[np.ndarray] = [np.empty(0)]
        self._pending: list[float] = []  # level-0 staging, sorted on demand
        self._coin = 0

    # -- capacity ---------------------------------------------------------
    def _cap(self, level: int) -> int:
        # top level keeps k items; lower levels decay by C per step down
        depth = len(self.levels) - 1 - level
        return max(2, int(np.ceil(self.k * (self.C ** depth))))

    # -- updates ----------------------------------------------------------
    def update(self, v: float) -> None:
        self._pending.append(float(v))
        self.n += 1
        if len(self._pending) >= self._cap(0):
            self._flush()

    def update_many(self, vals: np.ndarray) -> None:
        vals = np.asarray(vals, dtype=np.float64)
        vals = vals[~np.isnan(vals)]
        self.n += len(vals)
        self._pending.extend(vals.tolist())
        if len(self._pending) >= self._cap(0):
            self._flush()

    def _flush(self) -> None:
        if self._pending:
            lvl0 = np.sort(
                np.concatenate([self.levels[0], np.asarray(self._pending)])
            )
            self.levels[0] = lvl0
            self._pending = []
        self._compress()

    def _compress(self) -> None:
        i = 0
        while i < len(self.levels):
            if len(self.levels[i]) <= self._cap(i):
                i += 1
                continue
            buf = self.levels[i]
            # deterministic alternating offset replaces the coin flip
            off = self._coin & 1
            self._coin += 1
            promoted = buf[off::2]
            self.levels[i] = np.empty(0)
            if i + 1 == len(self.levels):
                self.levels.append(np.empty(0))
            self.levels[i + 1] = np.sort(
                np.concatenate([self.levels[i + 1], promoted])
            )
            i += 1

    # -- queries ----------------------------------------------------------
    def _flat(self) -> tuple[np.ndarray, np.ndarray]:
        self._flush()
        vals = [lvl for lvl in self.levels if len(lvl)]
        wts = [
            np.full(len(lvl), 1 << i, dtype=np.float64)
            for i, lvl in enumerate(self.levels)
            if len(lvl)
        ]
        if not vals:
            return np.empty(0), np.empty(0)
        v = np.concatenate(vals)
        w = np.concatenate(wts)
        order = np.argsort(v, kind="stable")
        return v[order], w[order]

    def quantile(self, p: float) -> Optional[float]:
        """Engine-pinned convention: value at rank max(1, ceil(p * n))."""
        v, w = self._flat()
        if len(v) == 0:
            return None
        cum = np.cumsum(w)
        target = max(1.0, np.ceil(p * cum[-1]))
        idx = int(np.searchsorted(cum, target - 1e-9))
        return float(v[min(idx, len(v) - 1)])

    # -- merge ------------------------------------------------------------
    def merge(self, other: "KLL") -> "KLL":
        self._flush()
        other._flush()
        while len(self.levels) < len(other.levels):
            self.levels.append(np.empty(0))
        for i, lvl in enumerate(other.levels):
            if len(lvl):
                self.levels[i] = np.sort(np.concatenate([self.levels[i], lvl]))
        self.n += other.n
        self._compress()
        return self

    # -- serde ------------------------------------------------------------
    def to_bytes(self) -> bytes:
        self._flush()
        counts = np.array([len(l) for l in self.levels], dtype=np.uint32)
        items = (
            np.concatenate([l for l in self.levels])
            if any(counts)
            else np.empty(0)
        )
        return (
            _HDR.pack(_MAGIC, self.k, self.n, len(self.levels))
            + counts.tobytes()
            + items.astype("<f8").tobytes()
        )

    @classmethod
    def from_bytes(cls, data: bytes) -> "KLL":
        magic, k, n, nlev = _HDR.unpack_from(data, 0)
        if magic != _MAGIC:
            raise ValueError("not a KLL payload")
        sk = cls(k)
        sk.n = n
        off = _HDR.size
        counts = np.frombuffer(data, dtype="<u4", count=nlev, offset=off)
        off += 4 * nlev
        items = np.frombuffer(data, dtype="<f8", offset=off)
        sk.levels, pos = [], 0
        for c in counts:
            sk.levels.append(items[pos: pos + c].copy())
            pos += c
        if not sk.levels:
            sk.levels = [np.empty(0)]
        return sk

    # -- Apache DataSketches wire format -----------------------------------
    # Byte-level layout of the DataSketches KLL *doubles* sketch (the
    # format the reference's upload path persists via `KllSketch` serde,
    # SimpleAggregators.scala:545-585). Public spec: datasketches-java
    # KllPreambleUtil.java / datasketches-cpp kll_sketch_impl.hpp
    # (Apache-2.0; layout reproduced in the field comments below). The
    # container ships no datasketches bindings, so the fixtures in
    # tests/test_sketch_ir.py are hand-assembled field-by-field from that
    # spec rather than emitted by the reference library — the strongest
    # check available in this environment.
    #
    #   byte 0   preamble_ints   2 (empty / single item)  |  5 (full)
    #   byte 1   serial_version  1 (empty / full)         |  2 (single)
    #   byte 2   family id       15 (KLL)
    #   byte 3   flags           bit0 EMPTY, bit1 LEVEL_ZERO_SORTED,
    #                            bit2 SINGLE_ITEM
    #   byte 4-5 k               uint16 LE
    #   byte 6   m               min level width, always 8
    #   byte 7   unused
    #  full format only:
    #   byte 8-15  n             uint64 LE
    #   byte 16-17 min_k         uint16 LE (smallest k seen across merges)
    #   byte 18    num_levels    uint8
    #   byte 19    unused
    #   then       levels array  uint32 * num_levels — offsets of each
    #              level's start in the items region; the final entry
    #              levels[num_levels] is NOT serialized (derived:
    #              levels[0] + retained_items)
    #   then       min_item, max_item   two float64
    #   then       retained items       float64 * retained, level 0 first,
    #              each level ascending (level 0 only if flag bit1)
    #  single-item format: bytes 0-7 as above, then the one float64 item.
    _DS_FAMILY = 15
    _DS_M = 8
    _DS_FLAG_EMPTY = 1
    _DS_FLAG_L0_SORTED = 2
    _DS_FLAG_SINGLE = 4

    def to_datasketches_bytes(self) -> bytes:
        """Serialize into the Apache DataSketches KLL-doubles layout so the
        IR column can be ingested by a datasketches-enabled engine."""
        self._flush()
        levels = list(self.levels)
        while len(levels) > 1 and len(levels[-1]) == 0:
            levels.pop()  # DS requires a non-empty top level
        retained = sum(len(l) for l in levels)
        if self.n == 0:
            return struct.pack(
                "<BBBBHBB", 2, 1, self._DS_FAMILY,
                self._DS_FLAG_EMPTY | self._DS_FLAG_L0_SORTED,
                self.k, self._DS_M, 0,
            )
        if self.n == 1 and retained == 1:
            item = float(np.concatenate(levels)[0])
            return struct.pack(
                "<BBBBHBB", 2, 2, self._DS_FAMILY,
                self._DS_FLAG_SINGLE | self._DS_FLAG_L0_SORTED,
                self.k, self._DS_M, 0,
            ) + struct.pack("<d", item)
        num_levels = len(levels)
        offsets = np.zeros(num_levels, dtype="<u4")
        for i in range(1, num_levels):
            offsets[i] = offsets[i - 1] + len(levels[i - 1])
        flat = np.concatenate([l for l in levels if len(l)])
        weights = np.concatenate(
            [np.full(len(l), 1 << i) for i, l in enumerate(levels) if len(l)]
        )
        # min/max track the true stream extremes; after compression only
        # the surviving items are known — use them (standard when
        # rebuilding from a partial, and exact whenever level buffers
        # never overflowed)
        lo, hi = float(flat.min()), float(flat.max())
        del weights
        return (
            struct.pack(
                "<BBBBHBB", 5, 1, self._DS_FAMILY,
                self._DS_FLAG_L0_SORTED, self.k, self._DS_M, 0,
            )
            + struct.pack("<QHBB", self.n, self.k, num_levels, 0)
            + offsets.tobytes()
            + struct.pack("<dd", lo, hi)
            + flat.astype("<f8").tobytes()
        )

    @classmethod
    def from_datasketches_bytes(cls, data: bytes) -> "KLL":
        """Ingest an Apache DataSketches KLL-doubles payload (any producer:
        datasketches-java/cpp/python or this module) into a mergeable KLL."""
        pre, ser, fam, flags, k, m, _ = struct.unpack_from("<BBBBHBB", data, 0)
        if fam != cls._DS_FAMILY:
            raise ValueError(f"not a DataSketches KLL payload (family={fam})")
        if m != cls._DS_M:
            raise ValueError(f"unsupported KLL m={m} (engine supports m=8)")
        sk = cls(k)
        if flags & cls._DS_FLAG_EMPTY:
            return sk
        if flags & cls._DS_FLAG_SINGLE:
            (item,) = struct.unpack_from("<d", data, 8)
            sk.levels = [np.array([item])]
            sk.n = 1
            return sk
        if pre != 5 or ser != 1:
            raise ValueError(f"unsupported KLL preamble (ints={pre}, ver={ser})")
        n, _min_k, num_levels, _ = struct.unpack_from("<QHBB", data, 8)
        off = 20
        offsets = np.frombuffer(data, dtype="<u4", count=num_levels, offset=off)
        off += 4 * num_levels
        off += 16  # min_item, max_item — quantiles here derive from items
        items = np.frombuffer(data, dtype="<f8", offset=off)
        base = int(offsets[0])
        bounds = [int(o) - base for o in offsets] + [len(items)]
        sk.levels = [
            np.array(items[bounds[i]: bounds[i + 1]])
            for i in range(num_levels)
        ]
        if sk.levels and not (flags & cls._DS_FLAG_L0_SORTED):
            sk.levels[0] = np.sort(sk.levels[0])
        sk.n = n
        return sk

    @classmethod
    def from_any_bytes(cls, data: bytes) -> "KLL":
        """Sniff the payload format: byte 0 of the engine layout is 0x4C
        ('L' of the u16-LE magic 0x4B4C); DataSketches payloads start with
        preamble_ints (2 or 5) — disjoint, so IR tables produced by
        different engines union and merge transparently."""
        if len(data) >= 2 and data[0] == (_MAGIC & 0xFF) and data[1] == (_MAGIC >> 8):
            return cls.from_bytes(data)
        return cls.from_datasketches_bytes(data)


class FrequentStrings:
    """Frequent-items sketch over strings, wire-compatible with Apache
    DataSketches ``ItemsSketch<String>`` + ``ArrayOfStringsSerDe`` — the
    exact payload the reference's FrequentItems aggregator persists
    (reference: SimpleAggregators.scala:400-500, ItemsSketchIR serde at
    :438-441 via ``sketch.toByteArray(new ArrayOfStringsSerDe)``).

    Algorithm: Misra-Gries / frequent-directions counting as DataSketches
    implements it — a bounded map of (item -> stored count) plus a global
    ``offset`` accumulated by purges. Invariants (ErrorType
    NO_FALSE_NEGATIVES semantics): for every item,
    ``stored <= true_count <= stored + offset``; estimate = upper bound =
    stored + offset. A purge subtracts the MEDIAN of the stored counts
    and drops non-positive entries (ReversePurgeItemHashMap.purge);
    merge adds the other sketch's stored counts via update then sums the
    offsets (ItemsSketch.merge).

    Wire layout (datasketches-java frequencies/PreambleUtil.java +
    ItemsSketch.toByteArray; Apache-2.0, layout reproduced below; the
    container ships no datasketches bindings, so the fixture in
    tests/test_sketch_ir.py is hand-assembled field-by-field from that
    spec — same strategy as the KLL format above):

      byte 0    preamble_longs   1 (empty) | 4 (non-empty)
      byte 1    serial_version   1
      byte 2    family id        10 (FREQUENCY)
      byte 3    lgMaxMapSize
      byte 4    lgCurMapSize
      byte 5    flags            bit2 EMPTY
      byte 6-7  unused
     non-empty only:
      byte 8-11   activeItems    uint32 LE (bytes 12-15 unused)
      byte 16-23  streamLength   uint64 LE
      byte 24-31  offset         uint64 LE
      then        stored counts  int64 LE * activeItems
      then        items          ArrayOfStringsSerDe: per item a
                  uint32 LE utf-8 byte length + the utf-8 bytes
    """

    _DS_FAMILY = 10
    _DS_SER_VER = 1
    _DS_FLAG_EMPTY = 4
    _LG_MIN = 3
    LOAD_FACTOR = 0.75

    def __init__(self, lg_max_map_size: int = 10):
        if lg_max_map_size < self._LG_MIN:
            raise ValueError(f"lg_max_map_size must be >= {self._LG_MIN}")
        self.lg_max = lg_max_map_size
        self.counts: dict[str, int] = {}
        self.offset = 0
        self.n = 0

    @classmethod
    def for_map_size(cls, map_size: int) -> "FrequentStrings":
        """The reference's sizing rule (SimpleAggregators.scala:404-412):
        purge halves a 0.75-loaded map, so holding k items at all times
        needs mapSize = ceil(k / (0.75 * 0.5)) rounded up to a power of
        two."""
        if map_size <= 0:
            raise ValueError("map_size must be positive")
        eff = math.ceil(map_size / (0.75 * 0.5))
        lg = max(cls._LG_MIN, (max(eff, 2) - 1).bit_length())
        return cls(lg)

    def _cap(self) -> int:
        return int((1 << self.lg_max) * self.LOAD_FACTOR)

    def update(self, item: str, weight: int = 1) -> None:
        if weight <= 0:
            if weight < 0:
                raise ValueError("negative weight")
            return
        self.n += weight
        self.counts[item] = self.counts.get(item, 0) + weight
        if len(self.counts) > self._cap():
            self._purge()

    def _purge(self) -> None:
        vals = sorted(self.counts.values())
        med = vals[len(vals) // 2]
        self.offset += med
        self.counts = {i: c - med for i, c in self.counts.items() if c > med}

    def merge(self, other: "FrequentStrings") -> "FrequentStrings":
        for item, c in other.counts.items():
            self.counts[item] = self.counts.get(item, 0) + c
            if len(self.counts) > self._cap():
                self._purge()
        self.offset += other.offset
        self.n += other.n
        return self

    # -- bounds (NO_FALSE_NEGATIVES semantics)
    def estimate(self, item: str) -> int:
        c = self.counts.get(item, 0)
        return c + self.offset if c > 0 else 0

    def lower_bound(self, item: str) -> int:
        return self.counts.get(item, 0)

    def frequent_items(self, map_size: Optional[int] = None) -> dict[str, int]:
        """getFrequentItems(NO_FALSE_NEGATIVES) + the reference's top-k
        heap finalize (SimpleAggregators.scala:445-471): items whose
        upper bound exceeds the maximum error (= any stored item, since
        purge drops non-positive counts; c > 0 defends against hostile
        deserialized payloads), the `map_size` largest by estimate."""
        out = {i: c + self.offset for i, c in self.counts.items() if c > 0}
        if map_size is not None and len(out) > map_size:
            kept = sorted(out.items(), key=lambda kv: (kv[1], kv[0]),
                          reverse=True)[:map_size]
            out = dict(kept)
        return out

    # -- wire format
    def _lg_cur(self) -> int:
        lg = self._LG_MIN
        while len(self.counts) > (1 << lg) * self.LOAD_FACTOR:
            lg += 1
        return min(lg, self.lg_max)

    def to_datasketches_bytes(self) -> bytes:
        # java parity: ItemsSketch.toByteArray keys the EMPTY preamble on
        # getNumActiveItems() == 0, NOT on streamLength — an all-purged
        # sketch serializes as empty (dropping n/offset), exactly as the
        # java library does, so byte-equality against java-written IRs
        # holds for every logical state
        if not self.counts:
            return struct.pack(
                "<BBBBBBH", 1, self._DS_SER_VER, self._DS_FAMILY,
                self.lg_max, self._LG_MIN, self._DS_FLAG_EMPTY, 0)
        items = sorted(self.counts)  # deterministic payload bytes
        head = struct.pack(
            "<BBBBBBH", 4, self._DS_SER_VER, self._DS_FAMILY,
            self.lg_max, self._lg_cur(), 0, 0)
        head += struct.pack("<IIQQ", len(items), 0, self.n, self.offset)
        head += struct.pack(f"<{len(items)}q", *(self.counts[i] for i in items))
        for it in items:
            raw = it.encode("utf-8")
            head += struct.pack("<I", len(raw)) + raw
        return head

    @classmethod
    def from_datasketches_bytes(cls, data: bytes) -> "FrequentStrings":
        pre, ser, fam, lg_max, _lg_cur, flags, _ = struct.unpack_from(
            "<BBBBBBH", data, 0)
        if fam != cls._DS_FAMILY:
            raise ValueError(f"not a DataSketches frequency payload (family={fam})")
        if ser != cls._DS_SER_VER:
            raise ValueError(f"unsupported frequency serial version {ser}")
        sk = cls(max(lg_max, cls._LG_MIN))
        if flags & cls._DS_FLAG_EMPTY:
            return sk
        if pre != 4:
            raise ValueError(f"unsupported frequency preamble longs {pre}")
        active, _, n, offset = struct.unpack_from("<IIQQ", data, 8)
        off = 32
        stored = struct.unpack_from(f"<{active}q", data, off)
        off += 8 * active
        counts: dict[str, int] = {}
        for c in stored:
            (ln,) = struct.unpack_from("<I", data, off)
            off += 4
            counts[data[off:off + ln].decode("utf-8")] = c
            off += ln
        sk.counts, sk.offset, sk.n = counts, offset, n
        return sk


# -- IR tables ------------------------------------------------------------

def write_quantile_ir(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    ds_col: str = "ds",
    k: int = 200,
    out_col: str = "kll_ir",
    wire_format: str = "engine",
) -> DataFrame:
    """One bounded binary KLL payload per (keys..., ds).

    Scan-shaped + one shuffle on (keys, ds); the payload is O(k) bytes no
    matter how many events the day holds — the IR table stays tiny next
    to the event table. Output schema: keys + ds + `out_col` binary.

    wire_format: "engine" (this module's layout) or "datasketches"
    (Apache DataSketches KLL-doubles layout — what the reference's
    upload path persists, SimpleAggregators.scala:545-585). Mergers
    sniff per-payload, so tables in either format union freely.
    """
    if wire_format not in ("engine", "datasketches"):
        raise ValueError(f"unknown wire_format {wire_format!r}")
    out_schema = ", ".join(
        [f"`{c}` {t}" for c, t in df.select(*keys, ds_col).dtypes]
        + [f"`{out_col}` binary"]
    )
    group_cols = list(keys) + [ds_col]

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = KLL(k)
        sk.update_many(pdf[value_col].to_numpy(dtype=np.float64, na_value=np.nan))
        head = pdf.iloc[:1][group_cols].reset_index(drop=True)
        head[out_col] = [
            sk.to_bytes() if wire_format == "engine"
            else sk.to_datasketches_bytes()
        ]
        return head

    return (
        df.select(*group_cols, value_col)
        .groupBy(*group_cols)
        .applyInPandas(build, schema=out_schema)
    )


def merge_quantile_irs(
    ir_df: DataFrame,
    keys: list[str],
    percentiles: list[float],
    ir_col: str = "kll_ir",
) -> DataFrame:
    """Merge KLL payloads (any number of jobs' IR tables unioned) down to
    one row per key with the requested quantiles. Associative merge —
    partial merges inside each Arrow batch, so the shuffle carries
    sketches, never raw values."""
    out_schema = ", ".join(
        [f"`{c}` {t}" for c, t in ir_df.select(*keys).dtypes]
        + [f"`p{int(p * 100)}` double" for p in percentiles]
    )

    def combine(pdf: pd.DataFrame) -> pd.DataFrame:
        acc: Optional[KLL] = None
        for payload in pdf[ir_col]:
            sk = KLL.from_any_bytes(bytes(payload))
            acc = sk if acc is None else acc.merge(sk)
        head = pdf.iloc[:1][list(keys)].reset_index(drop=True)
        for p in percentiles:
            head[f"p{int(p * 100)}"] = acc.quantile(p)
        return head

    return (
        ir_df.select(*keys, ir_col).groupBy(*keys).applyInPandas(combine, schema=out_schema)
    )


def write_unique_ir(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    ds_col: str = "ds",
    lg_k: int = 12,
    out_col: str = "hll_ir",
) -> DataFrame:
    """One Apache-DataSketches-format HLL binary per (keys..., ds) —
    Spark's native `hll_sketch_agg`, a PUBLIC wire format other engines
    (Trino, Hive, datasketches-python) can union directly."""
    return (
        df.groupBy(*keys, ds_col)
        .agg(F.hll_sketch_agg(F.col(value_col).cast("string"), lg_k).alias(out_col))
    )


def merge_unique_irs(
    ir_df: DataFrame, keys: list[str], ir_col: str = "hll_ir",
    out_col: str = "unique_estimate",
) -> DataFrame:
    """Union HLL payloads across jobs/days -> one estimate per key.
    Pure JVM (hll_union_agg), no Python in the path."""
    return (
        ir_df.groupBy(*keys)
        .agg(F.hll_sketch_estimate(F.hll_union_agg(F.col(ir_col))).alias(out_col))
    )


def write_frequent_ir(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    ds_col: str = "ds",
    map_size: int = 128,
    out_col: str = "freq_ir",
) -> DataFrame:
    """One DataSketches ItemsSketch<String> payload per (keys..., ds) —
    the binary the reference's FrequentItems aggregator uploads
    (SimpleAggregators.scala:438-441). Payload is O(map_size / 0.375)
    entries regardless of day volume; same IR-table discipline as the
    KLL/HLL writers above."""
    out_schema = ", ".join(
        [f"`{c}` {t}" for c, t in df.select(*keys, ds_col).dtypes]
        + [f"`{out_col}` binary"]
    )
    group_cols = list(keys) + [ds_col]

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = FrequentStrings.for_map_size(map_size)
        # dropna BEFORE the string cast: astype(str) would turn nulls
        # into the literal items 'None'/'nan' — phantom heavy hitters no
        # real DataSketches consumer ever sees
        vals, cnts = np.unique(
            pdf[value_col].dropna().astype(str).to_numpy(),
            return_counts=True)
        for v, c in zip(vals.tolist(), cnts.tolist()):
            sk.update(v, int(c))
        head = pdf.iloc[:1][group_cols].reset_index(drop=True)
        head[out_col] = [sk.to_datasketches_bytes()]
        return head

    return (
        df.select(*group_cols, value_col)
        .groupBy(*group_cols)
        .applyInPandas(build, schema=out_schema)
    )


def merge_frequent_irs(
    ir_df: DataFrame,
    keys: list[str],
    k: int,
    ir_col: str = "freq_ir",
) -> DataFrame:
    """Merge ItemsSketch payloads (any number of jobs' IR tables unioned)
    down to the reference's finalize shape: the top-k frequent items per
    key with their estimates, exploded to (item, estimate) rows.
    Associative merge inside each Arrow batch — the shuffle carries
    sketches, never raw values."""
    out_schema = ", ".join(
        [f"`{c}` {t}" for c, t in ir_df.select(*keys).dtypes]
        + ["`item` string", "`estimate` bigint"]
    )

    def combine(pdf: pd.DataFrame) -> pd.DataFrame:
        acc: Optional[FrequentStrings] = None
        for payload in pdf[ir_col]:
            sk = FrequentStrings.from_datasketches_bytes(bytes(payload))
            acc = sk if acc is None else acc.merge(sk)
        top = acc.frequent_items(map_size=k)
        head = pdf.iloc[:1][list(keys)]
        out = head.loc[head.index.repeat(len(top))].reset_index(drop=True)
        out["item"] = list(top.keys())
        out["estimate"] = np.array(list(top.values()), dtype=np.int64)
        return out

    return (
        ir_df.select(*keys, ir_col)
        .groupBy(*keys)
        .applyInPandas(combine, schema=out_schema)
    )


# ---------------------------------------------------------------------------
# CPC sketch IRs — the reference's APPROX_UNIQUE_COUNT wire format
# (SimpleAggregators.scala:499-543 persists CpcSketch binaries)
# ---------------------------------------------------------------------------

def write_cpc_ir(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    ds_col: str = "ds",
    lg_k: int = 11,
    out_col: str = "cpc_ir",
) -> DataFrame:
    """One DataSketches CPC payload per (keys..., ds) — BYTE-IDENTICAL
    to `CpcUnion.getResult().toByteArray()` of the datasketches-java
    library that ships with Spark (pinned in tests/test_cpc.py), so a
    reference deployment can union/estimate our IR tables and vice
    versa. Values hash exactly as `CpcSketch.update` (long vs string
    typed like the source column); any other value type raises
    ValueError — the library canonicalizes doubles to long bits, so
    hashing their text would silently diverge on cross-deployment
    unions. Same IR-table discipline as the KLL/frequency writers:
    payload size is O(K), one shuffle on the group keys, raw values never
    leave the executor."""
    from chronon_spark.cpc_sketch import cpc_from_values

    out_schema = ", ".join(
        [f"`{c}` {t}" for c, t in df.select(*keys, ds_col).dtypes]
        + [f"`{out_col}` binary"]
    )
    group_cols = list(keys) + [ds_col]
    value_type = dict(df.dtypes)[value_col]
    integral = value_type in ("int", "bigint", "smallint", "tinyint")
    if not integral and value_type != "string":
        raise ValueError(
            f"write_cpc_ir hashes integral or string values only; "
            f"{value_col!r} is {value_type}")

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        col = pdf[value_col].dropna()
        vals = (col.astype(np.int64) if integral else col.astype(str))
        head = pdf.iloc[:1][group_cols].reset_index(drop=True)
        head[out_col] = [cpc_from_values(vals.tolist(), lg_k)]
        return head

    return (
        df.select(*group_cols, value_col)
        .groupBy(*group_cols)
        .applyInPandas(build, schema=out_schema)
    )


def merge_cpc_irs(
    ir_df: DataFrame,
    keys: list[str],
    ir_col: str = "cpc_ir",
    out_col: str = "approx_unique",
) -> DataFrame:
    """Merge CPC payloads (ours or a reference deployment's — live
    HIP-updated sketches decompress to the same coupon matrix) down to
    one ICON estimate per key. Associative matrix-OR merge inside each
    Arrow batch; the shuffle carries O(K) sketches, never raw values."""
    from chronon_spark.cpc_sketch import cpc_estimate, cpc_merge

    out_schema = ", ".join(
        [f"`{c}` {t}" for c, t in ir_df.select(*keys).dtypes]
        + [f"`{out_col}` double"]
    )

    def combine(pdf: pd.DataFrame) -> pd.DataFrame:
        merged = cpc_merge([bytes(p) for p in pdf[ir_col]])
        head = pdf.iloc[:1][list(keys)].reset_index(drop=True)
        head[out_col] = [cpc_estimate(merged)]
        return head

    return (
        ir_df.select(*keys, ir_col)
        .groupBy(*keys)
        .applyInPandas(combine, schema=out_schema)
    )
