"""Aggregation operator registry — the operator surface of SURVEY.md §2.1.

Every reference operation (reference: thrift/api.thrift:195-227, dispatch
aggregator/.../row/ColumnAggregator.scala:233-409) is mapped to Catalyst-
native expressions in up to three execution contexts:

  direct(col)                group-agg over all rows in scope (unbounded
                             window / per-day / per-query-bucket).
  partials(col)              per-(key, day) partial IR columns — the
                             map-side combine unit for snapshot windows.
                             reference IR schemas: BaseAggregator
                             (aggregator/.../base/SimpleAggregators.scala).
  merge(wspec)               final value from partial IR columns over a
                             Window.rangeBetween frame of days — the
                             reduce side. Sliding windows become one daily
                             pre-aggregation shared by ALL windows (the
                             Catalyst analog of the reference's hop
                             sharing, HopsAggregator.scala:95-160).

Everything is built-in `pyspark.sql.functions` (JVM-side, codegen). The
moment-based ops (variance/skew/kurtosis) decompose into raw power sums
s0..s4, which are trivially mergeable across partials; finalization uses
the standard central-moment identities. Matches the reference semantics:
population variance, population skew, EXCESS kurtosis, NaN below the
minimum sample counts (SimpleAggregators.scala:173-261, 655-766).
"""

from __future__ import annotations

from typing import Any, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

from chronon_spark.api import AggregationPart, Operation

# optional engine-wide rounding of floating outputs (None = raw doubles).
# Cross-engine comparisons round at the QUERY boundary instead, with a
# +1e-9 nudge: Spark's BigDecimal ROUND and DuckDB's float ROUND disagree
# on exact half-way ties, and the nudge shifts ties off the boundary
# identically on both sides.
ROUND_DIGITS = None


def _ir(part_name: str, field: str) -> str:
    return f"__{part_name}__{field}"


class OpSpec:
    """One operation's expression factories. Subclasses per family."""

    #: ops whose finalized value is floating point
    floating = False

    def __init__(self, part: AggregationPart):
        self.part = part
        self.col = F.col(part.input_column)
        self.args: dict[str, Any] = part.arg_map
        self.name = part.output_name

    # --- direct ---------------------------------------------------------
    def direct(self) -> Column:
        raise NotImplementedError

    # --- partial / merge (snapshot windows over daily pre-aggs) ---------
    def partials(self) -> dict[str, Column]:
        """name -> partial agg column, computed per (key, day)."""
        raise NotImplementedError(f"{self.part.operation} has no partial decomposition")

    def merge(self, wspec) -> Column:
        """final value over a window frame of daily partials."""
        raise NotImplementedError


class SumSpec(OpSpec):
    def direct(self) -> Column:
        return F.sum(self.col)

    def partials(self) -> dict[str, Column]:
        return {_ir(self.name, "sum"): F.sum(self.col)}

    def merge(self, wspec) -> Column:
        return F.sum(F.col(_ir(self.name, "sum"))).over(wspec)


class CountSpec(OpSpec):
    def direct(self) -> Column:
        return F.count(self.col)

    def partials(self) -> dict[str, Column]:
        return {_ir(self.name, "count"): F.count(self.col)}

    def merge(self, wspec) -> Column:
        return F.coalesce(F.sum(F.col(_ir(self.name, "count"))).over(wspec), F.lit(0))


class MinSpec(OpSpec):
    fn = staticmethod(F.min)

    def direct(self) -> Column:
        return self.fn(self.col)

    def partials(self) -> dict[str, Column]:
        return {_ir(self.name, "m"): self.fn(self.col)}

    def merge(self, wspec) -> Column:
        return self.fn(F.col(_ir(self.name, "m"))).over(wspec)


class MaxSpec(MinSpec):
    fn = staticmethod(F.max)


class AverageSpec(OpSpec):
    floating = True

    def direct(self) -> Column:
        return F.avg(self.col)

    def partials(self) -> dict[str, Column]:
        return {
            _ir(self.name, "sum"): F.sum(self.col.cast("double")),
            _ir(self.name, "count"): F.count(self.col),
        }

    def merge(self, wspec) -> Column:
        s = F.sum(F.col(_ir(self.name, "sum"))).over(wspec)
        n = F.sum(F.col(_ir(self.name, "count"))).over(wspec)
        return s / n


class MomentSpec(OpSpec):
    """Shared power-sum IR (s0..s4) for variance / skew / kurtosis.

    reference: Welford/moment merge in SimpleAggregators.scala:173-261
    (variance) and 655-766 (skew/kurtosis). We use raw power sums, which
    form the same abelian group under addition.
    """

    floating = True
    max_power = 2

    def _powers(self, upto: int) -> dict[str, Column]:
        d = self.col.cast("double")
        out = {_ir(self.name, "n"): F.count(self.col)}
        for p in range(1, upto + 1):
            out[_ir(self.name, f"s{p}")] = F.sum(F.pow(d, F.lit(p)))
        return out

    def partials(self) -> dict[str, Column]:
        return self._powers(self.max_power)

    @staticmethod
    def _finalize_var(n, s1, s2) -> Column:
        mean = s1 / n
        return F.when(n >= 1, s2 / n - mean * mean)

    def direct(self) -> Column:
        return F.var_pop(self.col)

    def merge(self, wspec) -> Column:
        n = F.sum(F.col(_ir(self.name, "n"))).over(wspec).cast("double")
        s1 = F.sum(F.col(_ir(self.name, "s1"))).over(wspec)
        s2 = F.sum(F.col(_ir(self.name, "s2"))).over(wspec)
        return self._finalize_var(n, s1, s2)


class SkewSpec(MomentSpec):
    max_power = 3

    def direct(self) -> Column:
        # population skew m3 / m2^1.5; NaN when n<3 or m2==0
        # (SimpleAggregators.scala:655-712). Spark's F.skewness matches the
        # formula but returns NULL not NaN for degenerate inputs, so we
        # compute from power sums for exact reference parity.
        n = F.count(self.col).cast("double")
        d = self.col.cast("double")
        s1, s2, s3 = F.sum(d), F.sum(d * d), F.sum(d * d * d)
        return self._finalize_skew(n, s1, s2, s3)

    @staticmethod
    def _finalize_skew(n, s1, s2, s3) -> Column:
        mean = s1 / n
        m2 = s2 / n - mean * mean
        m3 = s3 / n - 3 * mean * (s2 / n) + 2 * mean * mean * mean
        # deviation from reference (returns NaN, SimpleAggregators.scala:700):
        # degenerate -> NULL, matching Spark/DuckDB built-in SQL semantics so
        # results are portable across engines.
        return F.when((n >= 3) & (m2 > F.lit(0.0)), m3 / F.pow(m2, F.lit(1.5)))

    def merge(self, wspec) -> Column:
        n = F.sum(F.col(_ir(self.name, "n"))).over(wspec).cast("double")
        s = [F.sum(F.col(_ir(self.name, f"s{p}"))).over(wspec) for p in (1, 2, 3)]
        return self._finalize_skew(n, *s)


class KurtosisSpec(MomentSpec):
    max_power = 4

    def direct(self) -> Column:
        n = F.count(self.col).cast("double")
        d = self.col.cast("double")
        s1, s2, s3, s4 = F.sum(d), F.sum(d * d), F.sum(d * d * d), F.sum(d * d * d * d)
        return self._finalize_kurt(n, s1, s2, s3, s4)

    @staticmethod
    def _finalize_kurt(n, s1, s2, s3, s4) -> Column:
        mean = s1 / n
        m2 = s2 / n - mean * mean
        m4 = (
            s4 / n
            - 4 * mean * (s3 / n)
            + 6 * mean * mean * (s2 / n)
            - 3 * mean * mean * mean * mean
        )
        # excess kurtosis (reference subtracts 3); degenerate (n<4 or m2==0)
        # -> NULL (deviation from the reference's NaN — SQL-portable)
        return F.when((n >= 4) & (m2 > F.lit(0.0)), m4 / (m2 * m2) - F.lit(3.0))

    def merge(self, wspec) -> Column:
        n = F.sum(F.col(_ir(self.name, "n"))).over(wspec).cast("double")
        s = [F.sum(F.col(_ir(self.name, f"s{p}"))).over(wspec) for p in (1, 2, 3, 4)]
        return self._finalize_kurt(n, *s)


class UniqueCountSpec(OpSpec):
    def direct(self) -> Column:
        return F.count_distinct(self.col)

    def partials(self) -> dict[str, Column]:
        # exact distinct via daily sets; "expensive if high cardinality"
        # exactly as the reference warns (SimpleAggregators.scala:84-126)
        return {_ir(self.name, "set"): F.collect_set(self.col)}

    def merge(self, wspec) -> Column:
        merged = F.flatten(F.collect_list(F.col(_ir(self.name, "set"))).over(wspec))
        return F.size(F.array_distinct(merged)).cast("long")


class ApproxUniqueCountSpec(OpSpec):
    def direct(self) -> Column:
        # HLL++ rather than the reference's CPC sketch — numerically a
        # different estimator; correctness tests pin to exact counts at
        # test scale per the reference's own strategy (GroupByTest.scala:103-117)
        rsd = self.args.get("rsd", 0.02)
        return F.approx_count_distinct(self.col, rsd)

    def partials(self) -> dict[str, Column]:
        # hll_sketch_agg accepts int/bigint/string/binary only; stringify
        # (distinct-preserving) for double/other inputs
        return {_ir(self.name, "hll"): F.hll_sketch_agg(self.col.cast("string"))}

    def merge(self, wspec) -> Column:
        # union HLL sketches across the day frame
        merged = F.hll_union_agg(F.col(_ir(self.name, "hll"))).over(wspec)
        return F.hll_sketch_estimate(merged)


class ApproxPercentileSpec(OpSpec):
    """Percentiles with a BOUNDED mergeable daily IR.

    The reference stores a KLL sketch per IR (SimpleAggregators.scala:
    545-585) precisely so the partial never grows with event volume. The
    Catalyst analog here is a deterministic weighted-quantile digest: the
    per-day partial is at most `sketch_k` (value, weight) anchors —
      n <= k : every value, weight 1 (EXACT regime)
      n >  k : k equal-count chunk anchors, weight n/k each
    Window merge concatenates the day digests (<= days x k entries — O(k)
    per day regardless of events/day), sorts by value and reads the
    weighted quantile. In the exact regime this reproduces the engine's
    pinned convention index max(1, ceil(p*n)); beyond it the rank error is
    bounded by one chunk (n/k) per day.
    """

    floating = True

    def _k(self) -> int:
        return int(self.args.get("sketch_k", 256))

    def _pcts(self) -> list[float]:
        pct = self.args.get("percentiles", [0.5])
        if isinstance(pct, (int, float)):
            pct = [pct]
        return list(pct)

    def direct(self) -> Column:
        acc = self.args.get("k", 10000)
        return F.percentile_approx(self.col, self._pcts(), acc)

    def partials(self) -> dict[str, Column]:
        k = self._k()
        vals = F.array_sort(F.collect_list(self.col.cast("double")))
        n = F.size(vals)
        exact = F.transform(
            vals, lambda v: F.struct(v.alias("v"), F.lit(1.0).alias("w"))
        )
        chunk = n.cast("double") / F.lit(float(k))
        anchors = F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda i: F.struct(
                F.get(
                    vals,
                    F.floor((i.cast("double") + F.lit(0.5)) * chunk).cast("int"),
                ).alias("v"),
                chunk.alias("w"),
            ),
        )
        return {_ir(self.name, "qs"): F.when(n <= k, exact).otherwise(anchors)}

    def merge(self, wspec) -> Column:
        merged = F.flatten(F.collect_list(F.col(_ir(self.name, "qs"))).over(wspec))
        srt = F.array_sort(
            merged,
            lambda a, b: F.when(a["v"] < b["v"], F.lit(-1))
            .when(a["v"] > b["v"], F.lit(1))
            .otherwise(F.lit(0)),
        )
        total = F.aggregate(
            srt, F.lit(0.0), lambda acc, e: acc + e["w"]
        )
        def _scan(t):
            # 2-arg merge lambda closing over the target rank column
            return lambda acc, e: F.struct(
                (acc["cum"] + e["w"]).alias("cum"),
                F.coalesce(
                    acc["res"],
                    F.when(acc["cum"] + e["w"] >= t - F.lit(1e-9), e["v"]),
                ).alias("res"),
            )

        outs = []
        for p in self._pcts():
            # target rank: max(1, ceil(p * total)); first value whose
            # cumulative weight reaches it (1e-9 guards float cum sums)
            target = F.greatest(F.lit(1.0), F.ceil(F.lit(p) * total))
            picked = F.aggregate(
                srt,
                F.struct(F.lit(0.0).alias("cum"),
                         F.lit(None).cast("double").alias("res")),
                _scan(target),
                lambda acc: acc["res"],
            )
            outs.append(picked)
        return F.when(total > 0, F.array(*outs))


class FirstSpec(OpSpec):
    """Earliest non-null value by ts (TimedAggregators.scala:74-112)."""

    agg = staticmethod(F.min_by)
    ts_pick = staticmethod(F.min)

    def direct(self) -> Column:
        return self.agg(self.col, F.when(self.col.isNotNull(), F.col("ts")))

    def partials(self) -> dict[str, Column]:
        ts_nn = F.when(self.col.isNotNull(), F.col("ts"))
        return {
            _ir(self.name, "v"): self.agg(self.col, ts_nn),
            _ir(self.name, "ts"): self.ts_pick(ts_nn),
        }

    def merge(self, wspec) -> Column:
        return self.agg(F.col(_ir(self.name, "v")), F.col(_ir(self.name, "ts"))).over(wspec)


class LastSpec(FirstSpec):
    agg = staticmethod(F.max_by)
    ts_pick = staticmethod(F.max)


def _k(args: dict[str, Any], default: int = 10) -> int:
    return int(args.get("k", default))


class FirstKSpec(OpSpec):
    """first k values ordered by ts (TimedAggregators.scala:117-183)."""

    reverse = False

    def _sorted_structs(self, c: Column) -> Column:
        srt = F.array_sort(c)
        return F.reverse(srt) if self.reverse else srt

    def direct(self) -> Column:
        pairs = F.collect_list(
            F.when(self.col.isNotNull(), F.struct(F.col("ts").alias("ts"), self.col.alias("v")))
        )
        k = _k(self.args)
        return F.slice(self._sorted_structs(pairs), 1, k).getField("v")

    def partials(self) -> dict[str, Column]:
        pairs = F.collect_list(
            F.when(self.col.isNotNull(), F.struct(F.col("ts").alias("ts"), self.col.alias("v")))
        )
        k = _k(self.args)
        # per-day partial is already trimmed to k — bounded IR size
        return {_ir(self.name, "kv"): F.slice(self._sorted_structs(pairs), 1, k)}

    def merge(self, wspec) -> Column:
        merged = F.flatten(F.collect_list(F.col(_ir(self.name, "kv"))).over(wspec))
        k = _k(self.args)
        return F.slice(self._sorted_structs(merged), 1, k).getField("v")


class LastKSpec(FirstKSpec):
    reverse = True


class TopKSpec(OpSpec):
    """k largest values (SimpleAggregators.scala:614-653)."""

    asc = False

    def _sorted(self, c: Column) -> Column:
        return F.sort_array(c, asc=self.asc)

    def direct(self) -> Column:
        return F.slice(self._sorted(F.collect_list(self.col)), 1, _k(self.args))

    def partials(self) -> dict[str, Column]:
        return {
            _ir(self.name, "kv"): F.slice(
                self._sorted(F.collect_list(self.col)), 1, _k(self.args)
            )
        }

    def merge(self, wspec) -> Column:
        merged = F.flatten(F.collect_list(F.col(_ir(self.name, "kv"))).over(wspec))
        return F.slice(self._sorted(merged), 1, _k(self.args))


class BottomKSpec(TopKSpec):
    asc = True


def _cmp_count_desc(a: Column, b: Column) -> Column:
    """array_sort comparator: by .value desc, then .key asc (int-valued)."""
    return (
        F.when(a["value"] < b["value"], F.lit(1))
        .when(a["value"] > b["value"], F.lit(-1))
        .when(a["key"] < b["key"], F.lit(-1))
        .when(a["key"] > b["key"], F.lit(1))
        .otherwise(F.lit(0))
    )


class HistogramSpec(OpSpec):
    """Exact value -> count map, optional top-k trim (SimpleAggregators.scala:263-335).

    direct form is a single pass: collect values, fold counts with
    higher-order functions — no second shuffle.
    """

    def direct(self) -> Column:
        vals = F.array_sort(F.collect_list(self.col.cast("string")))
        distinct = F.array_distinct(vals)
        entries = F.transform(
            distinct,
            lambda v: F.struct(
                v.alias("key"),
                F.size(F.filter(vals, lambda x: x == v)).alias("value"),
            ),
        )
        k = self.args.get("k")
        if k:
            entries = F.slice(F.array_sort(entries, _cmp_count_desc), 1, int(k))
        return F.map_from_entries(entries)

    def partials(self) -> dict[str, Column]:
        vals = F.array_sort(F.collect_list(self.col.cast("string")))
        distinct = F.array_distinct(vals)
        entries = F.transform(
            distinct,
            lambda v: F.struct(
                v.alias("key"),
                F.size(F.filter(vals, lambda x: x == v)).cast("long").alias("value"),
            ),
        )
        return {_ir(self.name, "hist"): entries}

    def merge(self, wspec) -> Column:
        merged = F.flatten(F.collect_list(F.col(_ir(self.name, "hist"))).over(wspec))
        keys = F.array_distinct(F.transform(merged, lambda e: e["key"]))
        folded = F.transform(
            keys,
            lambda kk: F.struct(
                kk.alias("key"),
                F.aggregate(
                    F.filter(merged, lambda e: e["key"] == kk),
                    F.lit(0).cast("long"),
                    lambda acc, e: acc + e["value"],
                ).alias("value"),
            ),
        )
        k = self.args.get("k")
        if k:
            folded = F.slice(F.array_sort(folded, _cmp_count_desc), 1, int(k))
        return F.map_from_entries(folded)


class UniqueTopKSpec(OpSpec):
    """top-k deduped (SimpleAggregators.scala:768-917)."""

    def direct(self) -> Column:
        return F.slice(F.sort_array(F.collect_set(self.col), asc=False), 1, _k(self.args))

    def partials(self) -> dict[str, Column]:
        return {
            _ir(self.name, "kv"): F.slice(
                F.sort_array(F.collect_set(self.col), asc=False), 1, _k(self.args)
            )
        }

    def merge(self, wspec) -> Column:
        merged = F.array_distinct(
            F.flatten(F.collect_list(F.col(_ir(self.name, "kv"))).over(wspec))
        )
        return F.slice(F.sort_array(merged, asc=False), 1, _k(self.args))


class ApproxFrequentKSpec(OpSpec):
    """Frequency top-k map. Exact at batch scale via histogram trim —
    the reference's ItemsSketch guarantees make exact computation a valid
    superset (NO_FALSE_NEGATIVES, SimpleAggregators.scala:400-491)."""

    def direct(self) -> Column:
        return HistogramSpec(self.part).direct()

    def partials(self) -> dict[str, Column]:
        return HistogramSpec(self.part).partials()

    def merge(self, wspec) -> Column:
        return HistogramSpec(self.part).merge(wspec)


_SPECS: dict[Operation, type[OpSpec]] = {
    Operation.SUM: SumSpec,
    Operation.COUNT: CountSpec,
    Operation.MIN: MinSpec,
    Operation.MAX: MaxSpec,
    Operation.AVERAGE: AverageSpec,
    Operation.VARIANCE: MomentSpec,
    Operation.SKEW: SkewSpec,
    Operation.KURTOSIS: KurtosisSpec,
    Operation.UNIQUE_COUNT: UniqueCountSpec,
    Operation.APPROX_UNIQUE_COUNT: ApproxUniqueCountSpec,
    Operation.APPROX_PERCENTILE: ApproxPercentileSpec,
    Operation.FIRST: FirstSpec,
    Operation.LAST: LastSpec,
    Operation.FIRST_K: FirstKSpec,
    Operation.LAST_K: LastKSpec,
    Operation.TOP_K: TopKSpec,
    Operation.BOTTOM_K: BottomKSpec,
    Operation.HISTOGRAM: HistogramSpec,
    Operation.APPROX_FREQUENT_K: ApproxFrequentKSpec,
    Operation.APPROX_HEAVY_HITTERS_K: ApproxFrequentKSpec,
    Operation.UNIQUE_TOP_K: UniqueTopKSpec,
}

AGG_REGISTRY = _SPECS


def spec_for(part: AggregationPart) -> OpSpec:
    try:
        return _SPECS[part.operation](part)
    except KeyError:
        raise NotImplementedError(f"operation {part.operation} not implemented")


def finalize_rounding(col: Column, spec: OpSpec, digits: Optional[int] = ROUND_DIGITS) -> Column:
    """Round floating outputs so results are stable across partition order."""
    if digits is not None and spec.floating:
        return F.round(col, digits)
    return col
