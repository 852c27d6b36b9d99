"""Aggregation operator registry — the operator surface of SURVEY.md §2.1.

Every reference operation (reference: thrift/api.thrift:195-227, dispatch
aggregator/.../row/ColumnAggregator.scala:233-409) is mapped to Spark SQL
expression TEXT in up to three execution contexts:

  direct()                   group-agg over all rows in scope (unbounded
                             window / per-day / per-query-bucket).
  partials()                 per-(key, day) partial IR columns — the
                             map-side combine unit for snapshot windows.
                             reference IR schemas: BaseAggregator
                             (aggregator/.../base/SimpleAggregators.scala).
  merge(w)                   final value from partial IR columns over the
                             named window `w` (a RANGE frame of days) — the
                             reduce side. Sliding windows become one daily
                             pre-aggregation shared by ALL windows (the
                             Catalyst analog of the reference's hop
                             sharing, HopsAggregator.scala:95-160).

The snapshot GroupBy assembles these fragments into one SQL statement, so
a step's plan is built without a py4j round trip per expression node.
Everything is built-in Spark SQL (JVM-side, codegen). The moment-based ops
(variance/skew/kurtosis) decompose into raw power sums s0..s4, which are
trivially mergeable across partials; finalization uses the standard
central-moment identities. Matches the reference semantics: population
variance, population skew, EXCESS kurtosis (degenerate inputs are NULL, see
below) (SimpleAggregators.scala:173-261, 655-766).
"""

from __future__ import annotations

from typing import Any, Optional

from chronon_spark.api import TIME_COLUMN, AggregationPart, Operation

# optional engine-wide rounding of floating outputs (None = raw doubles).
# Cross-engine comparisons round at the QUERY boundary instead, with a
# +1e-9 nudge: Spark's BigDecimal ROUND and DuckDB's float ROUND disagree
# on exact half-way ties, and the nudge shifts ties off the boundary
# identically on both sides.
ROUND_DIGITS = None


def quote(name: str) -> str:
    """`name` as a Spark SQL identifier (any character, backticks doubled)."""
    return "`" + name.replace("`", "``") + "`"


def dbl(x: float) -> str:
    """A DOUBLE literal (repr round-trips the exact value)."""
    return f"{float(x)!r}D"


def _ir(part_name: str, field: str) -> str:
    return f"__{part_name}__{field}"


# array_sort comparator: by .value desc, then .key asc (int-valued)
CMP_COUNT_DESC = (
    "(__a, __b) -> CASE WHEN __a.value < __b.value THEN 1"
    " WHEN __a.value > __b.value THEN -1"
    " WHEN __a.key < __b.key THEN -1 WHEN __a.key > __b.key THEN 1 ELSE 0 END"
)


class OpSpec:
    """One operation's SQL fragments. Subclasses per family."""

    #: ops whose finalized value is floating point
    floating = False

    def __init__(self, part: AggregationPart):
        self.part = part
        self.col = quote(part.input_column)
        self.args: dict[str, Any] = part.arg_map
        self.name = part.output_name

    # --- direct ---------------------------------------------------------
    def direct(self) -> str:
        raise NotImplementedError

    # --- partial / merge (snapshot windows over daily pre-aggs) ---------
    def partials(self) -> dict[str, str]:
        """IR column name -> partial aggregate, computed per (key, day)."""
        raise NotImplementedError(f"{self.part.operation} has no partial decomposition")

    def merge(self, w: str) -> str:
        """final value over the named window `w` of daily partials."""
        raise NotImplementedError

    def _over(self, fn: str, field: str, w: str) -> str:
        return f"{fn}({quote(_ir(self.name, field))}) OVER {w}"


class SumSpec(OpSpec):
    def direct(self) -> str:
        return f"sum({self.col})"

    def partials(self) -> dict[str, str]:
        return {_ir(self.name, "sum"): f"sum({self.col})"}

    def merge(self, w: str) -> str:
        return self._over("sum", "sum", w)


class CountSpec(OpSpec):
    def direct(self) -> str:
        return f"count({self.col})"

    def partials(self) -> dict[str, str]:
        return {_ir(self.name, "count"): f"count({self.col})"}

    def merge(self, w: str) -> str:
        return f"coalesce({self._over('sum', 'count', w)}, 0)"


class MinSpec(OpSpec):
    fn = "min"

    def direct(self) -> str:
        return f"{self.fn}({self.col})"

    def partials(self) -> dict[str, str]:
        return {_ir(self.name, "m"): self.direct()}

    def merge(self, w: str) -> str:
        return self._over(self.fn, "m", w)


class MaxSpec(MinSpec):
    fn = "max"


class AverageSpec(OpSpec):
    floating = True

    def direct(self) -> str:
        return f"avg({self.col})"

    def partials(self) -> dict[str, str]:
        return {
            _ir(self.name, "sum"): f"sum(CAST({self.col} AS DOUBLE))",
            _ir(self.name, "count"): f"count({self.col})",
        }

    def merge(self, w: str) -> str:
        return f"({self._over('sum', 'sum', w)}) / ({self._over('sum', 'count', w)})"


class MomentSpec(OpSpec):
    """Shared power-sum IR (s0..s4) for variance / skew / kurtosis.

    reference: Welford/moment merge in SimpleAggregators.scala:173-261
    (variance) and 655-766 (skew/kurtosis). We use raw power sums, which
    form the same abelian group under addition.
    """

    floating = True
    max_power = 2

    def partials(self) -> dict[str, str]:
        d = f"CAST({self.col} AS DOUBLE)"
        out = {_ir(self.name, "n"): f"count({self.col})"}
        for p in range(1, self.max_power + 1):
            out[_ir(self.name, f"s{p}")] = f"sum(pow({d}, {p}))"
        return out

    def _merged_sums(self, w: str) -> list[str]:
        """n (as double), then s1..s{max_power} over the window."""
        n = f"CAST({self._over('sum', 'n', w)} AS DOUBLE)"
        return [n] + [self._over("sum", f"s{p}", w) for p in range(1, self.max_power + 1)]

    def _direct_sums(self) -> list[str]:
        d = f"CAST({self.col} AS DOUBLE)"
        n = f"CAST(count({self.col}) AS DOUBLE)"
        return [n] + [f"sum({' * '.join([d] * p)})" for p in range(1, self.max_power + 1)]

    @staticmethod
    def _finalize(n, s1, s2) -> str:
        mean = f"({s1}) / ({n})"
        return f"CASE WHEN ({n}) >= 1 THEN ({s2}) / ({n}) - ({mean}) * ({mean}) END"

    def direct(self) -> str:
        return f"var_pop({self.col})"

    def merge(self, w: str) -> str:
        return self._finalize(*self._merged_sums(w))


class SkewSpec(MomentSpec):
    max_power = 3

    # population skew m3 / m2^1.5. Spark's skewness() matches the formula
    # but we compute from power sums for one definition in both contexts.
    def direct(self) -> str:
        return self._finalize(*self._direct_sums())

    @staticmethod
    def _finalize(n, s1, s2, s3) -> str:
        mean = f"(({s1}) / ({n}))"
        m2 = f"(({s2}) / ({n}) - {mean} * {mean})"
        m3 = f"(({s3}) / ({n}) - 3 * {mean} * (({s2}) / ({n})) + 2 * {mean} * {mean} * {mean})"
        # deviation from reference (returns NaN, SimpleAggregators.scala:700):
        # degenerate (n<3 or m2==0) -> NULL, matching Spark/DuckDB built-in
        # SQL semantics so results are portable across engines.
        return f"CASE WHEN ({n}) >= 3 AND {m2} > 0.0D THEN {m3} / pow({m2}, 1.5D) END"

    def merge(self, w: str) -> str:
        return self._finalize(*self._merged_sums(w))


class KurtosisSpec(SkewSpec):
    max_power = 4

    @staticmethod
    def _finalize(n, s1, s2, s3, s4) -> str:
        mean = f"(({s1}) / ({n}))"
        m2 = f"(({s2}) / ({n}) - {mean} * {mean})"
        m4 = (f"(({s4}) / ({n}) - 4 * {mean} * (({s3}) / ({n}))"
              f" + 6 * {mean} * {mean} * (({s2}) / ({n}))"
              f" - 3 * {mean} * {mean} * {mean} * {mean})")
        # excess kurtosis (reference subtracts 3); degenerate (n<4 or m2==0)
        # -> NULL (deviation from the reference's NaN — SQL-portable)
        return f"CASE WHEN ({n}) >= 4 AND {m2} > 0.0D THEN {m4} / ({m2} * {m2}) - 3.0D END"


class UniqueCountSpec(OpSpec):
    """Direct form only: windows take the sweep of
    `groupby._unique_count_part`, not daily sets."""

    def direct(self) -> str:
        return f"count(DISTINCT {self.col})"


class ApproxUniqueCountSpec(OpSpec):
    def direct(self) -> str:
        # HLL++ rather than the reference's CPC sketch — numerically a
        # different estimator; correctness tests pin to exact counts at
        # test scale per the reference's own strategy (GroupByTest.scala:103-117)
        return f"approx_count_distinct({self.col}, {dbl(self.args.get('rsd', 0.02))})"

    def partials(self) -> dict[str, str]:
        # hll_sketch_agg accepts int/bigint/string/binary only; stringify
        # (distinct-preserving) for double/other inputs
        return {_ir(self.name, "hll"): f"hll_sketch_agg(CAST({self.col} AS STRING))"}

    def merge(self, w: str) -> str:
        # union HLL sketches across the day frame
        return f"hll_sketch_estimate({self._over('hll_union_agg', 'hll', w)})"


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

    def direct(self) -> str:
        pcts = ", ".join(dbl(p) for p in self._pcts())
        return f"percentile_approx({self.col}, array({pcts}), {int(self.args.get('k', 10000))})"

    def partials(self) -> dict[str, str]:
        k = self._k()
        vals = f"array_sort(collect_list(CAST({self.col} AS DOUBLE)))"
        n = f"size({vals})"
        exact = f"transform({vals}, __x -> named_struct('v', __x, 'w', 1.0D))"
        chunk = f"(CAST({n} AS DOUBLE) / {dbl(k)})"
        anchors = (
            f"transform(sequence(0, {k - 1}), __i -> named_struct("
            f"'v', get({vals}, CAST(floor((CAST(__i AS DOUBLE) + 0.5D) * {chunk}) AS INT)),"
            f" 'w', {chunk}))"
        )
        return {_ir(self.name, "qs"): f"CASE WHEN {n} <= {k} THEN {exact} ELSE {anchors} END"}

    def merge(self, w: str) -> str:
        merged = f"flatten({self._over('collect_list', 'qs', w)})"
        srt = (f"array_sort({merged}, (__a, __b) -> CASE WHEN __a.v < __b.v THEN -1"
               f" WHEN __a.v > __b.v THEN 1 ELSE 0 END)")
        total = f"aggregate({srt}, 0.0D, (__acc, __e) -> __acc + __e.w)"
        outs = []
        for p in self._pcts():
            # target rank: max(1, ceil(p * total)); first value whose
            # cumulative weight reaches it (1e-9 guards float cum sums)
            target = f"greatest(1.0D, ceil({dbl(p)} * {total}))"
            outs.append(
                f"aggregate({srt}, named_struct('cum', 0.0D, 'res', CAST(NULL AS DOUBLE)),"
                f" (__acc, __e) -> named_struct('cum', __acc.cum + __e.w, 'res',"
                f" coalesce(__acc.res, CASE WHEN __acc.cum + __e.w >= {target} - 1e-9D"
                f" THEN __e.v END)), __acc -> __acc.res)"
            )
        return f"CASE WHEN {total} > 0 THEN array({', '.join(outs)}) END"


class FirstSpec(OpSpec):
    """Earliest non-null value by ts (TimedAggregators.scala:74-112)."""

    agg = "min_by"
    ts_pick = "min"

    def _ts_nn(self) -> str:
        return f"CASE WHEN {self.col} IS NOT NULL THEN {quote(TIME_COLUMN)} END"

    def direct(self) -> str:
        return f"{self.agg}({self.col}, {self._ts_nn()})"

    def partials(self) -> dict[str, str]:
        return {
            _ir(self.name, "v"): self.direct(),
            _ir(self.name, "ts"): f"{self.ts_pick}({self._ts_nn()})",
        }

    def merge(self, w: str) -> str:
        v, ts = quote(_ir(self.name, "v")), quote(_ir(self.name, "ts"))
        return f"{self.agg}({v}, {ts}) OVER {w}"


class LastSpec(FirstSpec):
    agg = "max_by"
    ts_pick = "max"


def _k(args: dict[str, Any], default: int = 10) -> int:
    return int(args.get("k", default))


class FirstKSpec(OpSpec):
    """first k values ordered by ts (TimedAggregators.scala:117-183)."""

    reverse = False

    def _first_k(self, pairs: str) -> str:
        srt = f"array_sort({pairs})"
        return f"slice({f'reverse({srt})' if self.reverse else srt}, 1, {_k(self.args)})"

    def _pairs(self) -> str:
        return (f"collect_list(CASE WHEN {self.col} IS NOT NULL THEN named_struct("
                f"'ts', {quote(TIME_COLUMN)}, 'v', {self.col}) END)")

    def direct(self) -> str:
        return f"{self._first_k(self._pairs())}.v"

    def partials(self) -> dict[str, str]:
        # per-day partial is already trimmed to k — bounded IR size
        return {_ir(self.name, "kv"): self._first_k(self._pairs())}

    def merge(self, w: str) -> str:
        merged = f"flatten({self._over('collect_list', 'kv', w)})"
        return f"{self._first_k(merged)}.v"


class LastKSpec(FirstKSpec):
    reverse = True


class TopKSpec(OpSpec):
    """k largest values (SimpleAggregators.scala:614-653)."""

    asc = False

    def _top(self, arr: str) -> str:
        return f"slice(sort_array({arr}, {str(self.asc).lower()}), 1, {_k(self.args)})"

    def direct(self) -> str:
        return self._top(f"collect_list({self.col})")

    def partials(self) -> dict[str, str]:
        return {_ir(self.name, "kv"): self.direct()}

    def merge(self, w: str) -> str:
        return self._top(f"flatten({self._over('collect_list', 'kv', w)})")


class BottomKSpec(TopKSpec):
    asc = True


class HistogramSpec(OpSpec):
    """Exact value -> count map, optional top-k trim (SimpleAggregators.scala:263-335).

    Direct form only, a single pass: collect values, fold counts with
    higher-order functions — no second shuffle. Windows take the exploded
    per-value plan of `groupby._hist_like_part` instead.
    """

    def direct(self) -> str:
        vals = f"array_sort(collect_list(CAST({self.col} AS STRING)))"
        entries = (f"transform(array_distinct({vals}), __x -> named_struct('key', __x, 'value',"
                   f" CAST(size(filter({vals}, __y -> __y = __x)) AS BIGINT)))")
        k = self.args.get("k")
        if k:
            entries = f"slice(array_sort({entries}, {CMP_COUNT_DESC}), 1, {int(k)})"
        return f"map_from_entries({entries})"


class UniqueTopKSpec(OpSpec):
    """top-k deduped (SimpleAggregators.scala:768-917)."""

    def _top(self, arr: str) -> str:
        return f"slice(sort_array({arr}, false), 1, {_k(self.args)})"

    def direct(self) -> str:
        return self._top(f"collect_set({self.col})")

    def partials(self) -> dict[str, str]:
        return {_ir(self.name, "kv"): self.direct()}

    def merge(self, w: str) -> str:
        return self._top(f"array_distinct(flatten({self._over('collect_list', 'kv', w)}))")


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
    # frequency top-k map: exact at batch scale via histogram trim — the
    # reference's ItemsSketch guarantees make exact computation a valid
    # superset (NO_FALSE_NEGATIVES, SimpleAggregators.scala:400-491)
    Operation.APPROX_FREQUENT_K: HistogramSpec,
    Operation.APPROX_HEAVY_HITTERS_K: HistogramSpec,
    Operation.UNIQUE_TOP_K: UniqueTopKSpec,
}

AGG_REGISTRY = _SPECS


def spec_for(part: AggregationPart) -> OpSpec:
    try:
        return _SPECS[part.operation](part)
    except KeyError:
        raise NotImplementedError(f"operation {part.operation} not implemented")


def finalize_rounding(expr: str, spec: OpSpec, digits: Optional[int] = ROUND_DIGITS) -> str:
    """Round floating outputs so results are stable across partition order."""
    if digits is not None and spec.floating:
        return f"round({expr}, {digits})"
    return expr
