"""User-facing configuration dataclasses.

Mirrors the reference's Thrift API surface (reference: thrift/api.thrift —
Source at :188-193, EventSource :109-129, EntitySource :139-159, Query
:10-58, GroupBy :361-377, Aggregation :235-261, Join :404-437, Window
thrift/common.thrift:5-14, Accuracy api.thrift:272-275) re-expressed as
plain Python dataclasses. No Thrift / codegen — configs are authored in
Python and handed straight to the Spark engine.
"""

from __future__ import annotations

import enum
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

# ---------------------------------------------------------------------------
# Reserved columns (reference: api/.../Constants.scala:24-29)
# ---------------------------------------------------------------------------
TIME_COLUMN = "ts"  # event time, epoch MILLIS, LongType (enforced)
PARTITION_COLUMN = "ds"  # date partition, string yyyy-MM-dd
TIME_PARTITION_COLUMN = "ts_ds"  # date-of-ts helper column
MUTATION_TIME_COLUMN = "mutation_ts"
REVERSAL_COLUMN = "is_before"


class TimeUnit(enum.Enum):
    """reference: thrift/common.thrift:5-8"""

    MINUTES = 60 * 1000
    HOURS = 60 * 60 * 1000
    DAYS = 24 * 60 * 60 * 1000

    @property
    def millis(self) -> int:
        return self.value

    @property
    def suffix(self) -> str:
        return {"MINUTES": "m", "HOURS": "h", "DAYS": "d"}[self.name]


@dataclass(frozen=True)
class Window:
    """A sliding window length. ``None`` window = unbounded / lifetime.

    reference: thrift/common.thrift:10-14; null-window handling
    api/.../Extensions.scala:275-297.
    """

    length: int
    time_unit: TimeUnit = TimeUnit.DAYS

    @property
    def millis(self) -> int:
        return self.length * self.time_unit.millis

    @property
    def suffix(self) -> str:
        return f"{self.length}{self.time_unit.suffix}"

    def __str__(self) -> str:  # pragma: no cover
        return self.suffix


def sawtooth_hop_millis(window: Optional[Window]) -> int:
    """Tail-hop size for a window — the sawtooth resolution.

    >=12d -> 1d hops; >=12h -> 1h hops; else 5min hops; unbounded -> 1d.
    reference: aggregator/.../windowing/Resolution.scala:38-48.
    """
    if window is None:
        return TimeUnit.DAYS.millis
    w = window.millis
    if w >= 12 * TimeUnit.DAYS.millis:
        return TimeUnit.DAYS.millis
    if w >= 12 * TimeUnit.HOURS.millis:
        return TimeUnit.HOURS.millis
    return 5 * TimeUnit.MINUTES.millis


class Operation(enum.Enum):
    """Aggregation operators (reference: thrift/api.thrift:195-227)."""

    MIN = "min"
    MAX = "max"
    FIRST = "first"
    LAST = "last"
    UNIQUE_COUNT = "unique_count"
    APPROX_UNIQUE_COUNT = "approx_unique_count"
    COUNT = "count"
    SUM = "sum"
    AVERAGE = "average"
    VARIANCE = "variance"
    SKEW = "skew"
    KURTOSIS = "kurtosis"
    APPROX_PERCENTILE = "approx_percentile"
    FIRST_K = "first_k"
    LAST_K = "last_k"
    TOP_K = "top_k"
    BOTTOM_K = "bottom_k"
    HISTOGRAM = "histogram"
    APPROX_FREQUENT_K = "approx_frequent_k"
    APPROX_HEAVY_HITTERS_K = "approx_heavy_hitters_k"
    UNIQUE_TOP_K = "unique_top_k"


class Accuracy(enum.Enum):
    """reference: thrift/api.thrift:272-275; inference Extensions.scala:562-572"""

    TEMPORAL = "temporal"  # exact as-of per query timestamp
    SNAPSHOT = "snapshot"  # as of end of previous day


@dataclass
class Aggregation:
    """input_column x operation x windows x buckets.

    ``windows=None`` means a single unbounded (lifetime) window.
    ``buckets`` (string columns) turn the output into map<bucket, value>.
    reference: thrift/api.thrift:235-261; unpack logic
    api/.../Extensions.scala:275-297.
    """

    input_column: str
    operation: Operation
    arg_map: dict[str, Any] = field(default_factory=dict)
    windows: Optional[list[Optional[Window]]] = None
    buckets: Optional[list[str]] = None

    def unpack(self) -> list["AggregationPart"]:
        windows = self.windows if self.windows is not None else [None]
        buckets = self.buckets if self.buckets else [None]
        return [
            AggregationPart(self.input_column, self.operation, dict(self.arg_map), w, b)
            for w in windows
            for b in buckets
        ]


@dataclass
class AggregationPart:
    """One (op, column, window, bucket) = one output column.

    reference: thrift/api.thrift:264-270.
    Output naming {input}_{op}[_{window}][_by_{bucket}], k-ops embed k
    (reference: api/.../Extensions.scala:255-268).
    """

    input_column: str
    operation: Operation
    arg_map: dict[str, Any] = field(default_factory=dict)
    window: Optional[Window] = None
    bucket: Optional[str] = None

    @property
    def output_name(self) -> str:
        op = self.operation.value
        k = self.arg_map.get("k")
        if k is not None and self.operation in (
            Operation.FIRST_K,
            Operation.LAST_K,
            Operation.TOP_K,
            Operation.BOTTOM_K,
            Operation.UNIQUE_TOP_K,
            Operation.APPROX_FREQUENT_K,
            Operation.APPROX_HEAVY_HITTERS_K,
        ):
            # reference embeds k into the op name: last10, top5 ...
            op = op.replace("_k", str(k))
        name = f"{self.input_column}_{op}"
        if self.window is not None:
            name += f"_{self.window.suffix}"
        if self.bucket is not None:
            name += f"_by_{self.bucket}"
        return name


@dataclass
class Query:
    """Row-level projection/filter DSL applied at scan time.

    ``selects`` maps output-name -> Spark SQL expression; None = select *.
    reference: thrift/api.thrift:10-58; applied like TableUtils.scanDfBase
    (spark/.../catalog/TableUtils.scala:611-649).
    """

    selects: Optional[dict[str, str]] = None
    wheres: Optional[list[str]] = None
    time_column: Optional[str] = None  # expression producing epoch-millis long
    start_partition: Optional[str] = None
    end_partition: Optional[str] = None
    partition_column: Optional[str] = None  # override of 'ds'
    setups: Optional[list[str]] = None  # SQL run before the job (UDF registration)
    #: source partition date format in java DateTimeFormatter spec
    #: (reference: api.thrift:21 partitionFormat), e.g. "yyyyMMdd" or
    #: "yyyy/MM/dd". Pruning predicates are rendered in the source format
    #: and the column is normalized to the engine-canonical yyyy-MM-dd on
    #: scan. Must be year-first (lexicographically ordered).
    partition_format: Optional[str] = None
    #: reference api.thrift:23 partitionLag — how late the source's
    #: partitions typically land. Orchestration-sensing metadata (the
    #: reference consumes it in planner TableDependencies, not in scans);
    #: carried for config parity, unused by the batch scan itself.
    partition_lag_days: Optional[int] = None
    #: reference api.thrift:17-18 (mutationTimeColumn / reversalColumn):
    #: expressions on the mutation table yielding the mutation-commit
    #: epoch-millis and the before-image boolean; normalized at scan time
    #: to the engine-canonical mutation_ts / is_before.
    mutation_time_column: Optional[str] = None
    reversal_column: Optional[str] = None


@dataclass
class EventSource:
    """Immutable timestamped fact table.

    ``table`` may be a warehouse table name or a direct parquet path.
    reference: thrift/api.thrift:109-129.
    """

    table: str
    query: Query = field(default_factory=Query)
    is_cumulative: bool = False
    topic: Optional[str] = None  # presence implies TEMPORAL accuracy inference


@dataclass
class EntitySource:
    """Slowly-mutating dimension: daily snapshots + optional mutation log.

    reference: thrift/api.thrift:139-159.
    """

    snapshot_table: str
    query: Query = field(default_factory=Query)
    mutation_table: Optional[str] = None


Source = Any  # EventSource | EntitySource | JoinSource


@dataclass
class JoinSource:
    """Output of one Join feeding another GroupBy (chaining).

    reference: thrift/api.thrift:183-186; materialization
    spark/.../GroupBy.scala:412-477 (replaceJoinSource).
    """

    join: "Join"
    query: Query = field(default_factory=Query)


@dataclass
class GroupBy:
    """Keyed feature set. reference: thrift/api.thrift:361-377."""

    sources: list[Source]
    key_columns: list[str]
    aggregations: Optional[list[Aggregation]]  # None = no-agg passthrough (SELECT)
    accuracy: Optional[Accuracy] = None
    backfill_start_date: Optional[str] = None
    derivations: Optional[dict[str, str]] = None  # out-name -> SQL expr over outputs
    name: str = "group_by"

    def inferred_accuracy(self) -> Accuracy:
        """TEMPORAL iff any source has a topic, else SNAPSHOT.

        reference: api/.../Extensions.scala:562-572.
        """
        if self.accuracy is not None:
            return self.accuracy
        for s in self.sources:
            if getattr(s, "topic", None):
                return Accuracy.TEMPORAL
        return Accuracy.SNAPSHOT

    def aggregation_parts(self) -> list[AggregationPart]:
        if not self.aggregations:
            return []
        return [p for a in self.aggregations for p in a.unpack()]


@dataclass
class JoinPart:
    """One GroupBy attached to a Join. reference: thrift/api.thrift:423-429."""

    group_by: GroupBy
    key_mapping: Optional[dict[str, str]] = None  # left-col -> groupby-key
    prefix: Optional[str] = None
    # reference useLongNames (api.thrift:428, Extensions.scala:842-850):
    # True (legacy default) -> column prefix is the GroupBy name; False ->
    # the GroupBy's key columns joined by "_". `prefix` always included.
    use_long_names: bool = True

    def full_prefix(self) -> str:
        base = (
            self.group_by.name.replace(".", "_")
            if self.use_long_names
            else "_".join(self.group_by.key_columns)
        )
        return f"{self.prefix}_{base}" if self.prefix else base

    def right_to_left_keys(self) -> dict[str, str]:
        """groupby-key -> left column name."""
        mapping = {v: k for k, v in (self.key_mapping or {}).items()}
        return {k: mapping.get(k, k) for k in self.group_by.key_columns}


@dataclass
class BootstrapPart:
    """Pre-computed feature values joined onto the left BEFORE backfill
    (reference: thrift/api.thrift BootstrapPart; engine
    batch/JoinBootstrapJob.scala). Columns whose names match the join's
    output feature columns short-circuit computation for the rows they
    cover.

    ``key_columns`` defaults to the join's ``row_ids``.
    """

    table: str
    query: Query = field(default_factory=Query)
    key_columns: Optional[list[str]] = None


@dataclass
class Join:
    """Left source enriched point-in-time-correctly with many GroupBys.

    reference: thrift/api.thrift:404-437.
    """

    left: Source
    join_parts: list[JoinPart]
    skew_keys: Optional[dict[str, list[Any]]] = None
    derivations: Optional[dict[str, str]] = None
    row_ids: Optional[list[str]] = None
    bootstrap_parts: Optional[list[BootstrapPart]] = None
    name: str = "join"


@dataclass
class Model:
    """A model applied to source rows in batch (reference:
    thrift/api.thrift:541-566 `Model`).

    ``input_mapping``: model-input-name -> Spark SQL expression over the
    source's columns (api.thrift:548). ``output_mapping``: output-name ->
    Spark SQL expression over the model's raw output columns
    (api.thrift:551). ``value_schema``: raw output column -> Spark type
    string. ``inference_fn``: a VECTORIZED batch callable
    (pandas.DataFrame of model inputs) -> pandas.DataFrame matching
    value_schema — runs inside one Arrow pass, never per row. Remote
    backends (VertexAI/SageMaker, api.thrift:568-571) are declared via
    ``backend`` and stubbed: no network in this environment; a real
    deployment implements the same batched-callable contract around its
    endpoint client.
    """

    name: str
    value_schema: dict[str, str]
    inference_fn: Optional[Callable[..., Any]] = None  # (pd.DataFrame) -> pd.DataFrame
    input_mapping: Optional[dict[str, str]] = None
    output_mapping: Optional[dict[str, str]] = None
    backend: str = "local"


@dataclass
class ModelTransformSource:
    """Fourth Source union arm (reference: thrift/api.thrift:192,
    599-610 `ModelTransforms`): enrich the output of other sources with
    one or more models' outputs, feeding downstream GroupBy/Join.

    ``passthrough_fields``: source columns carried alongside the model
    outputs (api.thrift:604). The source's ``query`` DSL applies AFTER
    enrichment, so selects/time_column can reference model outputs.
    """

    sources: list[Any]
    models: list["Model"]
    passthrough_fields: Optional[list[str]] = None
    query: Query = field(default_factory=Query)


@dataclass
class StagingQuery:
    """Free-form Spark SQL with date macros, fill-what's-missing.

    reference: thrift/api.thrift:66-107; engine spark/.../batch/StagingQuery.scala:30-93.
    Supported macros: {{ start_date }}, {{ end_date }}, {{ latest_date }},
    {{ max_date(table=...) }}.
    """

    query: str
    name: str = "staging_query"
    start_partition: Optional[str] = None
    setups: Optional[list[str]] = None
    # reference thrift/api.thrift:100-107 (recomputeDays): re-materialize
    # the trailing N output days on every scheduled run — the labeling-flow
    # contract for in-place source rewrites and partially-mature
    # aggregations (e.g. a 7d label window computed from day 1 and
    # refreshed daily until mature). Consumed by plans.backfill.
    recompute_days: Optional[int] = None


def derivation_projection(
    derivations: dict[str, str],
    base_columns: list[str],
    ensure_keys: tuple = (),
) -> list[tuple[str, str]]:
    """Expand a derivations dict into ordered (out_name, expression) pairs.

    Reference semantics (api/.../Extensions.scala DerivationOps
    .derivationProjection:1246-1272): a "*" entry expands to every base
    column EXCEPT those consumed as a rename source; without "*" only
    `ensure_keys` + the derived columns survive.
    """
    star = "*" in derivations
    consumed = {e for n, e in derivations.items() if n != "*"}
    wildcard = [c for c in base_columns if c not in consumed] if star else []
    out: list[tuple[str, str]] = []
    for n, e in derivations.items():
        if n == "*":
            out.extend((c, c) for c in wildcard)
        else:
            out.append((n, e))
    names = {n for n, _ in out}
    missing = [(k, k) for k in ensure_keys if k not in names and k in base_columns]
    return missing + out


def apply_derivations(df, derivations: Optional[dict[str, str]], ensure_keys=()):
    """selectExpr pass implementing the reference projection semantics."""
    if not derivations:
        return df
    proj = derivation_projection(derivations, list(df.columns), tuple(ensure_keys))
    return df.selectExpr(*[f"({e}) AS `{n}`" if e != n else f"`{n}`" for n, e in proj])


# convenience: a source backed by a caller-supplied DataFrame factory, for
# tests and for chaining without a warehouse.
@dataclass
class DataFrameSource:
    factory: Callable[..., Any]  # (spark) -> DataFrame
    query: Query = field(default_factory=Query)
    is_cumulative: bool = False
    topic: Optional[str] = None
    entity: bool = False  # treat as a daily-snapshot dimension (EntitySource)
