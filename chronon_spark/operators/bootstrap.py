"""Bootstrap parts + covering sets: pre-joined feature values that waive
backfill computation for the rows they cover.

reference: batch/JoinBootstrapJob.scala (bootstrap table construction:
left-outer coalesced joins accumulating a `matched_hashes` set per row),
Join.scala:38-60 (CoveringSet + toFilterExpression) and :264-285
(computeRange splits covered vs to-compute rows per join part).

Flow:
  1. `compute_bootstrap_table`: left ⟕ each bootstrap source (deduped on
     its keys, trimmed to join-output columns), recording per row WHICH
     bootstrap parts matched (`__matched_hashes`, sorted for canonical
     combos).
  2. Per join part, a matched-hash combo is COVERING iff the union of its
     sources' columns ⊇ the part's output columns.
  3. `snapshot_join.compute_join`: rows in a covering combo keep their
     bootstrapped values untouched; only the uncovered remainder runs the
     real join-part computation, and computed values coalesce UNDER the
     bootstrap (bootstrap wins where non-null — reference coalescedJoin
     precedence).

At scale this is the difference between re-running a month-long backfill
and touching only the rows a log table didn't already cover: the
expensive cogroup sees only the uncovered slice.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chronon_spark.api import BootstrapPart, Join
from chronon_spark.partitions import DEFAULT_SPEC, PartitionRange, PartitionSpec

MATCHED_HASHES = "__matched_hashes"


def _part_hash(part: BootstrapPart) -> str:
    from chronon_spark.plans.backfill import semantic_hash

    return semantic_hash(part)


def _join_output_columns(join: Join) -> set[str]:
    out: set[str] = set()
    for jp in join.join_parts:
        prefix = jp.full_prefix() + "_"
        for p in jp.group_by.aggregation_parts():
            out.add(prefix + p.output_name)
    return out


def compute_bootstrap_table(
    spark: SparkSession,
    left_df: DataFrame,
    join: Join,
    rng: Optional[PartitionRange] = None,
    spec: PartitionSpec = DEFAULT_SPEC,
) -> tuple[DataFrame, dict[str, set[str]]]:
    """Returns (bootstrap_df, hash -> set of feature columns it provides).

    bootstrap_df = left columns + every bootstrapped feature column +
    `__matched_hashes` (sorted array of part hashes that matched the row;
    NULL when none did).
    """
    from chronon_spark.sources.scan import scan_df

    parts = join.bootstrap_parts or []
    out_cols = _join_output_columns(join)
    reserved = {MATCHED_HASHES}
    assert not (reserved & set(left_df.columns)), (
        f"left table contains reserved columns {reserved & set(left_df.columns)}"
    )
    df = left_df.withColumn(MATCHED_HASHES, F.lit(None).cast("array<string>"))
    hash_fields: dict[str, set[str]] = {}
    for part in parts:
        keys = list(part.key_columns or join.row_ids or [])
        assert keys, "bootstrap part needs key_columns (or join.row_ids)"
        # a key the left lacks can neither join nor be output
        missing = [k for k in keys if k not in left_df.columns]
        if missing:
            raise ValueError(
                f"bootstrap part {part.table}: key columns {missing} are not "
                "columns of the join's left")
        bs = scan_df(spark, part.table, part.query, rng, spec)
        feature_cols = sorted(set(bs.columns) & out_cols)
        if not feature_cols:
            continue
        h = _part_hash(part)
        hash_fields[h] = set(feature_cols)
        join_keys = [k for k in keys if k in bs.columns]
        bs = bs.select(*dict.fromkeys(join_keys + feature_cols)).dropDuplicates(join_keys)
        # coalesced left join: shared feature columns merge with bootstrap
        # precedence (earlier parts win — reference coalescedJoin)
        shared = [c for c in bs.columns if c in df.columns and c not in join_keys]
        renamed = bs
        for c in shared:
            renamed = renamed.withColumnRenamed(c, f"__bsj_{c}")
        matched = F.array_sort(
            F.array_union(
                F.coalesce(F.col(MATCHED_HASHES), F.array().cast("array<string>")),
                F.array(F.lit(h)),
            )
        )
        # explicit marker distinguishes "no bootstrap row" from a matched
        # row whose feature values are legitimately NULL
        renamed = renamed.withColumn("__bs_hit", F.lit(True))
        joined = df.join(renamed, join_keys, "left")
        df = joined.withColumn(
            MATCHED_HASHES,
            F.when(F.col("__bs_hit").isNotNull(), matched)
            .otherwise(F.col(MATCHED_HASHES)),
        )
        for c in shared:
            df = df.withColumn(c, F.coalesce(F.col(c), F.col(f"__bsj_{c}")))
            df = df.drop(f"__bsj_{c}")
        df = df.drop("__bs_hit")
    return df, hash_fields


def collect_combos(bootstrap_df: DataFrame) -> list[tuple[str, ...]]:
    """Distinct matched-hash combos of the bootstrap table — collected ONCE
    before join parts are chained (combos are small by construction: one
    per distinct subset of bootstrap parts that co-matched some row)."""
    return [
        tuple(r[MATCHED_HASHES])
        for r in bootstrap_df.select(MATCHED_HASHES).distinct().collect()
        if r[MATCHED_HASHES]
    ]


def covering_combos(
    combos: list[tuple[str, ...]],
    hash_fields: dict[str, set[str]],
    part_cols: list[str],
) -> list[tuple[str, ...]]:
    """Combos that fully cover `part_cols` — pure-Python filter
    (reference: findBootstrapSetCoverings, Join.scala:130-193)."""
    need = set(part_cols)
    out = []
    for combo in combos:
        covered: set[str] = set()
        for h in combo:
            covered |= hash_fields.get(h, set())
        if need <= covered:
            out.append(combo)
    return out


def covering_filter(combos: list[tuple[str, ...]]) -> F.Column:
    """Rows matching ANY covering combo (exact array equality on the
    canonical sorted hashes — reference CoveringSet.toFilterExpression)."""
    if not combos:
        return F.lit(False)
    cond = None
    for combo in combos:
        c = F.col(MATCHED_HASHES) == F.array(*[F.lit(h) for h in combo])
        cond = c if cond is None else (cond | c)
    return F.col(MATCHED_HASHES).isNotNull() & cond
