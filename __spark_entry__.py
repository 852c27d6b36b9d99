"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship temporal (point-in-time) join at sf0.001.
`queries()` exposes one callable per implemented operator family
(SURVEY.md §2); `oracle_sql()` gives the DuckDB-equivalent ANSI SQL the
driver cross-checks at sf0.01.

Conventions shared by every query/oracle pair:
  * doubles rounded to 6 digits on BOTH sides (stable value-hash),
  * timestamps emitted as epoch-millis BIGINT,
  * all oracle columns CAST to exact types (DuckDB SUM(int)->HUGEINT etc.),
  * engine semantics: empty window / degenerate moment -> SQL NULL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chronon_spark.api import (
    Aggregation,
    EventSource,
    GroupBy,
    Join,
    JoinPart,
    Operation,
    Query,
    Window,
)
from chronon_spark.fixtures import FIXTURE_DIR

# testdata `ts` columns are TIMESTAMP_NTZ; session TZ is pinned to UTC so the
# cast is identity and matches DuckDB's naive-UTC epoch_ms().
TS_EXPR = "unix_millis(cast(ts as timestamp))"
DAY = 86_400_000
HOUR = 3_600_000

SF_DEFAULT = "/root/testdata/sf0.001"


def _prep(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _events_source(sf_dir: str, selects: dict[str, str]) -> EventSource:
    return EventSource(
        f"{sf_dir}/events.parquet", Query(selects=selects, time_column=TS_EXPR)
    )


def _r6(df: DataFrame, cols: list[str]) -> DataFrame:
    for c in cols:
        df = df.withColumn(c, F.round(F.col(c).cast("double"), 6))
    return df


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------
def q_scan_query_dsl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-DSL scan: selects/wheres projection + time normalization
    (reference: TableUtils.scanDfBase)."""
    _prep(spark)
    from chronon_spark.sources.scan import scan_df

    df = scan_df(
        spark,
        f"{sf_dir}/events.parquet",
        Query(
            selects={
                "event_id": "event_id",
                "user_id": "user_id",
                "value_cents": "CAST(round(value * 100, 0) AS BIGINT)",
            },
            wheres=["event_type IN ('click', 'purchase')", "value > 1.0"],
            time_column=TS_EXPR,
        ),
    )
    return df.select("event_id", "user_id", "ts", "value_cents")


def q_scan_udf_setups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query.setups executed before the scan (reference: Query.setups,
    api.thrift — arbitrary SQL run ahead of table reads, typically
    CREATE TEMPORARY FUNCTION). Here a SQL scalar UDF defined in setups
    is consumed by the selects; the oracle inlines the same formula, so
    the value-hash proves setups actually ran and bound the function."""
    _prep(spark)
    from chronon_spark.sources.scan import scan_df

    df = scan_df(
        spark,
        f"{sf_dir}/events.parquet",
        Query(
            setups=[
                "CREATE OR REPLACE TEMPORARY FUNCTION usd_amount(cents BIGINT) "
                "RETURNS DOUBLE RETURN cents / 100.0",
                "CREATE OR REPLACE TEMPORARY FUNCTION value_tier(v DOUBLE) "
                "RETURNS STRING RETURN CASE WHEN v >= 7.5 THEN 'high' "
                "WHEN v >= 2.5 THEN 'mid' ELSE 'low' END",
            ],
            selects={
                "event_id": "event_id",
                "usd": "usd_amount(CAST(round(value * 100, 0) AS BIGINT))",
                "tier": "value_tier(value)",
            },
            wheres=["event_type = 'purchase'"],
            time_column=TS_EXPR,
        ),
    )
    return df.select("event_id", F.round(F.col("usd") + 1e-9, 6).alias("usd"), "tier")


def q_groupby_snapshot_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot GroupBy: 7d sliding + lifetime windows, daily end-of-day
    (reference semantics: GroupByTest.scala:56-64).

    Sums are computed on exact integer cents so they're order-independent
    and bit-identical across engines (floating-point summation order would
    otherwise flip the last rounded digit)."""
    _prep(spark)
    from chronon_spark.operators.groupby import compute_snapshot_groupby

    gb = GroupBy(
        sources=[
            _events_source(
                sf_dir,
                {"user_id": "user_id", "cents": "CAST(round(value * 100, 0) AS BIGINT)"},
            )
        ],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("cents", Operation.SUM, windows=[Window(7), None]),
            Aggregation("cents", Operation.COUNT, windows=[Window(7)]),
            Aggregation("cents", Operation.AVERAGE, windows=[Window(7)]),
            Aggregation("cents", Operation.MIN, windows=[Window(7)]),
            Aggregation("cents", Operation.MAX, windows=[Window(7)]),
        ],
        name="g",
    )
    out = compute_snapshot_groupby(spark, gb)
    return out.select(
        "user_id", "ds",
        F.round(F.col("cents_sum_7d") / 100.0, 6).alias("value_sum_7d"),
        F.round(F.col("cents_sum") / 100.0, 6).alias("value_sum"),
        F.col("cents_count_7d").alias("value_count_7d"),
        F.round(F.col("cents_average_7d") / 100.0 + 1e-9, 6).alias("value_average_7d"),
        F.round(F.col("cents_min_7d") / 100.0, 6).alias("value_min_7d"),
        F.round(F.col("cents_max_7d") / 100.0, 6).alias("value_max_7d"),
    )


def q_groupby_snapshot_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot GroupBy: mergeable power-sum moments (variance/skew/kurtosis)
    over a 7d window (reference: SimpleAggregators.scala:173-261, 655-766)."""
    _prep(spark)
    from chronon_spark.operators.groupby import compute_snapshot_groupby

    # moments over an exact-integer column (value scaled to 1 decimal): all
    # power sums are then exact in both engines (max |v|^4 * n << 2^53), so
    # the final moment arithmetic is performed on bit-identical inputs and
    # rounds identically — no summation-order flakiness.
    gb = GroupBy(
        sources=[
            _events_source(
                sf_dir, {"user_id": "user_id", "deci": "CAST(round(value * 10, 0) AS BIGINT)"}
            )
        ],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("deci", Operation.VARIANCE, windows=[Window(7)]),
            Aggregation("deci", Operation.SKEW, windows=[Window(7)]),
            Aggregation("deci", Operation.KURTOSIS, windows=[Window(7)]),
        ],
        name="g",
    )
    out = compute_snapshot_groupby(spark, gb)
    return out.select(
        "user_id", "ds",
        F.round(F.col("deci_variance_7d").cast("double") + 1e-9, 4).alias("value_variance_7d"),
        F.round(F.col("deci_skew_7d").cast("double") + 1e-9, 6).alias("value_skew_7d"),
        F.round(F.col("deci_kurtosis_7d").cast("double") + 1e-9, 6).alias("value_kurtosis_7d"),
    )


def q_groupby_snapshot_distinct_firstlast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot GroupBy: exact distinct count (3d) + first/last by ts (7d)."""
    _prep(spark)
    from chronon_spark.operators.groupby import compute_snapshot_groupby

    gb = GroupBy(
        sources=[
            _events_source(
                sf_dir,
                {"user_id": "user_id", "value": "value", "event_type": "event_type"},
            )
        ],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("event_type", Operation.UNIQUE_COUNT, windows=[Window(3)]),
            Aggregation("value", Operation.FIRST, windows=[Window(7)]),
            Aggregation("value", Operation.LAST, windows=[Window(7)]),
        ],
        name="g",
    )
    out = compute_snapshot_groupby(spark, gb)
    return _r6(
        out.select(
            "user_id", "ds", "event_type_unique_count_3d", "value_first_7d", "value_last_7d"
        ),
        ["value_first_7d", "value_last_7d"],
    )


def q_temporal_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The core deliverable: point-in-time join. Each event row is enriched
    with features as-of its own timestamp — count 1d, sum/avg 7d, lifetime
    count, last value 7d. Sawtooth boundaries: tail floor-rounded to hop,
    head inclusive (reference: UnionJoin.scala + SawtoothUdf.scala)."""
    _prep(spark)
    from chronon_spark.operators.temporal_join import compute_temporal_join

    right = _events_source(
        sf_dir,
        {"user_id": "user_id", "cents": "CAST(round(value * 100, 0) AS BIGINT)"},
    )
    gb = GroupBy(
        sources=[right],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("cents", Operation.COUNT, windows=[Window(1), Window(7), None]),
            Aggregation("cents", Operation.SUM, windows=[Window(7)]),
            Aggregation("cents", Operation.LAST, windows=[Window(7)]),
        ],
        name="f",
    )
    join = Join(
        left=_events_source(sf_dir, {"event_id": "event_id", "user_id": "user_id"}),
        join_parts=[JoinPart(gb)],
        name="asof",
    )
    out = compute_temporal_join(spark, join)
    # avg derived from EXACT integer sum/count so both engines perform the
    # identical float division (kernel AVERAGE uses shifted accumulation,
    # which lands on rounding boundaries for small divisors)
    s, c = F.col("f_cents_sum_7d"), F.col("f_cents_count_7d")
    return out.select(
        "event_id", "user_id", "ts",
        F.col("f_cents_count_1d").alias("count_1d"),
        F.col("f_cents_count").alias("count_life"),
        F.round(s / 100.0, 6).alias("sum_7d"),
        F.when(c > 0, F.round((s / c.cast("double")) / 100.0 + 1e-9, 4)).alias("avg_7d"),
        F.round(F.col("f_cents_last_7d") / 100.0, 6).alias("last_7d"),
    )


def q_temporal_lastk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal LAST_K: the 3 most recent event_types before each event,
    emitted as a canonical comma-joined string."""
    _prep(spark)
    from chronon_spark.operators.temporal_join import compute_temporal_join

    right = _events_source(sf_dir, {"user_id": "user_id", "event_type": "event_type"})
    gb = GroupBy(
        sources=[right],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("event_type", Operation.LAST_K, arg_map={"k": 3}, windows=[Window(7)])
        ],
        name="f",
    )
    join = Join(
        left=_events_source(sf_dir, {"event_id": "event_id", "user_id": "user_id"}),
        join_parts=[JoinPart(gb)],
        name="lastk",
    )
    out = compute_temporal_join(spark, join)
    return out.select(
        "event_id", "user_id", "ts",
        F.array_join("f_event_type_last3_7d", ",").alias("last3_types"),
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min gap): one row per session with
    count/start/end/duration. north_rule extension — not in the reference."""
    _prep(spark)
    from chronon_spark.operators.analytics import session_stats
    from chronon_spark.sources.scan import scan_df

    df = scan_df(
        spark,
        f"{sf_dir}/events.parquet",
        Query(selects={"user_id": "user_id"}, time_column=TS_EXPR),
    ).select("user_id", "ts")
    return session_stats(df, ["user_id"], gap_millis=30 * 60 * 1000)


def q_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead window features per key ordered by ts (north_rule)."""
    _prep(spark)
    from chronon_spark.operators.analytics import with_lag_lead
    from chronon_spark.sources.scan import scan_df

    df = scan_df(
        spark,
        f"{sf_dir}/events.parquet",
        Query(selects={"user_id": "user_id", "value": "value"}, time_column=TS_EXPR),
    ).select("user_id", "ts", "value")
    out = with_lag_lead(df, ["user_id"], ["value", "ts"], offsets=(1,))
    out = out.withColumn("gap_ms", F.col("ts") - F.col("ts_lag_1"))
    return _r6(
        out.select("user_id", "ts", "value", "value_lag_1", "value_lead_1", "gap_ms"),
        ["value", "value_lag_1", "value_lead_1"],
    )


def q_staging_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StagingQuery: free-form SQL with date macros (reference:
    batch/StagingQuery.scala:30-93) — TPC-H-Q1-shaped pricing summary."""
    _prep(spark)
    from chronon_spark.operators.staging import render_staging_query

    spark.read.parquet(f"{sf_dir}/lineitem.parquet").createOrReplaceTempView("lineitem")
    # money sums on exact scaled integers: order-independent across engines
    sql = render_staging_query(
        """
        SELECT l_returnflag, l_linestatus,
               ROUND(CAST(SUM(CAST(round(l_quantity, 0) AS BIGINT)) AS DOUBLE), 6) AS sum_qty,
               ROUND(CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS DOUBLE)
                     / CAST(10000 AS DOUBLE), 4) AS sum_disc_price,
               ROUND((CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE)
                      / CAST(COUNT(l_extendedprice) AS DOUBLE)) / CAST(100 AS DOUBLE) + 1e-9, 4) AS avg_price,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate < TIMESTAMP '{{ end_date }} 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        """,
        start_date="2024-01-01",
        end_date="2024-11-01",
    )
    return spark.sql(sql)


def q_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis over `documents`: token counting, char-class ratios,
    quality score, language-ID, rolling-hash fingerprint — all JVM-side."""
    _prep(spark)
    from chronon_spark.operators.text import with_text_features

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = with_text_features(docs)
    return out.select(
        "doc_id", "n_tokens", "n_subtokens",
        F.round(F.col("alpha_ratio") + 1e-9, 6).alias("alpha_ratio"),
        F.round(F.col("digit_ratio") + 1e-9, 6).alias("digit_ratio"),
        F.round(F.col("punct_ratio") + 1e-9, 6).alias("punct_ratio"),
        F.round(F.col("quality") + 1e-9, 6).alias("quality"),
        "lang_pred", "fp",
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: inject duplicates of every doc_id % 3 == 0 document,
    dedup on text keeping the smallest doc_id, report dup_count."""
    _prep(spark)
    from chronon_spark.operators.dedup import exact_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    dupes = docs.where(F.col("doc_id") % 3 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    union = docs.unionByName(dupes)
    out = exact_dedup(union, ["text"], order_col="doc_id", keep="first")
    return out.select("doc_id", "dup_count")


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard near-dup pairs (8-char shingles, j >= 0.3) via
    inverted-index self-join on shingle fingerprints.

    max_df=50 drops corpus-hot shingles before the pair join — the join
    cost is sum(df^2) over shingles, so uncapped it is quadratic in
    near-duplicate cluster size. Jaccard is then a documented
    underestimate for pairs sharing hot shingles (denominator uses the
    full shingle sets); the oracle mirrors the same cap."""
    _prep(spark)
    from chronon_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ngram_jaccard_pairs(docs, "doc_id", "text", n=8, threshold=0.3, max_df=50)


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates (64 hashes, 16 bands), verified by
    exact shingle Jaccard. Rows-only driver check (probabilistic recall);
    the pytest suite asserts recall vs the exact-Jaccard oracle."""
    _prep(spark)
    from chronon_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_lsh_pairs(docs, "doc_id", "text", n=8, threshold=0.3)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 10 over 64-bit fingerprints),
    pigeonhole-banded candidate join. Rows-only driver check."""
    _prep(spark)
    from chronon_spark.operators.dedup import simhash_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash_pairs(docs, "doc_id", "text", max_hamming=10)


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 neighbors of query vectors 0/1/2 over the
    embeddings corpus (numpy matmul over Arrow batches, query broadcast)."""
    _prep(spark)
    from chronon_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.where(F.col("vec_id").isin([0, 1, 2])).collect()
    ]
    return brute_force_topk(emb, qs, k=10)


def q_embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 via random-hyperplane LSH buckets + exact rescoring —
    the 10^12-row scale path. r3: DERIVED DETERMINISTIC ORACLE — DuckDB
    replicates the sketch, multi-probe bucket set, pruning and rescoring
    (see _lsh_topk_oracle_sql); pytest additionally measures recall vs
    brute force."""
    _prep(spark)
    from chronon_spark.operators.similarity import lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.where(F.col("vec_id").isin([0, 1, 2])).collect()
    ]
    return lsh_topk(emb, qs, k=10, planes=8, probes=3)


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: hyperplane-LSH bucket join (6 planes,
    deterministic LCG hyperplanes) + exact-cosine verification at
    threshold 0.25. DERIVED DETERMINISTIC ORACLE: DuckDB replicates the
    sign-bit sketch bit-for-bit (list_dot_product against the same
    hyperplane literals), so the oracle reproduces BOTH the pruning and
    the verification — a hash match proves the whole candidate-gen +
    verify pipeline. Vectors cast to double on both engines."""
    _prep(spark)
    from chronon_spark.operators.dedup import embedding_neardup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return embedding_neardup_pairs(
        emb, "vec_id", "embedding", threshold=0.25, planes=6, dim=64
    )


def q_embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-10 (spherical-k-means coarse quantizer, bounded driver
    training sample, scan-shaped Arrow cell assignment, broadcast probe
    join). Run at nprobe = n_centroids, where IVF is EXACTLY brute force
    — the DuckDB oracle is the exact cosine top-k, so a hash match
    certifies the whole quantize/assign/probe/rescore pipeline. Partial
    probe (the |corpus|*nprobe/n_centroids scale path) is recall-tested
    in pytest."""
    _prep(spark)
    from chronon_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.where(F.col("vec_id").isin([3, 4, 5])).collect()
    ]
    return ivf_topk(emb, qs, k=10, n_centroids=16, nprobe=16)


def _hyperplane_bits_sql(dim: int, planes: int) -> str:
    """DuckDB expression reproducing similarity.hyperplane_bits exactly:
    sign bit of <v, H_p> per plane, packed into a BIGINT."""
    from chronon_spark.operators.similarity import hyperplane_matrix

    H = hyperplane_matrix(dim, planes)
    terms = []
    for p in range(planes):
        lits = ", ".join(repr(x) for x in H[p])
        terms.append(
            f"(CASE WHEN list_dot_product(v, [{lits}]) >= 0 "
            f"THEN {1 << p} ELSE 0 END)"
        )
    return " + ".join(terms)


def _lsh_topk_oracle_sql(
    dim: int, planes: int, probes: int, k: int, query_ids: tuple[int, ...]
) -> str:
    """Derived deterministic oracle for similarity.lsh_topk: DuckDB
    reproduces the sign-bit sketch (same LCG hyperplane literals), the
    multi-probe bucket set (base bucket + flipping the `probes`
    least-|dot| bits, ties by plane index — exactly q_buckets), the
    bucket-join candidate pruning, and the exact-cosine rescore/rank.
    A value-hash match certifies the FULL ANN pipeline, not just the
    scoring."""
    from chronon_spark.operators.similarity import hyperplane_matrix

    H = hyperplane_matrix(dim, planes)
    plane_rows = ", ".join(
        f"({p}, [{', '.join(repr(x) for x in H[p])}])" for p in range(planes)
    )
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        sk AS (SELECT vec_id, v, {_hyperplane_bits_sql(dim, planes)} AS bits FROM e),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN ({ids})),
        planes(p, h) AS (VALUES {plane_rows}),
        qp AS (
          SELECT query_id, p, list_dot_product(qv, h) AS dot
          FROM q CROSS JOIN planes
        ),
        qbase AS (
          SELECT query_id,
                 CAST(SUM(CASE WHEN dot >= 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS base
          FROM qp GROUP BY query_id
        ),
        flips AS (
          SELECT query_id, p FROM (
            SELECT query_id, p,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY ABS(dot), p) AS rnk
            FROM qp
          ) WHERE rnk <= {probes}
        ),
        buckets AS (
          SELECT query_id, base AS bits FROM qbase
          UNION
          SELECT f.query_id, xor(b.base, CAST(1 << f.p AS BIGINT))
          FROM flips f JOIN qbase b USING (query_id)
        ),
        cand AS (
          SELECT DISTINCT bk.query_id, s.vec_id
          FROM buckets bk JOIN sk s ON s.bits = bk.bits
        ),
        scored AS (
          SELECT c.query_id, c.vec_id,
                 ROUND(list_cosine_similarity(s.v, q.qv) + 1e-9, 6) AS cosine
          FROM cand c
          JOIN sk s ON s.vec_id = c.vec_id
          JOIN q ON q.query_id = c.query_id
        ),
        ranked AS (
          SELECT query_id, vec_id, cosine,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
          FROM scored
        )
        SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= {k}
    """


def _fp_bucket_sql(expr: str, salt: str, buckets: int = 10_000) -> str:
    """DuckDB expression reproducing sampling.hash_bucket exactly: the
    polynomial rolling hash of '<expr>:<salt>' mod `buckets`."""
    key = f"CAST({expr} AS VARCHAR) || ':{salt}'"
    return (
        f"CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split_regex({key}, ''), "
        f"ch -> CAST(ascii(ch) AS BIGINT))), "
        f"(acc, x) -> (acc * 131 + x) % 1000000007) % {buckets} AS INTEGER)"
    )


_SHINGLE20_SQL = """
    list_distinct(list_transform(
      CASE WHEN length(text) >= 20
           THEN [substr(text, i, 20) FOR i IN range(1, length(text) - 18)]
           ELSE [text] END,
      s -> list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split_regex(s, ''),
                              ch -> CAST(ascii(ch) AS BIGINT))),
             (acc, x) -> (acc * 131 + x) % 1000000007)))
"""


def q_temporal_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal HISTOGRAM: event_type -> count map over a 1d window as-of
    each event, exploded to rows for the oracle."""
    _prep(spark)
    from chronon_spark.operators.temporal_join import compute_temporal_join

    right = _events_source(sf_dir, {"user_id": "user_id", "event_type": "event_type"})
    gb = GroupBy(
        sources=[right],
        key_columns=["user_id"],
        aggregations=[Aggregation("event_type", Operation.HISTOGRAM, windows=[Window(1)])],
        name="h",
    )
    join = Join(
        left=_events_source(sf_dir, {"event_id": "event_id", "user_id": "user_id"}),
        join_parts=[JoinPart(gb)],
        name="hist",
    )
    out = compute_temporal_join(spark, join)
    return out.select(
        "event_id", "user_id", "ts",
        F.explode(F.col("h_event_type_histogram_1d")).alias("etype", "cnt"),
    )


def q_temporal_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal TOP_K: the 3 largest cents values in the 7d window as-of
    each event, canonical comma-joined string."""
    _prep(spark)
    from chronon_spark.operators.temporal_join import compute_temporal_join

    right = _events_source(
        sf_dir, {"user_id": "user_id", "cents": "CAST(round(value * 100, 0) AS BIGINT)"}
    )
    gb = GroupBy(
        sources=[right],
        key_columns=["user_id"],
        aggregations=[Aggregation("cents", Operation.TOP_K, arg_map={"k": 3},
                                  windows=[Window(7)])],
        name="t",
    )
    join = Join(
        left=_events_source(sf_dir, {"event_id": "event_id", "user_id": "user_id"}),
        join_parts=[JoinPart(gb)],
        name="topk",
    )
    out = compute_temporal_join(spark, join)
    return out.select(
        "event_id", "user_id", "ts",
        F.array_join(
            F.transform(F.col("t_cents_top3_7d"), lambda x: x.cast("string")), ","
        ).alias("top3_cents"),
    )


def q_staging_orders_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table staging SQL: order counts + money by priority/status
    (integer-exact money sums)."""
    _prep(spark)
    from chronon_spark.operators.staging import render_staging_query

    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView("orders")
    spark.read.parquet(f"{sf_dir}/customer.parquet").createOrReplaceTempView("customer")
    sql = render_staging_query(
        """
        SELECT o.o_orderpriority AS priority, o.o_orderstatus AS status,
               COUNT(*) AS n_orders,
               COUNT(DISTINCT o.o_custkey) AS n_custs,
               ROUND(CAST(SUM(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
                     / CAST(100 AS DOUBLE), 6) AS total_price
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_orderdate >= TIMESTAMP '{{ start_date }} 00:00:00'
        GROUP BY o.o_orderpriority, o.o_orderstatus
        """,
        start_date="1996-01-01",
        end_date="2001-12-31",
    )
    return spark.sql(sql)


def q_staging_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped join chain: revenue per nation (customer x orders x
    lineitem x nation), integer-exact revenue."""
    _prep(spark)
    for t in ("orders", "customer", "lineitem", "nation"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
    return spark.sql("""
        SELECT n.n_name AS nation,
               ROUND(CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000, 0)
                                   AS BIGINT)) AS DOUBLE) / CAST(10000 AS DOUBLE), 4)
                   AS revenue,
               COUNT(*) AS n_items
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    """)


def q_snapshot_join_yesterday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(EVENTS, EVENTS, SNAPSHOT) join: each event row gets the 7d
    cents-sum/count as of END OF YESTERDAY (ts_ds - 1 alignment,
    reference: JoinBase.joinWithLeft:99-111)."""
    _prep(spark)
    from chronon_spark.api import Accuracy
    from chronon_spark.operators.snapshot_join import compute_join

    right = _events_source(
        sf_dir, {"user_id": "user_id", "cents": "CAST(round(value * 100, 0) AS BIGINT)"}
    )
    gb = GroupBy(
        sources=[right],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("cents", Operation.SUM, windows=[Window(7)]),
            Aggregation("cents", Operation.COUNT, windows=[Window(7)]),
        ],
        accuracy=Accuracy.SNAPSHOT,
        name="y",
    )
    join = Join(
        left=_events_source(sf_dir, {"event_id": "event_id", "user_id": "user_id"}),
        join_parts=[JoinPart(gb)],
        name="snapjoin",
    )
    out = compute_join(spark, join)
    return out.select(
        "event_id", "user_id", "ts",
        F.round(F.col("y_cents_sum_7d") / 100.0, 6).alias("ysum_7d"),
        F.coalesce(F.col("y_cents_count_7d"), F.lit(0)).alias("ycount_7d"),
    )


def q_groupby_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed snapshot aggregation: per-day 7d cents-sum bucketed by
    event_type -> map<bucket,value>, exploded to rows for the oracle
    (reference: BucketedColumnAggregator)."""
    _prep(spark)
    from chronon_spark.operators.groupby import compute_snapshot_groupby

    src = _events_source(
        sf_dir,
        {"user_id": "user_id", "cents": "CAST(round(value * 100, 0) AS BIGINT)",
         "event_type": "event_type"},
    )
    gb = GroupBy(
        sources=[src],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("cents", Operation.SUM, windows=[Window(7)], buckets=["event_type"])
        ],
        name="g",
    )
    out = compute_snapshot_groupby(spark, gb)
    exploded = out.select(
        "user_id", "ds",
        F.explode(F.col("cents_sum_7d_by_event_type")).alias("bucket", "cents_sum"),
    )
    return exploded.select(
        "user_id", "ds", "bucket", F.round(F.col("cents_sum") / 100.0, 6).alias("sum_7d")
    )


def q_groupby_autoexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """List auto-explode: an array input column aggregates element-wise
    (reference: VectorDispatcher). xs = [k, k % 7] where k is parsed from
    the props JSON; SUM/COUNT/AVERAGE of elements over 7d windows."""
    _prep(spark)
    from chronon_spark.operators.groupby import compute_snapshot_groupby

    k_expr = "CAST(regexp_extract(props, '\"k\": ([0-9]+)', 1) AS BIGINT)"
    src = _events_source(
        sf_dir, {"user_id": "user_id", "xs": f"array({k_expr}, {k_expr} % 7)"}
    )
    gb = GroupBy(
        sources=[src],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("xs", Operation.SUM, windows=[Window(7)]),
            Aggregation("xs", Operation.COUNT, windows=[Window(7)]),
            Aggregation("xs", Operation.AVERAGE, windows=[Window(7)]),
        ],
        name="g",
    )
    out = compute_snapshot_groupby(spark, gb)
    s, c = F.col("xs_sum_7d"), F.col("xs_count_7d")
    return out.select(
        "user_id", "ds", s.alias("xs_sum_7d"), c.alias("xs_count_7d"),
        F.round(F.col("xs_average_7d") + 1e-9, 6).alias("xs_avg_7d"),
    )


def q_temporal_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal percentiles (p50/p95 of cents over 7d as-of each event) —
    exact at batch scale, like the reference's own approx-op tests."""
    _prep(spark)
    from chronon_spark.operators.temporal_join import compute_temporal_join

    right = _events_source(
        sf_dir, {"user_id": "user_id", "cents": "CAST(round(value * 100, 0) AS BIGINT)"}
    )
    gb = GroupBy(
        sources=[right],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("cents", Operation.APPROX_PERCENTILE,
                        arg_map={"percentiles": [0.5, 0.95]}, windows=[Window(7)])
        ],
        name="p",
    )
    join = Join(
        left=_events_source(sf_dir, {"event_id": "event_id", "user_id": "user_id"}),
        join_parts=[JoinPart(gb)],
        name="pct",
    )
    out = compute_temporal_join(spark, join)
    arr = F.col("p_cents_approx_percentile_7d")
    return out.select(
        "event_id", "user_id", "ts",
        F.round(F.element_at(arr, 1) / 100.0, 6).alias("p50_7d"),
        F.round(F.element_at(arr, 2) / 100.0, 6).alias("p95_7d"),
    )


def q_entity_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EntitySource snapshot aggregation over the customer dimension:
    per-segment balance stats within the (single) snapshot partition."""
    _prep(spark)
    from chronon_spark.api import EntitySource
    from chronon_spark.operators.groupby import compute_snapshot_groupby

    src = EntitySource(
        f"{sf_dir}/customer.parquet",
        Query(selects={
            "segment": "c_mktsegment",
            "bal_cents": "CAST(round(c_acctbal * 100, 0) AS BIGINT)",
            "ds": "'2024-01-15'",
        }),
    )
    gb = GroupBy(
        sources=[src],
        key_columns=["segment"],
        aggregations=[
            Aggregation("bal_cents", Operation.SUM),
            Aggregation("bal_cents", Operation.COUNT),
            Aggregation("bal_cents", Operation.MAX),
        ],
        name="seg",
    )
    out = compute_snapshot_groupby(spark, gb)
    s, c = F.col("bal_cents_sum"), F.col("bal_cents_count")
    return out.select(
        "segment", "ds",
        F.round(s / 100.0, 6).alias("bal_sum"),
        c.alias("n_cust"),
        F.round((s / c.cast("double")) / 100.0 + 1e-9, 4).alias("bal_avg"),
        F.round(F.col("bal_cents_max") / 100.0, 6).alias("bal_max"),
    )


def q_temporal_groupby_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL GroupBy on the one-scan self-cogroup fast path (r2):
    every event enriched as-of its own ts (head-INCLUSIVE), one shuffle
    total — the plan behind the scaling-bench headline."""
    _prep(spark)
    from chronon_spark.operators.temporal_join import compute_temporal_groupby

    gb = GroupBy(
        sources=[EventSource(
            f"{sf_dir}/events.parquet",
            Query(selects={"user_id": "user_id",
                           "cents": "CAST(round(value * 100, 0) AS BIGINT)"},
                  time_column=TS_EXPR),
            topic="t",
        )],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("cents", Operation.COUNT, windows=[Window(7)]),
            Aggregation("cents", Operation.SUM),
            Aggregation("cents", Operation.AVERAGE, windows=[Window(3)]),
        ],
        name="sg",
    )
    out = compute_temporal_groupby(spark, gb)
    return out.select(
        "user_id", "ts", "ds",
        F.col("cents_count_7d").alias("n_7d"),
        F.round(F.col("cents_sum") / 100.0, 6).alias("sum_life"),
        F.round(F.col("cents_average_3d") / 100.0 + 1e-9, 6).alias("avg_3d"),
    ).dropDuplicates(["user_id", "ts"])


def q_groupby_snapshot_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot percentiles over the BOUNDED weighted-quantile daily IR
    (O(sketch_k) per day — round-2 fix of the unbounded collect_list IR).
    sketch_k exceeds any (key, day) volume at this sf, so the digest is in
    its exact regime: index max(1, ceil(p*n)) of the sorted window."""
    _prep(spark)
    from chronon_spark.operators.groupby import compute_snapshot_groupby

    gb = GroupBy(
        sources=[_events_source(
            sf_dir,
            {"user_id": "user_id", "cents": "CAST(round(value * 100, 0) AS BIGINT)"},
        )],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("cents", Operation.APPROX_PERCENTILE,
                        {"percentiles": [0.5, 0.9], "sketch_k": 8192},
                        windows=[Window(3)]),
        ],
        name="p",
    )
    out = compute_snapshot_groupby(spark, gb)
    arr = F.col("cents_approx_percentile_3d")
    return out.select(
        "user_id", "ds",
        F.round(F.element_at(arr, 1) / 100.0, 6).alias("p50_3d"),
        F.round(F.element_at(arr, 2) / 100.0, 6).alias("p90_3d"),
    )


def q_groupby_snapshot_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot HISTOGRAM + exact UNIQUE_COUNT on the exploded
    groupBy(key, day, value) -> re-window plan (round-2 rewrite of the
    O(distinct^2) HOF merge); map exploded to rows for the oracle."""
    _prep(spark)
    from chronon_spark.operators.groupby import compute_snapshot_groupby

    gb = GroupBy(
        sources=[_events_source(sf_dir, {"user_id": "user_id",
                                         "event_type": "event_type"})],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("event_type", Operation.HISTOGRAM, windows=[Window(3)]),
            Aggregation("event_type", Operation.UNIQUE_COUNT, windows=[Window(3)]),
        ],
        name="h",
    )
    out = compute_snapshot_groupby(spark, gb)
    return out.select(
        "user_id", "ds",
        F.col("event_type_unique_count_3d").alias("uniq_3d"),
        F.explode(F.col("event_type_histogram_3d")).alias("etype", "cnt"),
    )


def q_groupby_snapshot_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot TOP_K / BOTTOM_K / UNIQUE_TOP_K (k-ops on daily partial
    IRs already trimmed to k — bounded merge), canonical joined strings."""
    _prep(spark)
    from chronon_spark.operators.groupby import compute_snapshot_groupby

    gb = GroupBy(
        sources=[_events_source(
            sf_dir,
            {"user_id": "user_id", "cents": "CAST(round(value * 100, 0) AS BIGINT)"},
        )],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("cents", Operation.TOP_K, {"k": 3}, windows=[Window(7)]),
            Aggregation("cents", Operation.BOTTOM_K, {"k": 3}, windows=[Window(7)]),
            Aggregation("cents", Operation.UNIQUE_TOP_K, {"k": 3}, windows=[Window(7)]),
        ],
        name="t",
    )
    out = compute_snapshot_groupby(spark, gb)

    def joined(c):
        return F.array_join(F.transform(F.col(c), lambda x: x.cast("string")), ",")

    return out.select(
        "user_id", "ds",
        joined("cents_top3_7d").alias("top3"),
        joined("cents_bottom3_7d").alias("bottom3"),
        joined("cents_unique_top3_7d").alias("utop3"),
    )


def q_groupby_mapcol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-column aggregation (reference: MapColumnAggregator): a
    map<event_type, cents> input aggregates per map key into a map output;
    exploded to rows for the oracle."""
    _prep(spark)
    from chronon_spark.operators.groupby import compute_snapshot_groupby

    gb = GroupBy(
        sources=[_events_source(
            sf_dir,
            {"user_id": "user_id",
             "m": "map(event_type, CAST(round(value * 100, 0) AS BIGINT))"},
        )],
        key_columns=["user_id"],
        aggregations=[Aggregation("m", Operation.SUM, windows=[Window(3)])],
        name="mc",
    )
    out = compute_snapshot_groupby(spark, gb)
    exploded = out.select(
        "user_id", "ds", F.explode(F.col("m_sum_3d")).alias("etype", "cents_sum")
    )
    return exploded.withColumn(
        "etype_sum", F.round(F.col("cents_sum") / 100.0, 6)
    ).drop("cents_sum")


def q_backfill_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-granular resumable backfill: run a chunked GroupBy
    backfill, re-run it (must resume with ZERO new steps), and emit the
    materialized per-partition row counts + integer-exact feature totals
    the oracle recomputes from the raw events."""
    _prep(spark)
    import tempfile

    from chronon_spark.plans.backfill import groupby_backfill
    from chronon_spark.sources.catalog import ParquetWarehouse

    wh = ParquetWarehouse(spark, tempfile.mkdtemp(prefix="chronon_bf_"))
    gb = GroupBy(
        sources=[_events_source(
            sf_dir,
            {"user_id": "user_id", "cents": "CAST(round(value * 100, 0) AS BIGINT)"},
        )],
        key_columns=["user_id"],
        aggregations=[Aggregation("cents", Operation.SUM, windows=[Window(7)])],
        name="bf",
    )
    job = groupby_backfill(spark, wh, gb, "bf_out", step_days=2)
    job.run("2024-01-03", "2024-01-08")
    rerun = groupby_backfill(spark, wh, gb, "bf_out", step_days=2).run(
        "2024-01-03", "2024-01-08"
    )
    assert rerun.steps == [], "resume must compute nothing"
    out = wh.read("bf_out")
    return out.groupBy("ds").agg(
        F.count("*").alias("n_keys"),
        F.round(F.sum("cents_sum_7d") / 100.0, 6).alias("total_sum_7d"),
    )


def q_staging_recompute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StagingQuery.recompute_days (thrift/api.thrift:100-107 — the
    labeling flow): backfill a per-day label table, rewrite the source in
    place (labels matured: cents x10), re-run with recompute_days=2. Only
    the trailing 2 days refresh; the oracle recomputes the mixed final
    state (stale heads, matured tail) from raw events."""
    _prep(spark)
    import tempfile

    from chronon_spark.api import StagingQuery
    from chronon_spark.plans.backfill import staging_backfill
    from chronon_spark.sources.catalog import ParquetWarehouse

    wh = ParquetWarehouse(spark, tempfile.mkdtemp(prefix="chronon_sr_"))
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "date_format(cast(ts as timestamp), 'yyyy-MM-dd') AS ds",
        "CAST(round(value * 100, 0) AS BIGINT) AS cents",
    ).where("ds <= '2024-01-08'")

    def register(mult: int) -> None:
        wh.insert_overwrite(
            ev.selectExpr("ds", f"cents * {mult} AS cents"), "lbl_src"
        )
        wh.read("lbl_src").createOrReplaceTempView("lbl_src")

    register(1)
    sq = StagingQuery(
        query="SELECT ds, SUM(cents) AS label_cents FROM lbl_src "
              "WHERE ds BETWEEN '{{ start_date }}' AND '{{ end_date }}' "
              "GROUP BY ds",
        name="labels",
        recompute_days=2,
    )
    staging_backfill(spark, wh, sq, "lbl_out", step_days=3).run(
        "2024-01-01", "2024-01-08"
    )
    register(10)  # in-place source rewrite — labels matured
    rerun = staging_backfill(spark, wh, sq, "lbl_out", step_days=3).run(
        "2024-01-01", "2024-01-08"
    )
    planned = sorted(p for h in rerun.planned for p in h.partitions())
    assert planned == ["2024-01-07", "2024-01-08"], planned
    return wh.read("lbl_out").select("ds", "label_cents")


def q_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental backfill over snapshot ranges (north rule): backfill a
    7d-sum GroupBy from a warehouse upstream, REWRITE one upstream
    partition (a new commit in the snapshot log), then refresh — the
    engine must detect the changed partition from the log and recompute
    exactly the 7 downstream days it can influence. The oracle recomputes
    the final state from the mutated upstream."""
    _prep(spark)
    import tempfile

    from chronon_spark.plans.backfill import groupby_backfill, incremental_refresh
    from chronon_spark.sources.catalog import ParquetWarehouse

    _K_INFER = "spark.sql.sources.partitionColumnTypeInference.enabled"
    _old_infer = spark.conf.get(_K_INFER, None)
    spark.conf.set(_K_INFER, "false")
    try:
        wh = ParquetWarehouse(spark, tempfile.mkdtemp(prefix="chronon_inc_"))
        raw = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            "user_id",
            F.expr(TS_EXPR).alias("ts"),
            F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("cents"),
            F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd").alias("ds"),
        )
        wh.insert_overwrite(raw, "up_events")  # snapshot 1

        def job():
            gb = GroupBy(
                sources=[EventSource(wh.path("up_events"), Query(
                    selects={"user_id": "user_id", "cents": "cents"},
                    time_column="ts"))],
                key_columns=["user_id"],
                aggregations=[Aggregation("cents", Operation.SUM, windows=[Window(7)])],
                name="inc",
            )
            return groupby_backfill(spark, wh, gb, "inc_out", step_days=30)

        incremental_refresh(job(), "up_events", "2024-01-03", "2024-01-10",
                            affected_days=7)

        # snapshot 2: rewrite day 05 — keep only even users, triple their cents
        mutated = raw.where(
            (F.col("ds") == "2024-01-05") & (F.col("user_id") % 2 == 0)
        ).withColumn("cents", F.col("cents") * 3)
        wh.insert_overwrite(mutated, "up_events")

        rep = incremental_refresh(job(), "up_events", "2024-01-03", "2024-01-10",
                                  affected_days=7)
        assert rep.changed_upstream == ["2024-01-05"], rep.changed_upstream
        refreshed = sorted(d for r in rep.refreshed for d in r.partitions())
        assert refreshed == [f"2024-01-{d:02d}" for d in range(5, 11)], refreshed
        assert rep.backfill.steps == [], "refresh must not re-open holes"

        out = wh.read("inc_out")
        # materialize the aggregate NOW so restoring the conf afterwards
        # can never change what the driver later collects
        agg = out.groupBy("ds").agg(
            F.count("*").alias("n_keys"),
            F.round(F.sum("cents_sum_7d") / 100.0, 6).alias("total_sum_7d"),
        )
        agg = spark.createDataFrame(agg.collect(), agg.schema)
        return agg
    finally:
        if _old_infer is None:
            spark.conf.unset(_K_INFER)
        else:
            spark.conf.set(_K_INFER, _old_infer)


def _wire_format_warehouse(spark: SparkSession, sf_dir: str, kind: str):
    """Two-commit warehouse for the wire-format providers: snapshot 1 =
    full events history, snapshot 2 = overwrite of day 2024-01-05 (even
    users only, cents tripled) — so current state, time travel AND the
    incremental diff are all distinguishable and oracle-expressible."""
    import tempfile

    from chronon_spark.sources.catalog import ParquetWarehouse

    wh = ParquetWarehouse(spark, tempfile.mkdtemp(prefix=f"chronon_{kind}_"))
    raw = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("cents"),
        F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd").alias("ds"),
    )
    wh.insert_overwrite(raw, "ev")  # snapshot 1
    mutated = raw.where(
        (F.col("ds") == "2024-01-05") & (F.col("user_id") % 2 == 0)
    ).withColumn("cents", F.col("cents") * 3)
    wh.insert_overwrite(mutated, "ev")  # snapshot 2
    return wh


def _wire_format_report(parts: list[tuple[str, DataFrame]]) -> DataFrame:
    out = None
    for version, df in parts:
        agg = df.groupBy("ds").agg(
            F.count("*").alias("n_rows"),
            F.sum("cents").alias("cents_total"),
        ).select(F.lit(version).alias("version"), "ds", "n_rows", "cents_total")
        out = agg if out is None else out.unionByName(agg)
    return out


def q_iceberg_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real Iceberg v2 wire format end-to-end (iceberg.py; reference
    catalog/Iceberg.scala:21-85): mirror the warehouse's snapshot log to
    spec metadata (metadata.json + Avro manifest list + manifests via the
    from-scratch avro_io codec), then plan every read FROM THAT METADATA
    — current state, VERSION AS OF snapshot 1, and the incremental
    added-files diff. The oracle recomputes all three states from raw
    events; partition listing from manifests is pinned against the
    directory walk."""
    _prep(spark)
    from chronon_spark.sources.iceberg import IcebergTable, mirror_to_iceberg

    wh = _wire_format_warehouse(spark, sf_dir, "ice")
    mirror_to_iceberg(wh, "ev")
    t = IcebergTable(wh.path("ev"))
    assert t.partitions() == wh.partitions("ev"), "manifest partition drift"
    return _wire_format_report([
        ("current", t.read(spark)),
        ("v1", t.read(spark, snapshot_id=1)),
        ("inc", t.read_incremental(spark, 1, 2)),
    ])


def q_delta_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta Lake transaction log end-to-end (delta_log.py; reference
    catalog/DeltaLake.scala): mirror the snapshot log to a real
    _delta_log with checkpoint_interval=1 so the CURRENT read exercises
    the checkpoint-plus-tail replay path (not just JSON replay), plus
    VERSION AS OF 0 and the CDF-style incremental diff. Same derived
    oracle as the Iceberg scan."""
    _prep(spark)
    from chronon_spark.sources.delta_log import DeltaTable, mirror_to_delta

    wh = _wire_format_warehouse(spark, sf_dir, "delta")
    mirror_to_delta(wh, "ev", spark, checkpoint_interval=1)
    dt = DeltaTable(wh.path("ev"))
    assert dt.partitions() == wh.partitions("ev"), "delta partition drift"
    return _wire_format_report([
        ("current", dt.read(spark)),
        ("v1", dt.read(spark, version=0)),
        ("inc", dt.read_incremental(spark, 0, 1)),
    ])


def q_catalog_table_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive format provider end-to-end (session_catalog.py; reference
    catalog/Hive.scala + Format.scala:51-75): events land in a REAL
    session-catalog table partitioned by (ds, hr=user parity) via two
    dynamic-partition-overwrite commits — the second touches only the
    (2024-01-05, hr=0) partition, so day 05's odd-user partition MUST
    survive (the semantics that distinguish dynamic overwrite from the
    warehouse's whole-ds replace).  Partition listing comes from SHOW
    PARTITIONS and the sub-partition filter is pinned against the data;
    reads go through spark.table with catalog partition pruning."""
    import shutil
    import tempfile
    import uuid

    from chronon_spark.sources.session_catalog import SessionCatalog

    _prep(spark)
    loc = tempfile.mkdtemp(prefix="chronon_sesscat_")
    cat = SessionCatalog(
        spark, database=f"chronon_gate_{uuid.uuid4().hex[:8]}", location=loc)
    raw = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("cents"),
        F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd").alias("ds"),
        F.expr("CAST(user_id % 2 AS STRING)").alias("hr"),
    )
    cat.insert_overwrite(raw, "ev", partition_columns=["ds", "hr"])
    patch = raw.where(
        (F.col("ds") == "2024-01-05") & (F.col("hr") == "0")
    ).withColumn("cents", F.col("cents") * 3)
    cat.insert_overwrite(patch, "ev", partition_columns=["ds", "hr"])

    # SHOW PARTITIONS + sub-partition filter vs the data itself
    truth = sorted(r.ds for r in raw.where("hr = '0'").select("ds").distinct().collect())
    assert cat.primary_partitions("ev", sub_partitions_filter={"hr": "0"}) == truth
    assert cat.partitions("ev") == sorted(
        r.ds for r in raw.select("ds").distinct().collect())

    cur = cat.read("ev")
    out = _wire_format_report([
        ("current", cur),
        ("hr0", cat.read("ev", partition_filters="hr = '0'")),
    ])
    # materialize BEFORE cleanup (a long-lived session re-running this
    # query would otherwise accumulate one catalog database + a full
    # table copy under /tmp per invocation); ~60 aggregated rows
    local = spark.createDataFrame(out.collect(), out.schema)
    spark.sql(f"DROP DATABASE IF EXISTS {cat.database} CASCADE")
    shutil.rmtree(loc, ignore_errors=True)
    return local


def q_catalog_clustered_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-layout paths end-to-end under the driver gate: (1) clustered
    insert_overwrite (cluster_by=(user_id, ts): repartitionByRange + sort,
    the Iceberg SORTED BY layout), (2) a dynamic-overwrite patch of one
    day, (3) compact() (rewrite_data_files analog — current rows must be
    byte-identical after the rewrite), (4) a z-order (Morton) layout on a
    second table. Every variant is read back through the snapshot log and
    aggregated; any row lost, duplicated, or corrupted by the layout
    machinery breaks the value hash. Footer-level pruning effects are
    plan-asserted in test_cluster_layout; this row pins CONTENT safety."""
    import shutil
    import tempfile

    _prep(spark)
    from chronon_spark.sources.catalog import ParquetWarehouse, zorder_column

    loc = tempfile.mkdtemp(prefix="chronon_layout_")
    try:
        wh = ParquetWarehouse(spark, loc)
        raw = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            "user_id",
            F.unix_millis(F.col("ts").cast("timestamp")).alias("ts"),
            F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("cents"),
            F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd").alias("ds"),
        )
        # v1: clustered layout (multiple range-files per ds)
        wh.insert_overwrite(raw, "ev", cluster_by=("user_id", "ts"))
        # v2: whole-partition dynamic overwrite of one day, cents tripled
        patch = raw.where(F.col("ds") == "2024-01-05").withColumn(
            "cents", F.col("cents") * 3)
        wh.insert_overwrite(patch, "ev", cluster_by=("user_id", "ts"))
        # v3: compaction — one file per fragmented partition, rows unchanged
        wh.compact("ev", min_files=2)
        # z-order table: Morton key over (user_id, ts), range-clustered
        bounds = raw.agg(
            F.min("user_id"), F.max("user_id"), F.min("ts"), F.max("ts")
        ).collect()[0]
        zdf = raw.withColumn("__z", zorder_column([
            ("user_id", float(bounds[0]), float(bounds[1])),
            ("ts", float(bounds[2]), float(bounds[3])),
        ]))
        wh.insert_overwrite(zdf, "evz", cluster_by=("__z",))
        out = _wire_format_report([
            ("clustered", wh.read_at("ev", 1)),
            ("patched", wh.read_at("ev", 2)),
            ("compacted", wh.read("ev")),
            ("zorder", wh.read("evz").drop("__z")),
        ])
        # materialize before the warehouse dir is deleted (~4x n_days rows)
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(loc, ignore_errors=True)


def q_partition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition column stats from parquet FOOTERS only (zero data
    scan — the parquet analog of the reference's Iceberg manifest walk,
    IcebergPartitionStatsExtractor.scala:70-180). The oracle recomputes
    the same numbers from the data itself."""
    _prep(spark)
    import tempfile

    from chronon_spark.sources.catalog import ParquetWarehouse
    from chronon_spark.sources.partition_stats import partition_stats

    _K_INFER = "spark.sql.sources.partitionColumnTypeInference.enabled"
    _old_infer = spark.conf.get(_K_INFER, None)
    spark.conf.set(_K_INFER, "false")
    try:
        wh = ParquetWarehouse(spark, tempfile.mkdtemp(prefix="chronon_ps_"))
        raw = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            "user_id",
            F.expr(
                "CASE WHEN user_id % 7 = 0 THEN NULL "
                "ELSE CAST(round(value * 100, 0) AS BIGINT) END"
            ).alias("cents"),
            F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd").alias("ds"),
        )
        wh.insert_overwrite(raw, "ev")
        out = partition_stats(wh, "ev", columns=["user_id", "cents"])
        out = out.select(
            "ds", "column",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_nulls").cast("long").alias("n_nulls"),
            F.col("min_num").alias("min_num"),
            F.col("max_num").alias("max_num"),
        )
        # footer-stats output is tiny (n_days x 2 columns); materialize so
        # restoring the conf can't affect the driver's later collect
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        if _old_infer is None:
            spark.conf.unset(_K_INFER)
        else:
            spark.conf.set(_K_INFER, _old_infer)


def q_groupby_approx_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPROX_UNIQUE_COUNT via HLL-sketch daily partials unioned across the
    window frame. At per-key event-type cardinality the HLL sparse mode is
    exact, so the oracle pins to COUNT(DISTINCT) — the reference's own
    strategy for approx ops (GroupByTest.scala:103-117)."""
    _prep(spark)
    from chronon_spark.operators.groupby import compute_snapshot_groupby

    gb = GroupBy(
        sources=[_events_source(sf_dir, {"user_id": "user_id",
                                         "event_type": "event_type"})],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("event_type", Operation.APPROX_UNIQUE_COUNT,
                        windows=[Window(7)]),
        ],
        name="au",
    )
    out = compute_snapshot_groupby(spark, gb)
    return out.select(
        "user_id", "ds",
        F.col("event_type_approx_unique_count_7d").cast("long").alias("approx_uniq_7d"),
    )


# deterministic entity-changelog fixture derived from events: every event
# inserts an entity row at its ts; cents%10<3 -> updated (+5000 cents) at
# ts+6h; cents%10 in (3,4) -> deleted at ts+36h (update/delete cohorts are
# DISJOINT so before-images always match current row state, as in the
# reference's DataFrameGen.mutations).
_MUT_Q0 = 1704672000000  # 2024-01-08
_MUT_Q1 = 1706486400000  # 2024-01-29 (exclusive) — 21 query days so the
# bench measures the replay kernel, not fixed job overhead
_MUT_SNAP_DAYS = tuple(f"2024-01-{d:02d}" for d in range(7, 29))


def q_temporal_entity_mutations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(EVENTS, ENTITIES, TEMPORAL): mutation replay over end-of-day
    snapshots (reference: GroupBy.temporalEntities:188-281,
    SawtoothMutationAggregator.scala:44-160). Snapshot partition D-1 +
    day-D mutations with mutation_ts < T, is_before rows deleting; entity
    window test ts in [round(T-w, hop), T) — head-EXCLUSIVE."""
    _prep(spark)
    from chronon_spark.api import AggregationPart
    from chronon_spark.operators.mutations import temporal_entity_features

    spark.sql(f"""
        CREATE OR REPLACE TEMPORARY VIEW __mut_base AS
        SELECT event_id, user_id, {TS_EXPR} AS ts,
               CAST(round(value * 100, 0) AS BIGINT) AS cents,
               CASE WHEN CAST(round(value * 100, 0) AS BIGINT) % 10 < 3
                    THEN unix_millis(cast(ts as timestamp)) + {6 * HOUR} END AS u_ts,
               CASE WHEN CAST(round(value * 100, 0) AS BIGINT) % 10 IN (3, 4)
                    THEN unix_millis(cast(ts as timestamp)) + {36 * HOUR} END AS d_ts
        FROM parquet.`{sf_dir}/events.parquet`
    """)
    days_sql = ", ".join(
        f"('{d}', CAST((unix_date(to_date('{d}')) + 1) AS BIGINT) * {DAY})"
        for d in _MUT_SNAP_DAYS
    )
    snap = spark.sql(f"""
        SELECT b.user_id, b.ts,
               CASE WHEN b.u_ts IS NOT NULL AND b.u_ts < d.eod THEN b.cents + 5000
                    ELSE b.cents END AS cents,
               d.ds
        FROM __mut_base b JOIN (VALUES {days_sql}) AS d(ds, eod)
          ON b.ts < d.eod AND NOT (b.d_ts IS NOT NULL AND b.d_ts < d.eod)
    """)
    mut = spark.sql(f"""
        WITH img AS (
          SELECT user_id, ts, cents, ts AS mutation_ts, false AS is_before
          FROM __mut_base
          UNION ALL
          SELECT user_id, ts, cents, u_ts, true FROM __mut_base WHERE u_ts IS NOT NULL
          UNION ALL
          SELECT user_id, ts, cents + 5000, u_ts, false FROM __mut_base WHERE u_ts IS NOT NULL
          UNION ALL
          SELECT user_id, ts, cents, d_ts, true FROM __mut_base WHERE d_ts IS NOT NULL
        )
        SELECT * FROM img WHERE mutation_ts >= {_MUT_Q0} AND mutation_ts < {_MUT_Q1}
    """)
    left = spark.sql(f"""
        SELECT DISTINCT user_id, ts FROM __mut_base
        WHERE ts >= {_MUT_Q0} AND ts < {_MUT_Q1}
    """)
    parts = [
        AggregationPart("cents", Operation.SUM, {}, Window(7)),
        AggregationPart("cents", Operation.COUNT, {}, None),
        AggregationPart("cents", Operation.AVERAGE, {}, Window(7)),
        AggregationPart("cents", Operation.MIN, {}, Window(7)),
        AggregationPart("cents", Operation.UNIQUE_COUNT, {}, Window(7)),
    ]
    out = temporal_entity_features(left, snap, mut, ["user_id"], ["user_id"], parts)
    return out.select(
        "user_id", "ts",
        F.round(F.col("cents_sum_7d") / 100.0, 6).alias("ent_sum_7d"),
        F.col("cents_count").alias("ent_count"),
        F.round(F.col("cents_average_7d") / 100.0 + 1e-9, 6).alias("ent_avg_7d"),
        F.round(F.col("cents_min_7d") / 100.0, 6).alias("ent_min_7d"),
        F.col("cents_unique_count_7d").alias("ent_uniq_7d"),
    )


def q_mutations_custom_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query.mutationTimeColumn / reversalColumn (api.thrift:17-18) under
    the driver gate, END-TO-END through the EntitySource scan path
    (mutations._mutation_scan normalizes the source expressions to the
    engine-canonical mutation_ts/is_before): the SAME snapshot+mutation
    scenario as temporal_entity_mutations, but the mutation table is
    written to parquet with RENAMED metadata columns (commit_ms, inverted
    is_after) and declared via Query expressions — results must equal the
    closed-form replay oracle exactly."""
    import shutil
    import tempfile

    _prep(spark)
    from chronon_spark.api import Accuracy, DataFrameSource, EntitySource
    from chronon_spark.operators.snapshot_join import compute_join

    tmp = tempfile.mkdtemp(prefix="chronon_mutcc_")
    try:
        spark.sql(f"""
            CREATE OR REPLACE TEMPORARY VIEW __mutcc_base AS
            SELECT event_id, user_id, {TS_EXPR} AS ts,
                   CAST(round(value * 100, 0) AS BIGINT) AS cents,
                   CASE WHEN CAST(round(value * 100, 0) AS BIGINT) % 10 < 3
                        THEN unix_millis(cast(ts as timestamp)) + {6 * HOUR} END AS u_ts,
                   CASE WHEN CAST(round(value * 100, 0) AS BIGINT) % 10 IN (3, 4)
                        THEN unix_millis(cast(ts as timestamp)) + {36 * HOUR} END AS d_ts
            FROM parquet.`{sf_dir}/events.parquet`
        """)
        days_sql = ", ".join(
            f"('{d}', CAST((unix_date(to_date('{d}')) + 1) AS BIGINT) * {DAY})"
            for d in _MUT_SNAP_DAYS
        )
        spark.sql(f"""
            SELECT b.user_id, b.ts,
                   CASE WHEN b.u_ts IS NOT NULL AND b.u_ts < d.eod THEN b.cents + 5000
                        ELSE b.cents END AS cents,
                   d.ds
            FROM __mutcc_base b JOIN (VALUES {days_sql}) AS d(ds, eod)
              ON b.ts < d.eod AND NOT (b.d_ts IS NOT NULL AND b.d_ts < d.eod)
        """).write.parquet(f"{tmp}/snap.parquet")
        # mutation log with RENAMED metadata columns: commit_ms carries the
        # mutation time, is_after is the INVERSE of the canonical reversal
        # flag — the Query below must undo both via expressions
        spark.sql(f"""
            WITH img AS (
              SELECT user_id, ts, cents, ts AS commit_ms, true AS is_after
              FROM __mutcc_base
              UNION ALL
              SELECT user_id, ts, cents, u_ts, false FROM __mutcc_base
              WHERE u_ts IS NOT NULL
              UNION ALL
              SELECT user_id, ts, cents + 5000, u_ts, true FROM __mutcc_base
              WHERE u_ts IS NOT NULL
              UNION ALL
              SELECT user_id, ts, cents, d_ts, false FROM __mutcc_base
              WHERE d_ts IS NOT NULL
            )
            SELECT * FROM img
            WHERE commit_ms >= {_MUT_Q0} AND commit_ms < {_MUT_Q1}
        """).write.parquet(f"{tmp}/mut.parquet")
        left = spark.sql(f"""
            SELECT DISTINCT user_id, ts,
                   date_format(timestamp_millis(ts), 'yyyy-MM-dd') AS ds
            FROM __mutcc_base WHERE ts >= {_MUT_Q0} AND ts < {_MUT_Q1}
        """)
        gb = GroupBy(
            sources=[EntitySource(
                snapshot_table=f"{tmp}/snap.parquet",
                query=Query(
                    selects={"user_id": "user_id", "cents": "cents"},
                    time_column="ts",
                    mutation_time_column="commit_ms",
                    reversal_column="NOT is_after",
                ),
                mutation_table=f"{tmp}/mut.parquet",
            )],
            key_columns=["user_id"],
            aggregations=[
                Aggregation("cents", Operation.SUM, windows=[Window(7)]),
                Aggregation("cents", Operation.COUNT),
            ],
            accuracy=Accuracy.TEMPORAL,
            name="ent",
        )
        join = Join(left=DataFrameSource(lambda s: left),
                    join_parts=[JoinPart(gb)], name="mutcc")
        out = compute_join(spark, join).select(
            "user_id", "ts",
            F.round(F.col("ent_cents_sum_7d") / 100.0, 6).alias("ent_sum_7d"),
            F.col("ent_cents_count").alias("ent_count"),
        )
        # materialize before the temp tables are deleted
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def q_bootstrap_covered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap covering set on a temporal join (reference: Join.scala
    :38-60 CoveringSet + :264-285 computeRange split): rows event_id%5=0
    arrive pre-joined with a sentinel sum; the covering combo keeps their
    bootstrapped value untouched while ONLY the uncovered remainder runs
    the as-of compute."""
    _prep(spark)
    from chronon_spark.api import BootstrapPart
    from chronon_spark.operators.snapshot_join import compute_join

    spark.sql(f"""
        CREATE OR REPLACE TEMPORARY VIEW __bs_sentinel AS
        SELECT event_id, CAST(-12345 AS DOUBLE) AS f_cents_sum_7d
        FROM parquet.`{sf_dir}/events.parquet` WHERE event_id % 5 = 0
    """)
    right = _events_source(
        sf_dir,
        {"user_id": "user_id", "cents": "CAST(round(value * 100, 0) AS BIGINT)"},
    )
    from chronon_spark.api import Accuracy

    gb = GroupBy(
        sources=[right],
        key_columns=["user_id"],
        aggregations=[Aggregation("cents", Operation.SUM, windows=[Window(7)])],
        accuracy=Accuracy.TEMPORAL,
        name="f",
    )
    join = Join(
        left=_events_source(sf_dir, {"event_id": "event_id", "user_id": "user_id"}),
        join_parts=[JoinPart(gb)],
        bootstrap_parts=[BootstrapPart("__bs_sentinel")],
        row_ids=["event_id"],
        name="bsj",
    )
    out = compute_join(spark, join)
    return out.select(
        "event_id", "user_id", "ts",
        F.round(F.col("f_cents_sum_7d") / 100.0, 6).alias("sum_7d"),
    )


def q_groupby_frequent_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPROX_FREQUENT_K / APPROX_HEAVY_HITTERS_K (exact top-k maps — a
    valid NO_FALSE_NEGATIVES superset of the reference's ItemsSketch,
    SimpleAggregators.scala:400-491), canonicalized as 'key:count' strings
    ordered by (count desc, key asc)."""
    _prep(spark)
    from chronon_spark.operators.groupby import compute_snapshot_groupby

    gb = GroupBy(
        sources=[_events_source(sf_dir, {"user_id": "user_id",
                                         "event_type": "event_type"})],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("event_type", Operation.APPROX_FREQUENT_K, {"k": 2},
                        windows=[Window(7)]),
            Aggregation("event_type", Operation.APPROX_HEAVY_HITTERS_K, {"k": 2},
                        windows=[Window(7)]),
        ],
        name="fk",
    )
    out = compute_snapshot_groupby(spark, gb)

    def canon(c):
        entries = F.expr(
            f"array_sort(map_entries({c}), (a, b) -> CASE"
            " WHEN a.value > b.value THEN -1 WHEN a.value < b.value THEN 1"
            " WHEN a.key < b.key THEN -1 WHEN a.key > b.key THEN 1 ELSE 0 END)"
        )
        return F.array_join(
            F.transform(entries, lambda e: F.concat_ws(":", e["key"], e["value"])),
            ",",
        )

    return out.select(
        "user_id", "ds",
        canon("event_type_approx_frequent2_7d").alias("freq2"),
        canon("event_type_approx_heavy_hitters2_7d").alias("hh2"),
    )


def q_groupby_unique_topk_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIQUE_TOP_K struct{sort_key, unique_id} (reference:
    UniqueOrderByLimit.scala, SimpleAggregators.scala:768-917): top-3 by
    sort_key desc with one element per unique_id, max sort_key kept per
    id; canonical 'sort_key:uid' string."""
    _prep(spark)
    from chronon_spark.operators.groupby import compute_snapshot_groupby

    item = ("named_struct('sort_key',"
            " lpad(CAST(CAST(round(value * 100, 0) AS BIGINT) AS STRING), 8, '0'),"
            " 'unique_id', event_id % 50)")
    gb = GroupBy(
        sources=[_events_source(sf_dir, {"user_id": "user_id", "item": item})],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("item", Operation.UNIQUE_TOP_K, {"k": 3},
                        windows=[Window(7)]),
        ],
        name="utk",
    )
    out = compute_snapshot_groupby(spark, gb)
    joined = F.array_join(
        F.transform(
            F.col("item_unique_top3_7d"),
            lambda e: F.concat_ws(":", e["sort_key"], e["unique_id"]),
        ),
        ",",
    )
    return out.select("user_id", "ds", joined.alias("utk3"))


FIXTURE_N, FIXTURE_SEED = 500, 42
_FIXTURE_PATH = f"{FIXTURE_DIR}/images_n{FIXTURE_N}_s{FIXTURE_SEED}.parquet"


def _image_fixture_path() -> str:
    from chronon_spark.fixtures import ensure_image_fixture

    return ensure_image_fixture(n=FIXTURE_N, seed=FIXTURE_SEED)


def q_image_pixel_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """input_hint pipeline: decode binary image columns (Arrow-batched
    mapInPandas), recompute the perceptual hash from pixels, and emit
    integrity + caption features. `phash_match` cross-checks the decode
    path against the stored phash — the oracle asserts it is always true,
    so any decode/phash regression breaks the value-hash."""
    _prep(spark)
    from chronon_spark.operators.multimodal import with_image_features
    from chronon_spark.operators.text import token_count

    images = spark.read.parquet(_image_fixture_path())
    out = with_image_features(images)
    return out.select(
        "image_id",
        (F.col("phash_check") == F.col("phash")).alias("phash_match"),
        F.round(F.col("w").cast("double") / F.col("h").cast("double") + 1e-9, 6).alias("aspect"),
        token_count(F.col("caption")).alias("caption_tokens"),
        "fmt",
    )


REAL_IMG_N, REAL_IMG_SEED = 200, 42
_REAL_FIXTURE_PATH = (
    f"{FIXTURE_DIR}/images_real_v6_n{REAL_IMG_N}_s{REAL_IMG_SEED}.parquet"
)


def _real_image_fixture_path() -> str:
    from chronon_spark.fixtures import ensure_real_image_fixture

    return ensure_real_image_fixture(n=REAL_IMG_N, seed=REAL_IMG_SEED)


def q_image_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-format decode end-to-end: the fixture's bytes are actual PNG,
    baseline-JPEG, GIF (LZW) and BMP files (chronon_spark/codecs.py —
    from-scratch spec implementations, no PIL in the container; fixture
    v4 mixes all four). The engine decodes them in
    the same fused Arrow pass as every other format; the oracle pins
    (a) recomputed phash == stored phash-of-decoded, (b) decoded mean
    brightness == the generator's decoded-pixel sidecar, and (c) PSNR of
    decoded vs pre-encode pixels >= 40 dB on every row — the input_hint's
    lossy-format bar, inside the value hash."""
    _prep(spark)
    from chronon_spark.operators.multimodal import with_image_features

    images = spark.read.parquet(_real_image_fixture_path())
    out = with_image_features(images)
    return out.select(
        "image_id",
        (F.col("phash_check") == F.col("phash")).alias("phash_match"),
        (
            F.abs(F.col("brightness") - F.col("dec_brightness")) < 0.005 + 1e-9
        ).alias("brightness_match"),
        (F.col("psnr_db") >= 40.0).alias("psnr_ok"),
        "fmt",
    )


EXIF_N, EXIF_SEED = 600, 101
_EXIF_FIXTURE_PATH = (
    f"{FIXTURE_DIR}/images_exif_v4_n{EXIF_N}_s{EXIF_SEED}.parquet"
)


def _exif_fixture_path() -> str:
    from chronon_spark.fixtures import ensure_exif_fixture

    return ensure_exif_fixture(n=EXIF_N, seed=EXIF_SEED)


def q_image_exif_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-PII surface end-to-end (exif_codec.py — from-scratch TIFF
    6.0 / EXIF 2.32): parse camera metadata + decimal GPS out of real
    JPEG APP1 / PNG eXIf containers, then BOTH scrub modes —
    mode='gps' (in-place GPS IFD surgery: gps must vanish, make must
    survive) and mode='all' (every metadata segment dropped, txt chunks
    included) — with the decoded-pixel hash pinned unchanged across the
    surgery. Deterministic corrupt-EXIF rows (truncated TIFF in a valid
    container) must flow through as parse_ok=false rows, never a crash.
    The oracle reads the generation-time sidecars, so every parsed
    field, both post-scrub states, and the pixel pin sit in the value
    hash."""
    _prep(spark)
    from chronon_spark.operators.multimodal import (
        extract_pixel_features,
        image_metadata,
        scrub_image_metadata,
    )

    imgs = spark.read.parquet(_exif_fixture_path())
    meta = image_metadata(imgs).select(
        "image_id", "parse_ok", "has_exif", "orientation", "make",
        "artist", "gps_lat", "gps_lon", "txt_chunks",
    )
    gps_scrubbed = scrub_image_metadata(imgs, mode="gps",
                                        passthrough=("fmt",))
    re_gps = image_metadata(gps_scrubbed).select(
        "image_id",
        F.col("gps_present").alias("gps_after"),
        F.col("make").alias("make_after"),
    )
    all_scrubbed = scrub_image_metadata(imgs, mode="all",
                                        passthrough=("fmt", "w", "h",
                                                     "phash"))
    re_all = image_metadata(all_scrubbed).select(
        "image_id",
        F.col("has_exif").alias("clean_exif"),
        F.col("txt_chunks").alias("clean_txt"),
    )
    pix = extract_pixel_features(all_scrubbed, passthrough=("phash",)).select(
        "image_id",
        (F.col("phash_check") == F.col("phash")).alias("pix_ok"),
    )
    return (
        meta.join(re_gps, "image_id")
        .join(re_all, "image_id")
        .join(pix, "image_id")
        .join(imgs.select("image_id", "fmt"), "image_id")
    )


QUAL_N, QUAL_SEED = 600, 131
_QUALITY_FIXTURE_PATH = (
    f"{FIXTURE_DIR}/images_quality_v1_n{QUAL_N}_s{QUAL_SEED}.parquet"
)


def _quality_fixture_path() -> str:
    from chronon_spark.fixtures import ensure_quality_fixture

    return ensure_quality_fixture(n=QUAL_N, seed=QUAL_SEED)


def q_image_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-reference image quality metrics (multimodal.image_quality —
    Laplacian-variance blur score, gray entropy, Hasler-Süsstrunk
    colorfulness, HSV saturation, exposure clip fraction) computed from
    the payload bytes in one Arrow pass, plus the curation gate a
    training pipeline runs on them (sharp AND not-clipped AND
    information-bearing). The fixture's content classes (sharp noise,
    defocus blur, flat fill, gradients, saturated blocks, clipped
    exposures, deterministic corrupt rows) span the metric space; the
    oracle recomputes the gate from generation-time sidecars produced
    by the same published formulas, so every metric value AND the gate
    decision sit in the value hash."""
    _prep(spark)
    from chronon_spark.operators.multimodal import image_quality

    imgs = spark.read.parquet(_quality_fixture_path())
    out = image_quality(imgs)
    keep = (
        F.col("decode_ok")
        & (F.col("laplacian_var") >= 50.0)
        & (F.col("entropy_bits") >= 1.0)
        & (F.col("clip_frac") <= 0.1)
    )
    return out.join(imgs.select("image_id", "fmt"), "image_id").select(
        "image_id", "fmt",
        F.round("laplacian_var", 6).alias("laplacian_var"),
        F.round("entropy_bits", 6).alias("entropy_bits"),
        F.round("colorfulness", 6).alias("colorfulness"),
        F.round("saturation", 6).alias("saturation"),
        F.round("clip_frac", 6).alias("clip_frac"),
        "decode_ok",
        keep.alias("keep"),
    )


def q_image_letterbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Letterbox (aspect-preserving resize + center pad to 64x48) under
    the driver gate — the fixed-size model-input prep step. Pins:
    scale and pad offsets are exact closed-form values per source shape
    (the fixture's four shapes hit no rounding ties); the pad region of
    the REAL canvas bytes is verified pixel-by-pixel against pad_rgb;
    identity rows (64x48 rgb8 sources, scale 1.0, nearest) must emit a
    canvas byte-identical to the source — pinned cross-engine via
    md5(hex(bytes)) on both sides."""
    _prep(spark)
    import numpy as np
    import pandas as pd

    from chronon_spark.operators.multimodal import letterbox_images

    OW, OH = 64, 48
    images = spark.read.parquet(_image_fixture_path())
    lb = letterbox_images(images, OW, OH, method="nearest")
    src = images.select(
        "image_id", F.col("fmt").alias("src_fmt"),
        F.col("w").alias("src_w"), F.col("h").alias("src_h"))
    j = lb.join(F.broadcast(src), "image_id")

    def check(it):
        for pdf in it:
            out_ok = []
            pad_ok = []
            for data, px_, py_, sc, sw, sh, dok in zip(
                    pdf["bytes"], pdf["pad_x"], pdf["pad_y"], pdf["scale"],
                    pdf["src_w"], pdf["src_h"], pdf["decode_ok"]):
                if not dok or data is None or len(data) != OW * OH * 3:
                    out_ok.append(False)
                    pad_ok.append(False)
                    continue
                out_ok.append(True)
                arr = np.frombuffer(data, dtype=np.uint8).reshape(OH, OW, 3)
                iw = max(1, int(round(int(sw) * float(sc))))
                ih = max(1, int(round(int(sh) * float(sc))))
                mask = np.ones((OH, OW), dtype=bool)
                mask[int(py_):int(py_) + ih, int(px_):int(px_) + iw] = False
                pad_ok.append(bool((arr[mask] == 0).all()))
            yield pd.DataFrame({
                "image_id": pdf["image_id"], "src_fmt": pdf["src_fmt"],
                "scale": pdf["scale"], "pad_x": pdf["pad_x"],
                "pad_y": pdf["pad_y"], "out_ok": out_ok, "pad_ok": pad_ok,
                "bytes": pdf["bytes"], "src_w": pdf["src_w"],
                "src_h": pdf["src_h"],
            })

    checked = j.select(
        "image_id", "src_fmt", "bytes", "pad_x", "pad_y", "scale",
        "src_w", "src_h", "decode_ok",
    ).mapInPandas(
        check,
        schema="image_id string, src_fmt string, scale double, pad_x int, "
               "pad_y int, out_ok boolean, pad_ok boolean, bytes binary, "
               "src_w int, src_h int",
    )
    return checked.select(
        "image_id", "src_fmt",
        F.round(F.col("scale"), 6).alias("scale"),
        F.col("pad_x").cast("int").alias("pad_x"),
        F.col("pad_y").cast("int").alias("pad_y"),
        "out_ok", "pad_ok",
        F.when((F.col("src_w") == OW) & (F.col("src_h") == OH)
               & (F.col("src_fmt") == "rgb8"),
               F.md5(F.hex(F.col("bytes")))).alias("ident_md5"),
    )


BPE_N, BPE_SEED = 1_200, 171
_BPE_FIXTURE_PATH = (
    f"{FIXTURE_DIR}/bpe_docs_v1_n{BPE_N}_s{BPE_SEED}.parquet"
)


def _bpe_fixture_path() -> str:
    from chronon_spark.fixtures import ensure_bpe_fixture

    return ensure_bpe_fixture(n=BPE_N, seed=BPE_SEED)


def q_image_exif_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-keyed duplicate detection — the re-upload heuristic a
    training pipeline runs BEFORE any pixel work: images sharing the
    exact (camera make, model, capture datetime) triple are duplicate
    candidates at zero decode cost. Composition of image_metadata (one
    Arrow parse pass) with a native groupBy count joined back — the
    'dedup on extracted columns' shape, one shuffle on the metadata key.
    Rows without parsed EXIF get a NULL key and dup_count NULL (never
    silently grouped together). Oracle recomputes the key and counts
    from the generation-time sidecars."""
    _prep(spark)
    from chronon_spark.operators.multimodal import image_metadata

    imgs = spark.read.parquet(_exif_fixture_path())
    meta = image_metadata(imgs)
    keyed = meta.withColumn(
        "meta_key",
        F.when(
            F.col("parse_ok") & F.col("has_exif")
            & F.col("make").isNotNull() & F.col("model").isNotNull()
            & F.col("exif_datetime").isNotNull(),
            F.concat_ws("|", "make", "model", "exif_datetime"),
        ),
    )
    counts = (
        keyed.where(F.col("meta_key").isNotNull())
        .groupBy("meta_key").agg(F.count("*").alias("dup_count"))
    )
    return keyed.join(counts, "meta_key", "left").select(
        "image_id", "meta_key", "dup_count",
    )


def q_corpus_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer train + apply THROUGH SPARK (operators/tokenizer.py
    — Sennrich subword merges, GPT-2 greedy apply): distributed word
    counts (one map-side-combined groupBy), deterministic top-V cut
    (TakeOrderedAndProject, count desc / word asc), driver-side
    incremental merge learning on the bounded distinct-word table, then
    a broadcast-rank Arrow apply pass. The fixture's sidecars hold the
    REFERENCE tokenization (same algorithm run locally on exact counts
    at generation time), so a hash match proves the distributed
    plumbing — aggregation, cut ordering, lowercase/split semantics,
    memoized apply — reproduces the reference path token-for-token."""
    _prep(spark)
    from chronon_spark.fixtures import BPE_MAX_WORDS, BPE_MERGES
    from chronon_spark.operators.tokenizer import apply_bpe, train_bpe

    docs = spark.read.parquet(_bpe_fixture_path())
    model = train_bpe(docs, num_merges=BPE_MERGES,
                      max_words=BPE_MAX_WORDS)
    out = apply_bpe(docs, model)
    return out.select(
        "doc_id",
        "n_tokens",
        F.array_join("tokens", "|").alias("tokens_joined"),
    )


def q_image_asof_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """input_hint pipeline: point-in-time features keyed on phash — for
    each image capture, how many captures of the SAME content (phash)
    existed as-of that moment (1d window + lifetime), and the latest
    caption seen. Zero temporal leakage: an image's own capture counts
    (head-inclusive), later re-captures never do."""
    _prep(spark)
    from chronon_spark.operators.temporal_join import compute_temporal_join

    path = _image_fixture_path()
    src = EventSource(
        path,
        Query(
            selects={"phash": "phash", "caption": "caption",
                     "caption_len": "CAST(length(caption) AS BIGINT)"},
            time_column="ts",
        ),
    )
    gb = GroupBy(
        sources=[src],
        key_columns=["phash"],
        aggregations=[
            Aggregation("caption", Operation.COUNT, windows=[Window(1), None]),
            Aggregation("caption", Operation.LAST, windows=[None]),
            Aggregation("caption_len", Operation.MAX, windows=[None]),
        ],
        name="cap",
    )
    left = EventSource(
        path, Query(selects={"image_id": "image_id", "phash": "phash"}, time_column="ts")
    )
    join = Join(left=left, join_parts=[JoinPart(gb)], name="img_asof")
    out = compute_temporal_join(spark, join)
    return out.select(
        "image_id", "phash", "ts",
        F.col("cap_caption_count_1d").alias("captures_1d"),
        F.col("cap_caption_count").alias("captures_life"),
        F.col("cap_caption_last").alias("last_caption"),
        F.col("cap_caption_len_max").alias("max_caption_len"),
    )


def q_image_asof_iceberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north rule's literal composition, end-to-end: the SAME
    point-in-time image+caption feature pipeline as image_asof_features,
    but the input table is REAL ICEBERG — the input_hint-shaped fixture
    (image_id, bytes, w, h, fmt, caption, phash) is committed to the
    warehouse, mirrored to spec v2 metadata (metadata.json + Avro
    manifests), and the EventSource points at a metadata-only staging of
    that tree so path auto-detection (catalog.read_parquet_path) MUST
    plan the scan from Iceberg manifests (the engine's own snapshot log
    would otherwise take precedence). Oracle: identical SQL to
    image_asof_features — an Iceberg planning drift (missed file,
    double-counted replaced file, schema skew) breaks the value hash."""
    import os
    import shutil
    import tempfile

    _prep(spark)
    from chronon_spark.operators.temporal_join import compute_temporal_join
    from chronon_spark.sources.catalog import ParquetWarehouse
    from chronon_spark.sources.iceberg import mirror_to_iceberg

    wh = ParquetWarehouse(spark, tempfile.mkdtemp(prefix="chronon_imgice_"))
    images = spark.read.parquet(_image_fixture_path())
    wh.insert_overwrite(images, "img")
    mirror_to_iceberg(wh, "img")
    view = os.path.join(tempfile.mkdtemp(prefix="chronon_imgice_view_"), "img")
    os.makedirs(view)
    shutil.copytree(os.path.join(wh.path("img"), "metadata"),
                    os.path.join(view, "metadata"))

    src = EventSource(
        view,
        Query(
            selects={"phash": "phash", "caption": "caption",
                     "caption_len": "CAST(length(caption) AS BIGINT)"},
            time_column="ts",
        ),
    )
    gb = GroupBy(
        sources=[src],
        key_columns=["phash"],
        aggregations=[
            Aggregation("caption", Operation.COUNT, windows=[Window(1), None]),
            Aggregation("caption", Operation.LAST, windows=[None]),
            Aggregation("caption_len", Operation.MAX, windows=[None]),
        ],
        name="cap",
    )
    left = EventSource(
        view, Query(selects={"image_id": "image_id", "phash": "phash"},
                    time_column="ts")
    )
    join = Join(left=left, join_parts=[JoinPart(gb)], name="img_asof_ice")
    out = compute_temporal_join(spark, join)
    return out.select(
        "image_id", "phash", "ts",
        F.col("cap_caption_count_1d").alias("captures_1d"),
        F.col("cap_caption_count").alias("captures_life"),
        F.col("cap_caption_last").alias("last_caption"),
        F.col("cap_caption_len_max").alias("max_caption_len"),
    )


def q_image_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs by perceptual-hash hamming (<= 2): the
    image-payload analog of simhash dedup. The engine recomputes the
    64-bit phash FROM DECODED PIXELS (Arrow decode pass), then pigeonhole
    banding (3 chunks, recall 1) + bit_count verify. The oracle uses the
    STORED phash column with brute-force all-pairs hamming — valid
    because image_pixel_features pins phash_check == phash, so a decode
    or hash regression breaks this hash too."""
    _prep(spark)
    from chronon_spark.operators.dedup import image_phash_neardup_pairs

    images = spark.read.parquet(_image_fixture_path())
    return image_phash_neardup_pairs(images, max_hamming=2)


def q_image_phash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental image near-dup — the daily-ingest shape for an image
    corpus: a new batch (image_id % 20 = 0) probed against the existing
    corpus via pigeonhole hamming banding (recall 1), corpus touched only
    through its (id, phash) projection. Oracle: brute-force cross-pair
    hamming over the stored phash (pinned equal to the decoded hash by
    image_pixel_features)."""
    _prep(spark)
    from chronon_spark.operators.dedup import hamming_pairs_incremental

    images = spark.read.parquet(_image_fixture_path())
    num = "cast(substring(image_id, 5) as int) % 20"
    return hamming_pairs_incremental(
        images.where(f"{num} = 0"),
        images.where(f"{num} != 0"),
        "image_id", "phash", max_hamming=2,
    )


def q_image_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation pipeline: decode-gated quality filters
    (resolution >= 48x48, caption >= 8 tokens) then phash near-dup
    clustering (hamming <= 2) over the survivors — `is_canonical` marks
    the curated corpus. The oracle replays the gates on stored metadata
    and the clustering as a recursive-CTE transitive closure over
    brute-force all-pairs hamming of the stored phash (pinned equal to
    the decoded hash by image_pixel_features)."""
    _prep(spark)
    from chronon_spark.operators.multimodal import curate_images

    images = spark.read.parquet(_image_fixture_path())
    out = curate_images(
        images, min_w=48, min_h=48, min_caption_tokens=8, max_hamming=2
    )
    return out.select("image_id", "cluster_id", "is_canonical", "w", "h")


def _events_stream(spark: SparkSession, sf_dir: str, exprs: list[str]):
    """events.parquet replayed as a file-source stream (availableNow)."""
    return (
        spark.readStream.schema(
            "event_id long, user_id long, item_id long, event_type string, "
            "value double, ts timestamp_ntz, ds string"
        )
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .selectExpr(*exprs)
    )


def _await_stream(q, name: str, timeout_s: float = 540.0) -> None:
    """Block until an availableNow query actually terminates.

    On a loaded driver a single awaitTermination(300) can return False with
    the stream still running — reading the memory sink then yields PARTIAL
    state (rows match, hashes don't). Loop until the query stops and fail
    loudly otherwise; surface any stream-side exception."""
    import time as _time

    deadline = _time.monotonic() + timeout_s
    while q.isActive:
        if q.awaitTermination(30):
            break
        if _time.monotonic() > deadline:
            q.stop()
            raise TimeoutError(
                f"{name}: availableNow stream did not terminate within "
                f"{timeout_s:.0f}s; refusing to read a partial sink"
            )
    if q.exception() is not None:
        raise q.exception()


def q_stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window streaming aggregation (stream_groupby:
    the GroupBy definition served over a stream — reference context
    spark/.../streaming/GroupBy.scala, materialized as native
    Structured-Streaming windows instead of KV-store IR writes). Daily
    tumbling windows over the events stream, complete output mode so the
    memory sink holds the final aggregate exactly; values are integer
    cents so sums are order-exact across engines."""
    _prep(spark)
    from chronon_spark.streaming.stream_groupby import stream_groupby

    stream = _events_stream(spark, sf_dir, [
        "user_id",
        "cast(ts as timestamp) AS ts",
        "CAST(round(value * 100, 0) AS DOUBLE) AS cents",
    ])
    gb = GroupBy(
        sources=[], key_columns=["user_id"],
        aggregations=[
            Aggregation("cents", Operation.COUNT, windows=[Window(1)]),
            Aggregation("cents", Operation.SUM, windows=[Window(1)]),
            Aggregation("cents", Operation.MIN, windows=[Window(1)]),
            Aggregation("cents", Operation.MAX, windows=[Window(1)]),
        ],
        name="swin",
    )
    out = stream_groupby(stream, gb, watermark="0 seconds")
    qname = f"swin_{abs(hash(sf_dir)) % 100_000}"
    q = (
        out.writeStream.format("memory").queryName(qname)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    _await_stream(q, "stream_windowed_counts")
    return spark.sql(f"SELECT * FROM {qname}").select(
        "user_id",
        F.unix_millis("window_start").alias("window_start"),
        F.unix_millis("window_end").alias("window_end"),
        F.col("cents_count_1d").alias("n_events"),
        F.col("cents_sum_1d").cast("bigint").alias("cents_sum"),
        F.col("cents_min_1d").cast("bigint").alias("cents_min"),
        F.col("cents_max_1d").cast("bigint").alias("cents_max"),
    )


def q_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session windows (stream_sessionize: gap-based
    sessions with watermarked state eviction — the streaming analog of
    operators/analytics.sessionize). Append mode emits each merged
    session exactly once when the watermark passes its end; with a
    0-second delay the final watermark is the stream's max event time, so
    every session ending strictly before it is flushed by the closing
    no-data batch. Both sides filter to window_end < max(ts) — the
    deterministic emitted set regardless of eviction-boundary (< vs <=)
    semantics."""
    _prep(spark)
    from chronon_spark.streaming.stream_groupby import stream_sessionize

    gap_s = 1800
    stream = _events_stream(
        spark, sf_dir, ["user_id", "cast(ts as timestamp) AS ts"])
    out = stream_sessionize(stream, ["user_id"], gap_seconds=gap_s,
                            watermark="0 seconds")
    qname = f"ssess_{abs(hash(sf_dir)) % 100_000}"
    q = (
        out.writeStream.format("memory").queryName(qname)
        .outputMode("append").trigger(availableNow=True).start()
    )
    _await_stream(q, "stream_session_windows")
    max_ms = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .agg(F.max(F.unix_millis(F.col("ts").cast("timestamp")))).collect()[0][0]
    )
    emitted = spark.sql(f"SELECT * FROM {qname}").select(
        "user_id",
        F.unix_millis("window_start").alias("window_start"),
        F.unix_millis("window_end").alias("window_end"),
        "n_events",
        F.unix_millis("session_start").alias("session_start"),
        F.unix_millis("session_end").alias("session_end"),
    )
    return emitted.where(F.col("window_end") < F.lit(max_ms))


def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful STREAMING GroupBy (applyInPandasWithState): the
    events table replayed as a file-source stream (availableNow), per-key
    lifetime IR state folded across micro-batches, final state compared
    against plain lifetime SQL — count/sum/avg plus the event-time-ordered
    LAST_K list that native streaming aggregates cannot express. Values
    are integer cents so sums are order-exact across engines; (user_id,
    ts) is unique in the testdata so LAST_K order is deterministic."""
    _prep(spark)
    from chronon_spark.streaming.stream_groupby import stream_stateful_groupby

    stream = _events_stream(spark, sf_dir, [
        "user_id",
        "cast(ts as timestamp) AS ts",
        "CAST(round(value * 100, 0) AS DOUBLE) AS cents",
    ])
    gb = GroupBy(
        sources=[], key_columns=["user_id"],
        aggregations=[
            Aggregation("cents", Operation.COUNT),
            Aggregation("cents", Operation.SUM),
            Aggregation("cents", Operation.LAST),
            Aggregation("cents", Operation.LAST_K, arg_map={"k": 5}),
        ],
        name="sstate",
    )
    out = stream_stateful_groupby(stream, gb)
    qname = f"sstate_{abs(hash(sf_dir)) % 100_000}"
    q = (
        out.writeStream.format("memory").queryName(qname)
        .outputMode("update").trigger(availableNow=True).start()
    )
    _await_stream(q, "stream_stateful_features")
    from pyspark.sql.window import Window as W

    final = (
        spark.sql(f"SELECT * FROM {qname}")
        .withColumn(
            "_rn",
            F.row_number().over(
                W.partitionBy("user_id").orderBy(F.col("cents_count").desc())
            ),
        )
        .where("_rn = 1")
    )
    return final.select(
        "user_id",
        F.col("cents_count").alias("n_events"),
        F.col("cents_sum").cast("bigint").alias("cents_sum"),
        F.col("cents_last").cast("bigint").alias("cents_last"),
        F.concat_ws(
            ",",
            F.transform("cents_last5", lambda x: x.cast("bigint").cast("string")),
        ).alias("last5"),
    )


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING exact dedup (applyInPandasWithState): events replayed as
    an availableNow file stream, first-seen row per fingerprint kept with
    a running duplicate count. The survivor is the (ts, id)-lexicographic
    MINIMUM over all rows — batch-boundary-independent, so the final
    state matches the plain-SQL window oracle however the stream was
    chunked. Fingerprint = cents % 1000 (deliberately low-cardinality so
    every group holds many duplicates and the state fold does real work)."""
    _prep(spark)
    from chronon_spark.streaming.stream_dedup import stream_dedup

    stream = _events_stream(spark, sf_dir, [
        "CAST(round(value * 100, 0) AS BIGINT) % 1000 AS fp",
        "event_id",
        "unix_millis(cast(ts as timestamp)) AS tsm",
    ])
    out = stream_dedup(stream, "fp", "event_id", "tsm")
    qname = f"sdedup_{abs(hash(sf_dir)) % 100_000}"
    q = (
        out.writeStream.format("memory").queryName(qname)
        .outputMode("update").trigger(availableNow=True).start()
    )
    _await_stream(q, "stream_dedup")
    from pyspark.sql.window import Window as W

    final = (
        spark.sql(f"SELECT * FROM {qname}")
        .withColumn(
            "_rn",
            F.row_number().over(
                W.partitionBy("fp").orderBy(F.col("n_seen").desc())
            ),
        )
        .where("_rn = 1")
    )
    return final.select("fp", "first_id", "first_ts", "n_seen")


VIDEO_N, VIDEO_SEED = 200, 77
_VIDEO_FIXTURE_PATH = f"{FIXTURE_DIR}/videos_n{VIDEO_N}_s{VIDEO_SEED}.parquet"
AUDIO_N, AUDIO_SEED = 300, 55
_AUDIO_FIXTURE_PATH = f"{FIXTURE_DIR}/audio_n{AUDIO_N}_s{AUDIO_SEED}.parquet"
AUDIO_REAL_N, AUDIO_REAL_SEED = 300, 91
_AUDIO_REAL_FIXTURE_PATH = (
    f"{FIXTURE_DIR}/audio_real_v2_n{AUDIO_REAL_N}_s{AUDIO_REAL_SEED}.parquet"
)


def _video_fixture_path() -> str:
    from chronon_spark.fixtures import ensure_video_fixture

    return ensure_video_fixture(n=VIDEO_N, seed=VIDEO_SEED)


def _audio_fixture_path() -> str:
    from chronon_spark.fixtures import ensure_audio_fixture

    return ensure_audio_fixture(n=AUDIO_N, seed=AUDIO_SEED)


def _audio_real_fixture_path() -> str:
    from chronon_spark.fixtures import ensure_real_audio_fixture

    return ensure_real_audio_fixture(n=AUDIO_REAL_N, seed=AUDIO_REAL_SEED)


VIDEO_REAL_N, VIDEO_REAL_SEED = 200, 83
_VIDEO_REAL_FIXTURE_PATH = (
    f"{FIXTURE_DIR}/videos_real_v4_n{VIDEO_REAL_N}_s{VIDEO_REAL_SEED}.parquet"
)


def _video_real_fixture_path() -> str:
    from chronon_spark.fixtures import ensure_real_video_fixture

    return ensure_real_video_fixture(n=VIDEO_REAL_N, seed=VIDEO_REAL_SEED)


def q_video_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video binary columns ('vraw' = concatenated rgb8 frames): fused
    decode -> frame-sample -> per-video features in ONE Arrow pass
    (frame-0 phash integrity, mean brightness, motion energy). The
    oracle reads the fixture's generation-time sidecar columns, so a
    hash match proves the engine reproduces them from the binary payload
    alone via the Spark path. Frame EXPLOSION (sample_frames) and its
    composition with the image feature suite are pytest-covered."""
    _prep(spark)
    from chronon_spark.operators.multimodal import extract_video_features

    vids = spark.read.parquet(_video_fixture_path())
    out = extract_video_features(vids, every_n=1)
    return out.join(vids.select("video_id", "phash"), "video_id").select(
        "video_id",
        (F.col("phash0_check") == F.col("phash")).alias("phash_match"),
        "n_frames_read",
        F.round(F.col("brightness") + 1e-9, 6).alias("brightness"),
        F.round(F.col("motion_energy") + 1e-9, 6).alias("motion_energy"),
    )


def q_video_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-format video decode across ALL THREE real containers:
    animated GIF (LZW frames composited per the spec's disposal/
    transparency rules; plain + interlaced), animated PNG (acTL/fcTL/
    fdAT, lossless truecolor) and Motion-JPEG AVI (RIFF container,
    every frame a standalone baseline JPEG — the lossy one); fixture v3
    mixes all three through the same fused Arrow video-feature pass as
    'vraw'. The oracle reads the fixture's decoded-frame sidecars (NULL
    + decode_ok=false for the deterministic truncated/handler-clobbered
    rows), so a hash match proves frame-exact decode through the Spark
    path."""
    _prep(spark)
    from chronon_spark.operators.multimodal import extract_video_features

    vids = spark.read.parquet(_video_real_fixture_path())
    out = extract_video_features(vids, every_n=1)
    return out.join(vids.select("video_id", "layout", "phash"), "video_id").select(
        "video_id",
        "layout",
        F.when(F.col("decode_ok"),
               F.col("phash0_check") == F.col("phash")).alias("phash_match"),
        "n_frames_read",
        F.round(F.col("brightness") + 1e-9, 6).alias("brightness"),
        F.round(F.col("motion_energy") + 1e-9, 6).alias("motion_energy"),
        "decode_ok",
    )


def q_audio_clip_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio binary columns ('pcm16' = int16 LE mono): RMS, zero-crossing
    rate, spectral centroid (rfft), duration in one Arrow pass. Oracle =
    the fixture's generation-time sidecars (same contract as the video
    and image fixtures)."""
    _prep(spark)
    from chronon_spark.operators.multimodal import extract_audio_features

    aud = spark.read.parquet(_audio_fixture_path())
    out = extract_audio_features(aud)
    return out.select(
        "audio_id",
        F.round(F.col("rms") + 1e-9, 6).alias("rms"),
        F.round(F.col("zcr") + 1e-9, 6).alias("zcr"),
        F.round(F.col("spectral_centroid_hz") + 1e-9, 6).alias("centroid_hz"),
        F.round(F.col("duration_s") + 1e-9, 6).alias("duration_s"),
        "decode_ok",
    )


def q_audio_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-format audio decode: WAV/RIFF containers across the encoding
    matrix (integer PCM 8/16/24/32, IEEE float32/64, G.711 A-law/mu-law,
    WAVE_FORMAT_EXTENSIBLE, stereo mean-downmix — audio_codecs.py) AND
    compressed FLAC (fixed-predictor/rice frames, mono + independent +
    mid/side stereo, CRC-verified — flac_codec.py; fixture v2 mixes both
    containers plus a bit-flipped FLAC row the frame CRC must catch)
    through the same Arrow feature pass. The oracle reads the fixture's
    generation-time sidecars (features of the DECODED signal; NULL +
    decode_ok=false for the deterministic corrupt rows), so a hash match
    proves the engine reproduces them from the binary payload alone —
    the audio analog of image_real_decode."""
    _prep(spark)
    from chronon_spark.operators.multimodal import extract_audio_features

    aud = spark.read.parquet(_audio_real_fixture_path())
    out = extract_audio_features(aud)
    return out.join(aud.select("audio_id", "enc"), "audio_id").select(
        "audio_id",
        "enc",
        F.round(F.col("rms") + 1e-9, 6).alias("rms"),
        F.round(F.col("zcr") + 1e-9, 6).alias("zcr"),
        F.round(F.col("spectral_centroid_hz") + 1e-9, 6).alias("centroid_hz"),
        F.round(F.col("duration_s") + 1e-9, 6).alias("duration_s"),
        "decode_ok",
    )


def q_model_transform_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ModelTransforms source (4th Source union arm, thrift/api.thrift:192,
    599-610): events enriched with a batched local model (linear scorer —
    deterministic integer-valued doubles so sums are order-independent),
    consumed by a snapshot GroupBy downstream."""
    _prep(spark)
    from chronon_spark.api import Model, ModelTransformSource
    from chronon_spark.operators.groupby import compute_snapshot_groupby
    from chronon_spark.operators.model_transforms import linear_scorer

    src = ModelTransformSource(
        sources=[_events_source(
            sf_dir,
            {"user_id": "user_id", "cents": "CAST(round(value * 100, 0) AS BIGINT)"},
        )],
        models=[Model(
            name="scorer",
            value_schema={"score": "double"},
            inference_fn=linear_scorer({"c": 3.0}, bias=7.0, out_col="score"),
            input_mapping={"c": "cents"},
        )],
        passthrough_fields=["user_id"],
        query=Query(selects={"user_id": "user_id", "score": "score"}),
    )
    gb = GroupBy(
        sources=[src],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("score", Operation.SUM, windows=[Window(7)]),
            Aggregation("score", Operation.COUNT, windows=[Window(7)]),
        ],
        name="mt",
    )
    out = compute_snapshot_groupby(spark, gb)
    return out.select(
        "user_id", "ds",
        F.round(F.col("score_sum_7d"), 6).alias("score_sum_7d"),
        F.col("score_count_7d").alias("score_count_7d"),
    )


def q_sketch_ir_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistable mergeable sketch IRs (reference KLL-in-IR-table
    strategy, SimpleAggregators.scala:499-585): TWO independent jobs each
    write bounded binary KLL partials per (user, day) over half the date
    range; a third job merges the unioned IR tables. At this scale every
    partial stays in the sketch's exact regime, so the merged quantiles
    equal the engine-pinned exact convention rank = max(1, ceil(p*n)) —
    a hard value-hash, not a tolerance check."""
    _prep(spark)
    from chronon_spark.operators.sketches import (
        merge_quantile_irs,
        write_quantile_ir,
    )
    from chronon_spark.sources.scan import scan_source

    ev = scan_source(spark, _events_source(
        sf_dir,
        {"user_id": "user_id", "cents": "CAST(round(value * 100, 0) AS BIGINT)"},
    ))
    job1 = write_quantile_ir(
        ev.where("ds <= '2024-01-15'"), ["user_id"], "cents", k=1024)
    job2 = write_quantile_ir(
        ev.where("ds > '2024-01-15'"), ["user_id"], "cents", k=1024)
    merged = merge_quantile_irs(
        job1.unionByName(job2), ["user_id"], [0.5, 0.9])
    return merged.select(
        "user_id",
        F.round(F.col("p50") / 100.0, 6).alias("p50"),
        F.round(F.col("p90") / 100.0, 6).alias("p90"),
    )


def q_sketch_ir_frequent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items IR tables in the Apache DataSketches
    ItemsSketch<String> wire format (reference FrequentItems aggregator,
    SimpleAggregators.scala:400-500; serde :438-441): two jobs write
    per-(user, day) binary payloads over disjoint halves of the range, a
    third merges the unioned tables to the reference's finalize shape
    (top-k items with estimates). map_size far exceeds the distinct
    event types, so no purge fires, offset stays 0, and every estimate
    is the EXACT count — a hard value-hash through serialize -> union ->
    deserialize -> merge, not a tolerance check."""
    _prep(spark)
    from chronon_spark.operators.sketches import (
        merge_frequent_irs,
        write_frequent_ir,
    )
    from chronon_spark.sources.scan import scan_source

    ev = scan_source(spark, _events_source(
        sf_dir, {"user_id": "user_id", "event_type": "event_type"}))
    job1 = write_frequent_ir(
        ev.where("ds <= '2024-01-15'"), ["user_id"], "event_type", map_size=64)
    job2 = write_frequent_ir(
        ev.where("ds > '2024-01-15'"), ["user_id"], "event_type", map_size=64)
    return merge_frequent_irs(
        job1.unionByName(job2), ["user_id"], k=2
    ).select("user_id", "item", "estimate")


def q_sketch_ir_cpc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPROX_UNIQUE_COUNT IR tables in the Apache DataSketches CPC
    wire format (reference: SimpleAggregators.scala:499-543 persists
    CpcSketch binaries) — the r4 verdict's last documented residual,
    closed with a from-scratch codec (chronon_spark/cpc_sketch.py).

    Two jobs write per-(user-bucket, day) CPC payloads over disjoint
    halves of the date range, a third merges the unioned IR tables to
    ICON estimates. Pins inside the value hash: (a) the merged
    estimate sits within the CPC error envelope of the exact distinct
    count (deterministic booleans); (b) WIRE INTEROP — one bucket-day
    payload is byte-compared against `CpcUnion.getResult()
    .toByteArray()` of the datasketches-java library that ships inside
    Spark's own jars, built from the same values through the live
    JVM."""
    _prep(spark)
    from chronon_spark.operators.sketches import merge_cpc_irs, write_cpc_ir
    from chronon_spark.sources.scan import scan_source

    ev = scan_source(spark, _events_source(
        sf_dir, {"user_id": "user_id",
                 "cents": "CAST(round(value * 100, 0) AS BIGINT)"})
    ).withColumn("k", (F.col("user_id") % 8).cast("string"))
    job1 = write_cpc_ir(ev.where("ds <= '2024-01-15'"), ["k"], "cents")
    job2 = write_cpc_ir(ev.where("ds > '2024-01-15'"), ["k"], "cents")
    ir = job1.unionByName(job2)
    merged = merge_cpc_irs(ir, ["k"])
    exact = ev.groupBy("k").agg(
        F.countDistinct("cents").alias("exact_uniques"))
    out = merged.join(exact, "k")

    # wire interop for one concrete (bucket, day) group via the JVM
    probe_rows = [int(r["cents"]) for r in ev.where(
        "k = '3' AND ds = '2024-01-05'").select("cents").collect()]
    jvm = spark._jvm
    jsk = jvm.org.apache.datasketches.cpc.CpcSketch(11)
    for v in probe_rows:
        jsk.update(v)
    ju = jvm.org.apache.datasketches.cpc.CpcUnion(11)
    ju.update(jsk)
    lib_bytes = bytes(ju.getResult().toByteArray())
    ours = bytes(ir.where("k = '3' AND ds = '2024-01-05'")
                 .collect()[0]["cpc_ir"])
    wire_ok = ours == lib_bytes
    # and the library must accept + equally estimate our merged bytes
    from chronon_spark.cpc_sketch import cpc_estimate, cpc_merge

    day_blobs = [bytes(r["cpc_ir"])
                 for r in ir.where("k = '3'").collect()]
    remerged = cpc_merge(day_blobs)
    lib_est = jvm.org.apache.datasketches.cpc.CpcSketch.heapify(
        remerged).getEstimate()
    lib_reads_ours = abs(lib_est - cpc_estimate(remerged)) < 1e-12

    return out.select(
        "k", "exact_uniques",
        ((F.abs(F.col("approx_unique") - F.col("exact_uniques"))
          / F.col("exact_uniques")) <= 0.05).alias("within_5pct"),
        F.lit(bool(wire_ok)).alias("wire_identical"),
        F.lit(bool(lib_reads_ours)).alias("lib_reads_ours"),
    )


def q_groupby_multisource_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source GroupBy (reference: GroupBy.from sources union,
    GroupBy.scala renderDataSourceQuery): the same events table split into
    two disjoint EventSources (even/odd event ids) unioned by the engine —
    must equal the single-source aggregation exactly."""
    _prep(spark)
    from chronon_spark.operators.groupby import compute_snapshot_groupby

    def half(which: str) -> EventSource:
        return EventSource(
            f"{sf_dir}/events.parquet",
            Query(
                selects={"user_id": "user_id",
                         "cents": "CAST(round(value * 100, 0) AS BIGINT)"},
                wheres=[f"event_id % 2 = {which}"],
                time_column=TS_EXPR,
            ),
        )

    gb = GroupBy(
        sources=[half("0"), half("1")],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("cents", Operation.SUM, windows=[Window(7)]),
            Aggregation("cents", Operation.COUNT, windows=[None]),
        ],
        name="u",
    )
    out = compute_snapshot_groupby(spark, gb)
    return out.select(
        "user_id", "ds",
        F.round(F.col("cents_sum_7d") / 100.0, 6).alias("sum_7d"),
        F.col("cents_count").alias("count_life"),
    )


def q_joinsource_chained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JoinSource chaining (Case #2, thrift/api.thrift:168-183;
    replaceJoinSource GroupBy.scala:412-477): an upstream temporal join
    computes each event's 1d count; a downstream snapshot GroupBy
    aggregates that derived feature per user per day."""
    _prep(spark)
    from chronon_spark.api import JoinSource
    from chronon_spark.operators.groupby import compute_snapshot_groupby

    inner_gb = GroupBy(
        sources=[EventSource(
            f"{sf_dir}/events.parquet",
            Query(selects={"user_id": "user_id",
                           "cents": "CAST(round(value * 100, 0) AS BIGINT)"},
                  time_column=TS_EXPR),
            topic="t",  # TEMPORAL accuracy: as-of each event's own ts
        )],
        key_columns=["user_id"],
        aggregations=[Aggregation("cents", Operation.COUNT, windows=[Window(1)])],
        name="cnt",
    )
    inner = Join(
        left=_events_source(sf_dir, {"event_id": "event_id", "user_id": "user_id"}),
        join_parts=[JoinPart(inner_gb)],
        name="inner",
    )
    outer = GroupBy(
        sources=[JoinSource(
            join=inner,
            query=Query(selects={"user_id": "user_id", "c1": "cnt_cents_count_1d"},
                        time_column="ts"),
        )],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("c1", Operation.SUM, windows=[Window(7)]),
            Aggregation("c1", Operation.MAX, windows=[Window(7)]),
        ],
        name="chain",
    )
    out = compute_snapshot_groupby(spark, outer)
    return out.select(
        "user_id", "ds",
        F.col("c1_sum_7d").alias("c1_sum_7d"),
        F.col("c1_max_7d").alias("c1_max_7d"),
    )


def q_temporal_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key salting equivalence under the driver gate: the SAME as-of
    join as temporal_join_asof with spark.chronon.join.salt=4 in the r5
    TARGETED mode (salt.keys lists users 0-2: only their query rows
    spread across salts, only their event rows replicate; every other
    key takes the plain path) — must hash-match the plain SQL oracle
    exactly, proving salting never changes results on either path."""
    _prep(spark)
    from chronon_spark.operators.temporal_join import compute_temporal_join

    right = _events_source(
        sf_dir,
        {"user_id": "user_id", "cents": "CAST(round(value * 100, 0) AS BIGINT)"},
    )
    gb = GroupBy(
        sources=[right],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("cents", Operation.COUNT, windows=[Window(1), None]),
            Aggregation("cents", Operation.SUM, windows=[Window(7)]),
        ],
        name="f",
    )
    join = Join(
        left=_events_source(sf_dir, {"event_id": "event_id", "user_id": "user_id"}),
        join_parts=[JoinPart(gb)],
        name="salted",
    )
    _confs = {"spark.chronon.join.salt": "4",
              "spark.chronon.join.salt.keys": "0,1,2"}
    _old = {k: spark.conf.get(k, None) for k in _confs}
    for k, v in _confs.items():
        spark.conf.set(k, v)
    try:
        out = compute_temporal_join(spark, join)
    finally:
        for k, v in _old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return out.select(
        "event_id", "user_id", "ts",
        F.col("f_cents_count_1d").alias("count_1d"),
        F.col("f_cents_count").alias("count_life"),
        F.round(F.col("f_cents_sum_7d") / 100.0, 6).alias("sum_7d"),
    )


def _asof_join_variant(spark: SparkSession, sf_dir: str, left_query: Query,
                       name: str, skew_keys=None) -> DataFrame:
    """Shared body for the join-path-behavior variants: same GroupBy as
    temporal_join_salted, parameterized left scan / skew config."""
    from chronon_spark.operators.temporal_join import compute_temporal_join

    right = _events_source(
        sf_dir,
        {"user_id": "user_id", "cents": "CAST(round(value * 100, 0) AS BIGINT)"},
    )
    gb = GroupBy(
        sources=[right],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("cents", Operation.COUNT, windows=[Window(1), None]),
            Aggregation("cents", Operation.SUM, windows=[Window(7)]),
        ],
        name="f",
    )
    join = Join(
        left=EventSource(f"{sf_dir}/events.parquet", left_query),
        join_parts=[JoinPart(gb)],
        name=name,
        skew_keys=skew_keys,
    )
    out = compute_temporal_join(spark, join)
    return out.select(
        "event_id", "user_id", "ts",
        F.col("f_cents_count_1d").alias("count_1d"),
        F.col("f_cents_count").alias("count_life"),
        F.round(F.col("f_cents_sum_7d") / 100.0, 6).alias("sum_7d"),
    )


def q_join_derivations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join.derivations projection semantics under the driver gate
    (reference: Extensions.scala DerivationOps.derivationProjection:
    1246-1272): a renamed feature consumes its source (lifetime count
    disappears), "*" expands the remaining base columns, and a derived
    expression computes over output columns. The oracle replicates the
    resulting projection exactly."""
    _prep(spark)
    from chronon_spark.operators.temporal_join import compute_temporal_join

    right = _events_source(
        sf_dir,
        {"user_id": "user_id", "cents": "CAST(round(value * 100, 0) AS BIGINT)"},
    )
    gb = GroupBy(
        sources=[right],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("cents", Operation.COUNT, windows=[Window(1), None]),
            Aggregation("cents", Operation.SUM, windows=[Window(7)]),
        ],
        name="f",
    )
    join = Join(
        left=_events_source(sf_dir, {"event_id": "event_id", "user_id": "user_id"}),
        join_parts=[JoinPart(gb)],
        name="derived",
        derivations={
            "*": "*",
            "lifetime_count": "f_cents_count",  # rename consumes the source
            "usd_7d": "ROUND(f_cents_sum_7d / CAST(100 AS DOUBLE), 6)",
            "spend_rate_1d": "CASE WHEN f_cents_count_1d > 0 THEN "
                             "ROUND(f_cents_sum_7d / (CAST(100 AS DOUBLE) * f_cents_count_1d) + 1e-9, 4) END",
        },
    )
    out = compute_temporal_join(spark, join)
    return out.select(
        "event_id", "user_id", "ts",
        F.col("f_cents_count_1d").alias("count_1d"),
        "lifetime_count", "usd_7d", "spend_rate_1d",
    )


def q_temporal_join_smallmode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-mode path under the driver gate: the left is restricted to
    user_id < 30 (< 5k rows at gate scale), so _small_mode_filter pushes
    literal `user_id IN (...)` predicates into the right parquet scan
    (reference: JoinUtils.runSmallMode). Must hash-match the plain as-of
    SQL on the same subset — the pushdown itself is plan-asserted in
    test_small_mode_pushes_key_filter."""
    _prep(spark)
    return _asof_join_variant(
        spark, sf_dir,
        Query(selects={"event_id": "event_id", "user_id": "user_id"},
              wheres=["user_id < 30"], time_column=TS_EXPR),
        "smallmode",
    )


def q_temporal_join_midsize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mid-size path (the reference's bloom-filter analog) under the
    driver gate: small mode disabled and the right-scan size gate zeroed
    so the broadcast left-semi key filter engages on the full left. Must
    hash-match the plain as-of SQL — zero false positives by
    construction."""
    _prep(spark)
    confs = {
        "spark.chronon.backfill.small_mode.cutoff": "0",
        "spark.chronon.backfill.bloom.min_right_bytes": "0",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        return _asof_join_variant(
            spark, sf_dir,
            Query(selects={"event_id": "event_id", "user_id": "user_id"},
                  time_column=TS_EXPR),
            "midsize",
        )
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def q_temporal_join_skewfilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """skewKeys exclusion under the driver gate (reference:
    JoinUtils.skewFilter filters BOTH sides): hot keys 0/1/2 are dropped
    from the left AND from the right scan; the oracle applies the same
    NOT IN. Right-side exclusion is additionally plan-asserted in
    test_skew_keys_filter_right_side."""
    _prep(spark)
    return _asof_join_variant(
        spark, sf_dir,
        Query(selects={"event_id": "event_id", "user_id": "user_id"},
              time_column=TS_EXPR),
        "skewed",
        skew_keys={"user_id": [0, 1, 2]},
    )


def q_temporal_join_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSITE join keys under the driver gate: the as-of join keyed on
    (user_id, slot) where slot = the event_type STRING — the kernel
    factorizes a long+string key pair into one composite code
    (temporal_join.py), and the oracle joins on both columns. Proves
    multi-column mixed-type keys produce identical sawtooth windows to
    the equivalent two-column SQL join."""
    _prep(spark)
    from chronon_spark.operators.temporal_join import compute_temporal_join

    slot = "event_type"
    right = _events_source(
        sf_dir,
        {"user_id": "user_id", "slot": slot,
         "cents": "CAST(round(value * 100, 0) AS BIGINT)"},
    )
    gb = GroupBy(
        sources=[right],
        key_columns=["user_id", "slot"],
        aggregations=[
            Aggregation("cents", Operation.COUNT, windows=[Window(1), None]),
            Aggregation("cents", Operation.SUM, windows=[Window(7)]),
        ],
        name="f",
    )
    join = Join(
        left=_events_source(
            sf_dir,
            {"event_id": "event_id", "user_id": "user_id", "slot": slot},
        ),
        join_parts=[JoinPart(gb)],
        name="composite",
    )
    out = compute_temporal_join(spark, join)
    return out.select(
        "event_id", "user_id", "slot", "ts",
        F.col("f_cents_count_1d").alias("count_1d"),
        F.col("f_cents_count").alias("count_life"),
        F.round(F.col("f_cents_sum_7d") / 100.0, 6).alias("sum_7d"),
    )


def q_join_long_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """useLongNames output-column convention (api.thrift:428,
    Extensions.scala:842-850) under the driver gate: ONE join carrying the
    SAME GroupBy twice — part 1 with useLongNames=true (prefix = GroupBy
    name: f_cents_*), part 2 with useLongNames=false + prefix='p' (prefix
    = keys joined: p_user_id_cents_*). The select below hard-codes both
    conventions' names, so a naming regression fails the row; values must
    agree column-for-column with the single-part SQL."""
    _prep(spark)
    from chronon_spark.operators.temporal_join import compute_temporal_join

    right = _events_source(
        sf_dir,
        {"user_id": "user_id", "cents": "CAST(round(value * 100, 0) AS BIGINT)"},
    )
    gb = GroupBy(
        sources=[right],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("cents", Operation.COUNT, windows=[Window(1), None]),
            Aggregation("cents", Operation.SUM, windows=[Window(7)]),
        ],
        name="f",
    )
    join = Join(
        left=_events_source(sf_dir, {"event_id": "event_id", "user_id": "user_id"}),
        join_parts=[
            JoinPart(gb),  # long names (legacy default)
            JoinPart(gb, prefix="p", use_long_names=False),
        ],
        name="longnames",
    )
    out = compute_temporal_join(spark, join)
    return out.select(
        "event_id", "user_id", "ts",
        F.col("f_cents_count_1d").alias("long_count_1d"),
        F.col("f_cents_count").alias("long_count_life"),
        F.round(F.col("f_cents_sum_7d") / 100.0, 6).alias("long_sum_7d"),
        F.col("p_user_id_cents_count_1d").alias("short_count_1d"),
        F.col("p_user_id_cents_count").alias("short_count_life"),
        F.round(F.col("p_user_id_cents_sum_7d") / 100.0, 6).alias("short_sum_7d"),
    )


def q_mixed_accuracy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part accuracy dispatch in ONE join (reference: Join.scala
    computeJoinOpt per-part topology): a TEMPORAL part (as-of 1d count)
    and a SNAPSHOT part (end-of-yesterday 7d sum) against the same left."""
    _prep(spark)
    from chronon_spark.api import Accuracy
    from chronon_spark.operators.snapshot_join import compute_join

    right_sel = {"user_id": "user_id",
                 "cents": "CAST(round(value * 100, 0) AS BIGINT)"}
    temporal_gb = GroupBy(
        sources=[EventSource(f"{sf_dir}/events.parquet",
                             Query(selects=right_sel, time_column=TS_EXPR),
                             topic="t")],
        key_columns=["user_id"],
        aggregations=[Aggregation("cents", Operation.COUNT, windows=[Window(1)])],
        name="t",
    )
    snapshot_gb = GroupBy(
        sources=[_events_source(sf_dir, right_sel)],
        key_columns=["user_id"],
        aggregations=[Aggregation("cents", Operation.SUM, windows=[Window(7)])],
        accuracy=Accuracy.SNAPSHOT,
        name="s",
    )
    join = Join(
        left=_events_source(sf_dir, {"event_id": "event_id", "user_id": "user_id"}),
        join_parts=[JoinPart(temporal_gb), JoinPart(snapshot_gb)],
        name="mixed",
    )
    out = compute_join(spark, join)
    return out.select(
        "event_id", "user_id", "ts",
        F.col("t_cents_count_1d").alias("count_1d"),
        F.round(F.col("s_cents_sum_7d") / 100.0, 6).alias("ysum_7d"),
    )


def q_cumulative_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative EventSource (thrift/api.thrift:125-128; scan semantics
    GroupBy.getIntersectedRange, GroupBy.scala:631-645): the LATEST
    partition carries full history, earlier partitions are subsets — the
    engine must scan only the latest and still match a plain aggregation
    over the full event table (double-count = scanning all partitions)."""
    _prep(spark)
    import os

    from chronon_spark.operators.groupby import compute_snapshot_groupby

    tag = os.path.basename(os.path.normpath(sf_dir))
    path = f"{FIXTURE_DIR}/cumulative_events_{tag}.parquet"
    if not os.path.exists(path):
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        day = F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd")
        early = ev.where(day <= "2024-01-15").withColumn("ds", F.lit("2024-01-15"))
        full = ev.withColumn("ds", F.lit("2024-01-30"))
        early.unionByName(full).write.parquet(path)
    src = EventSource(
        path,
        Query(selects={"user_id": "user_id",
                       "cents": "CAST(round(value * 100, 0) AS BIGINT)"},
              time_column=TS_EXPR),
        is_cumulative=True,
    )
    gb = GroupBy(
        sources=[src],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("cents", Operation.SUM, windows=[Window(7)]),
            Aggregation("cents", Operation.COUNT, windows=[None]),
        ],
        name="cum",
    )
    out = compute_snapshot_groupby(spark, gb)
    return out.select(
        "user_id", "ds",
        F.round(F.col("cents_sum_7d") / 100.0, 6).alias("sum_7d"),
        F.col("cents_count").alias("count_life"),
    )


def q_join_noagg_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-aggregation join part (reference: NoAggTest — raw dimension
    columns as-of END OF YESTERDAY with per-key carry-forward): three
    deterministic balance snapshots per customer; each event resolves the
    latest snapshot whose ds <= date(event)-1, NULL before the first."""
    _prep(spark)
    import os

    from chronon_spark.api import EntitySource
    from chronon_spark.operators.snapshot_join import compute_join

    tag = os.path.basename(os.path.normpath(sf_dir))
    path = f"{FIXTURE_DIR}/snapshots_customer_{tag}.parquet"
    if not os.path.exists(path):
        cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
        snaps = None
        for i, ds in enumerate(["2024-01-05", "2024-01-12", "2024-01-20"]):
            s = cust.selectExpr(
                "c_custkey AS cust_key",
                f"CAST(round(c_acctbal * 100, 0) AS BIGINT) + {i} AS bal_cents",
                f"'{ds}' AS ds",
            )
            snaps = s if snaps is None else snaps.unionByName(s)
        snaps.write.parquet(path)
    gb = GroupBy(
        sources=[EntitySource(path, Query())],
        key_columns=["cust_key"],
        aggregations=None,
        name="dim",
    )
    join = Join(
        left=_events_source(
            sf_dir, {"event_id": "event_id", "cust": "user_id % 1500 + 1"}
        ),
        join_parts=[JoinPart(gb, key_mapping={"cust": "cust_key"})],
        name="noagg",
    )
    out = compute_join(spark, join)
    return out.select(
        "event_id", "cust", "ts",
        F.col("dim_bal_cents").alias("bal_cents"),
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: the ngram-Jaccard pair set (same
    parameters as dedup_ngram_jaccard) -> min-label connected components
    -> canonical member per cluster. Oracle recomputes the closure with
    a recursive CTE over the identically-derived edge set."""
    _prep(spark)
    from chronon_spark.operators.dedup import (
        ngram_jaccard_pairs,
        resolve_duplicate_clusters,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=8, threshold=0.3,
                                max_df=50)
    out = resolve_duplicate_clusters(docs, pairs, "doc_id")
    return out.select("doc_id", "cluster_id", "is_canonical")


def q_analyze_join_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analyzer.analyzeJoin metadata (Analyzer.scala:160-330): feature
    name / type / op / window / input / group-by rows for a two-part
    join, derived plan-only from the confs + parquet schema. The oracle
    is the hand-written expected listing — pinning the reference's
    output-naming (k-embedding, window suffixes, prefixes) and type
    derivation rules."""
    _prep(spark)
    from chronon_spark.operators.analyzer import aggregation_metadata_df

    gb_a = GroupBy(
        sources=[_events_source(sf_dir, {"user_id": "user_id", "value": "value"})],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("value", Operation.SUM, windows=[Window(7)]),
            Aggregation("value", Operation.COUNT, windows=[None]),
            Aggregation("value", Operation.LAST_K, arg_map={"k": 5},
                        windows=[Window(7)]),
        ],
        name="user_feats",
    )
    gb_b = GroupBy(
        sources=[_events_source(
            sf_dir, {"event_type": "event_type", "value": "value"})],
        key_columns=["event_type"],
        aggregations=[
            Aggregation("value", Operation.AVERAGE, windows=[Window(30)]),
            Aggregation("value", Operation.MAX, windows=[None]),
        ],
        name="type_feats",
    )
    join = Join(
        left=_events_source(
            sf_dir,
            {"event_id": "event_id", "user_id": "user_id",
             "event_type": "event_type"},
        ),
        join_parts=[JoinPart(gb_a), JoinPart(gb_b, prefix="x")],
        name="analyzed",
    )
    return aggregation_metadata_df(spark, join)


def q_drift_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift summary (online/.../stats/DriftMetrics.scala histogram
    distances + Summarizer-style Spark tiles): JSD/PSI/Hellinger between
    the first and second half of the events range, over event_type and a
    bucketized value column (both histogram-kind — SQL-expressible; the
    percentile-kind interval-projection path is pytest-covered)."""
    _prep(spark)
    from chronon_spark.operators.drift import drift_summary_df

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .withColumn("tms", F.expr(TS_EXPR))
        .select(
            "event_type",
            F.floor(F.col("value") / 25).cast("bigint").cast("string").alias("vbucket"),
            "tms",
        )
    )
    cut = 1705363200000  # 2024-01-16 UTC
    base = ev.where(F.col("tms") < cut)
    comp = ev.where(F.col("tms") >= cut)
    out = drift_summary_df(spark, base, comp, columns=["event_type", "vbucket"])
    return _r6(out, ["score"])


def q_compare_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CompareJob analog (stats/CompareBaseJob.scala:109-190,
    CompareMetrics.scala:38-133): full-outer comparison of two derived
    event frames (right: rows dropped, values perturbed/nulled) ->
    per-column both/left/right-null, mismatch, SMAPE and exact diff
    percentiles. Exercises all three null quadrants + numeric metrics."""
    _prep(spark)
    from chronon_spark.operators.compare import compare_tables

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .withColumn("ts", F.expr(TS_EXPR))
        .select("event_id", "ts", "value", "event_type")
    )
    left = ev.where("event_id % 17 != 0")
    right = ev.where("event_id % 13 != 0").select(
        "event_id", "ts",
        F.when(F.col("event_id") % 11 == 0, None)
        .otherwise(
            F.col("value") + F.when(F.col("event_id") % 7 == 0, 1.0).otherwise(0.0)
        ).alias("value"),
        "event_type",
    )
    _, metrics = compare_tables(left, right, keys=["event_id", "ts"])
    return _r6(metrics, ["smape", "diff_p05", "diff_p50", "diff_p95"])


def q_feature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StatsCompute analog (stats/StatsCompute.scala:37-120,
    StatsGenerator.scala:35-141): per-(ds, column) null count/rate,
    unique count, and — numeric columns only — zero count, min/max/avg,
    population variance and an exact percentile profile, as one native
    groupBy + stack unpivot. Sketch metrics exact-pinned for the oracle."""
    _prep(spark)
    from chronon_spark.operators.stats import feature_stats

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .withColumn("ds", F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd"))
        .withColumn("ts", F.expr(TS_EXPR))
    )
    out = feature_stats(
        ev, keys=["event_id", "user_id"], partition_col="ds",
        percentiles=(0.05, 0.25, 0.5, 0.75, 0.95),
    )
    out = out.withColumn("total", F.col("total").cast("long"))
    out = out.withColumn("null_count", F.col("null_count").cast("long"))
    out = out.withColumn("unique_count", F.col("unique_count").cast("long"))
    out = out.withColumn("zero_count", F.col("zero_count").cast("long"))
    return _r6(out, ["null_rate", "min_value", "max_value", "avg_value",
                     "variance", "p05", "p25", "p50", "p75", "p95"])


def q_analyze_skew_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analyzer.skewKeys analog (Analyzer.scala:68-113): top-5 most
    frequent stringified values per key column, exact counts, NULLs
    bucketed under the literal 'NULL', ties broken by key_value ASC.
    One stack melt -> one shuffle for all columns."""
    _prep(spark)
    from chronon_spark.operators.stats import skew_keys

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return skew_keys(ev, ["user_id", "event_type"], k=5)


def q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) by the cross-engine
    rolling-hash bucket of doc_id — membership is a closed-form function
    of the id, reproducible by any engine (the DuckDB oracle recomputes
    every bucket). Scan-stage projection: zero shuffles."""
    _prep(spark)
    from chronon_spark.operators.sampling import hash_split

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return hash_split(
        docs, "doc_id", [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    ).select("doc_id", "bucket", "split")


def q_corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language sampling (en 50%, de 20%, fr 100%,
    zh 10%, default 25%) — the corpus-mix downsampling step, exact
    membership by hash bucket. Pure scan-stage filter."""
    _prep(spark)
    from chronon_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return stratified_sample(
        docs,
        "lang",
        {"en": 0.5, "de": 0.2, "fr": 1.0, "zh": 0.1},
        "doc_id",
        default_fraction=0.25,
    ).select("doc_id", "lang", "source")


def q_corpus_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted dataset mixing by repetition factor (the LLM 'epochs'
    recipe): short docs x2.3 (2 full copies + deterministic 30% sample),
    long docs x0.5. Union of scan-stage filters — no shuffle."""
    _prep(spark)
    from chronon_spark.operators.sampling import weighted_mix

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return weighted_mix(
        [
            ("short", docs.where(F.col("n_chars") < 300), 2.3),
            ("long", docs.where(F.col("n_chars") >= 300), 0.5),
        ],
        "doc_id",
    ).select("doc_id", "mix_source", "mix_copy")


def q_corpus_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing per language shard (budget 2000 'tokens' =
    n_chars, docs walked in id order, oversized docs isolated): one
    shuffle on the shard key + one Arrow fold per group, O(bins log docs)
    per group. The oracle replays the fold as a recursive CTE."""
    _prep(spark)
    from chronon_spark.operators.sampling import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pack_sequences(docs, "doc_id", "n_chars", 2000, key_col="lang")


def q_corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination sweep: training docs sharing >= 3 distinct
    20-char shingles with any held-out doc (doc_id % 50 = 0) are flagged.
    Eval shingle set broadcast; train side touched scan-wise once; the
    only shuffle is the per-doc overlap count. Shingle fingerprints are
    the engine's cross-engine rolling hash, so the DuckDB oracle
    recomputes the WHOLE sweep from raw text."""
    _prep(spark)
    from chronon_spark.operators.dedup import decontaminate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ev = docs.where("doc_id % 50 = 0")
    tr = docs.where("doc_id % 50 != 0")
    return decontaminate(tr, ev, "doc_id", "text", n=20, min_overlap=3).select(
        "doc_id", "eval_overlap", "contaminated"
    )


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed text-curation pipeline (text analog of
    image_curation): per-lang median quality gate -> eval-set
    decontamination (20-char shingles, >= 3 overlaps drop) -> MinHash
    near-dup clusters with min-id canonicals -> deterministic 90/5/5
    split. The oracle recomputes EVERY stage from raw text (quality
    window, shingle sweep, exact all-pairs Jaccard, recursive-CTE
    closure, hash split)."""
    _prep(spark)
    from chronon_spark.operators.corpus import curate_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return curate_corpus(
        docs.where("doc_id % 50 != 0"), docs.where("doc_id % 50 = 0")
    )


def q_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup (Lee et al. 2022): maximal per-document
    spans covered by 50-grams occurring >= 2 times corpus-wide. The
    engine marks positions by a packed 62-bit double rolling hash; the
    oracle groups by the ACTUAL substring — a hash match therefore also
    certifies the fingerprint is collision-free at gate scale."""
    _prep(spark)
    from chronon_spark.operators.dedup import duplicate_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return duplicate_spans(docs, "doc_id", "text", n=50, min_count=2)


def q_corpus_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style PII scrub cascade (email -> ip -> phone, counts taken on
    each stage's input). The oracle replays the identical regex cascade
    in RE2 — hash equality over the full redacted text pins both the
    pattern semantics and the cascade order cross-engine."""
    _prep(spark)
    from chronon_spark.operators.text import redact_pii

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return redact_pii(docs).select(
        "doc_id", "n_email", "n_ip", "n_phone", "text_redacted"
    )


def q_corpus_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition-removal signals (Rae et al. 2021 Table A1):
    per-doc repeated-n-gram character coverage (n=2..4), duplicate
    5-gram occurrence fraction, and the published-threshold flag. The
    oracle recomputes every gram count from raw text with list slices."""
    _prep(spark)
    from chronon_spark.operators.text import repetition_metrics

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return repetition_metrics(docs, "doc_id", "text")


def q_corpus_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality gate: keep documents at or above the median
    quality within their language. Quality is rounded to 6dp before
    ranking so percent_rank is identical cross-engine; the oracle
    recomputes the full quality formula AND the window from raw text."""
    _prep(spark)
    from chronon_spark.operators.text import quality_percentile_gate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return quality_percentile_gate(
        docs, "text", group_col="lang", min_percentile=0.5
    ).select("doc_id", "lang", "quality", "q_rank")


def q_corpus_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style LM quality scoring (the CCNet/KenLM-gate analog):
    fit an add-alpha unigram LM on the corpus itself, score every doc as
    bits per token. The oracle refits the model from raw text (token
    split, counts, N/V constants, smoothing) and recomputes every score —
    a hash match certifies model fit AND scoring end-to-end."""
    _prep(spark)
    from chronon_spark.operators.text import unigram_lm_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = unigram_lm_scores(docs)  # uncapped vocab: cross-engine-exact
    return out.select(
        "doc_id",
        F.col("n_lm_tokens").cast("long").alias("n_lm_tokens"),
        F.round(F.col("bits_per_token") + 1e-9, 6).alias("bits_per_token"),
    )


def q_corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget cap (the mixture-recipe knob: "at most B
    tokens of this source"): deterministic hash-order prefix per source.
    The engine runs the two-phase bucket plan (no full per-source sort);
    the oracle runs the NAIVE window-cumsum prefix rule — a hash match
    proves the scale-shaped plan computes exactly the spec."""
    _prep(spark)
    from chronon_spark.operators.sampling import token_budget_sample
    from chronon_spark.operators.text import token_count

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "n_tokens", token_count(F.col("text")).cast("long")
    )
    out = token_budget_sample(docs, 600, "n_tokens")
    return out.select("doc_id", "source", "n_tokens")


def q_corpus_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-bounded document chunking with overlap (context-window prep):
    whitespace tokens, chunk i covers [i*32, i*32+40). Zero shuffles —
    the whole op is a scan-stage posexplode. The oracle re-derives every
    chunk's text by list-slicing in DuckDB, so boundaries, overlap and
    the tail-chunk length all sit inside the value hash."""
    _prep(spark)
    from chronon_spark.operators.sampling import chunk_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = chunk_documents(docs, max_tokens=40, overlap=8)
    return out.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("n_chunk_tokens").cast("long").alias("n_chunk_tokens"),
        "chunk_text",
    )


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the daily-ingest shape: an incoming batch
    (doc_id % 10 = 0) probed against the existing corpus through banded
    MinHash signatures (index pre-computable, corpus text never re-read).
    Derived deterministic oracle: DuckDB computes ALL exact cross-pair
    Jaccards — equality asserts banding recall 1.0 at these parameters
    AND per-pair correctness."""
    _prep(spark)
    from chronon_spark.operators.dedup import minhash_lsh_pairs_incremental

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_lsh_pairs_incremental(
        docs.where("doc_id % 10 = 0"),
        docs.where("doc_id % 10 != 0"),
        "doc_id", "text", n=8, threshold=0.3,
    )


# ---------------------------------------------------------------------------
# composite suites
#
# The driver's correctness gate records the FIRST 50 entries of queries() in
# registry order; the registry grew past that in round 3, leaving whole
# operator families (join variants, corpus curation, observability) without a
# driver row.  Each suite below tag-unions several already-green granular
# query/oracle pairs into ONE gate row: every granular column `c` of part `p`
# becomes `p__c`, rows are unioned by name with NULL padding (Spark
# unionByName(allowMissingColumns=True) == DuckDB UNION ALL BY NAME), so the
# suite hash-matches iff every member hash-matches.  The granular entries stay
# registered after position 50 — tools/check_oracle.py still validates each
# one individually.
# ---------------------------------------------------------------------------

_COMPOSITE_SPECS: dict[str, list[str]] = {
    "scan_dsl_setups": ["scan_query_dsl", "scan_udf_setups"],
    "groupby_snapshot_suite": [
        "groupby_snapshot_windows",
        "groupby_snapshot_moments",
        "groupby_snapshot_distinct_firstlast",
    ],
    "groupby_snapshot_rank": [
        "groupby_snapshot_percentile",
        "groupby_snapshot_histogram",
        "groupby_snapshot_topk",
        "groupby_approx_unique",
        "groupby_frequent_k",
        "groupby_unique_topk_struct",
    ],
    "temporal_rank_suite": [
        "temporal_lastk",
        "temporal_topk",
        "temporal_histogram",
        "temporal_percentile",
    ],
    "staging_suite": [
        "staging_query",
        "staging_orders_summary",
        "staging_revenue_by_nation",
    ],
    "join_variants_suite": [
        "temporal_join_salted",
        "temporal_join_smallmode",
        "temporal_join_midsize",
        "temporal_join_skewfilter",
        "temporal_join_composite",
        "join_long_names",
        "join_noagg_passthrough",
        "join_derivations",
    ],
    "observability_suite": [
        "feature_stats",
        "analyze_skew_keys",
        "compare_tables",
        "drift_metrics",
        "analyze_join_schema",
    ],
    "corpus_sampling_suite": [
        "corpus_split",
        "corpus_stratified_sample",
        "corpus_weighted_mix",
        "corpus_pack",
        "corpus_token_budget",
        "corpus_chunk",
        "corpus_bpe",
    ],
    "corpus_filters_suite": [
        "corpus_quality_gate",
        "corpus_repetition",
        "corpus_redact_pii",
        "corpus_decontaminate",
        "corpus_lm_score",
    ],
    "dedup_incremental_suite": ["dedup_incremental", "image_phash_incremental"],
    "image_decode_suite": ["image_pixel_features", "image_real_decode",
                           "image_exif_scrub", "image_quality_gate",
                           "image_exif_dedup", "image_letterbox"],
    # synthetic pcm16 sidecar contract + the real WAV/RIFF encoding matrix
    "audio_suite": ["audio_clip_features", "audio_real_decode"],
    # synthetic vraw sidecar contract + real animated-GIF frame decode
    "video_suite": ["video_frame_features", "video_real_decode"],
    "sources_suite": ["cumulative_source", "groupby_multisource_union"],
    "wire_formats_suite": [
        "iceberg_scan",
        "delta_scan",
        "catalog_table_scan",
        "catalog_clustered_compact",
    ],
    # streaming surface: custom stateful IRs + native tumbling windows +
    # native session windows, all availableNow replays of the events table
    "streaming_suite": [
        "stream_stateful_features",
        "stream_windowed_counts",
        "stream_session_windows",
        "stream_dedup",
    ],
    # mutation replay: kernel-direct scenario + the EntitySource scan path
    # with renamed mutationTimeColumn/reversalColumn expressions
    "mutations_suite": [
        "temporal_entity_mutations",
        "mutations_custom_cols",
    ],
    # the north rule's literal sentence in one row: as-of image+caption
    # features over a plain path AND over real Iceberg metadata
    "image_asof_suite": ["image_asof_features", "image_asof_iceberg"],
    # persistable sketch IRs, both wire formats the reference uploads
    # (KLL doubles + frequency ItemsSketch)
    "sketch_ir_suite": ["sketch_ir_quantiles", "sketch_ir_frequent",
                        "sketch_ir_cpc"],
}

# Output columns of every granular query a suite unions (bool columns are
# CAST to BIGINT on both sides: NULL-padded pandas booleans normalize
# differently per engine).  Kept in sync with the granular projections above;
# tools/check_oracle.py fails loudly on drift (column sets are compared).
_QCOLS: dict[str, list[str]] = {
    "scan_query_dsl": ["event_id", "user_id", "ts", "value_cents"],
    "cumulative_source": ["user_id", "ds", "sum_7d", "count_life"],
    "groupby_multisource_union": ["user_id", "ds", "sum_7d", "count_life"],
    "iceberg_scan": ["version", "ds", "n_rows", "cents_total"],
    "delta_scan": ["version", "ds", "n_rows", "cents_total"],
    "catalog_table_scan": ["version", "ds", "n_rows", "cents_total"],
    "catalog_clustered_compact": ["version", "ds", "n_rows", "cents_total"],
    "stream_stateful_features": [
        "user_id", "n_events", "cents_sum", "cents_last", "last5",
    ],
    "stream_windowed_counts": [
        "user_id", "window_start", "window_end", "n_events", "cents_sum",
        "cents_min", "cents_max",
    ],
    "stream_session_windows": [
        "user_id", "window_start", "window_end", "n_events",
        "session_start", "session_end",
    ],
    "stream_dedup": ["fp", "first_id", "first_ts", "n_seen"],
    "temporal_entity_mutations": [
        "user_id", "ts", "ent_sum_7d", "ent_count", "ent_avg_7d",
        "ent_min_7d", "ent_uniq_7d",
    ],
    "mutations_custom_cols": ["user_id", "ts", "ent_sum_7d", "ent_count"],
    "temporal_join_composite": [
        "event_id", "user_id", "slot", "ts", "count_1d", "count_life", "sum_7d",
    ],
    "join_long_names": [
        "event_id", "user_id", "ts", "long_count_1d", "long_count_life",
        "long_sum_7d", "short_count_1d", "short_count_life", "short_sum_7d",
    ],
    "image_asof_features": [
        "image_id", "phash", "ts", "captures_1d", "captures_life",
        "last_caption", "max_caption_len",
    ],
    "image_asof_iceberg": [
        "image_id", "phash", "ts", "captures_1d", "captures_life",
        "last_caption", "max_caption_len",
    ],
    "sketch_ir_quantiles": ["user_id", "p50", "p90"],
    "sketch_ir_frequent": ["user_id", "item", "estimate"],
    "sketch_ir_cpc": ["k", "exact_uniques", "within_5pct",
                      "wire_identical", "lib_reads_ours"],
    "scan_udf_setups": ["event_id", "usd", "tier"],
    "groupby_snapshot_windows": [
        "user_id", "ds", "value_sum_7d", "value_sum", "value_count_7d",
        "value_average_7d", "value_min_7d", "value_max_7d",
    ],
    "groupby_snapshot_moments": [
        "user_id", "ds", "value_variance_7d", "value_skew_7d",
        "value_kurtosis_7d",
    ],
    "groupby_snapshot_distinct_firstlast": [
        "user_id", "ds", "event_type_unique_count_3d", "value_first_7d",
        "value_last_7d",
    ],
    "groupby_snapshot_percentile": ["user_id", "ds", "p50_3d", "p90_3d"],
    "groupby_snapshot_histogram": ["user_id", "ds", "uniq_3d", "etype", "cnt"],
    "groupby_snapshot_topk": ["user_id", "ds", "top3", "bottom3", "utop3"],
    "groupby_approx_unique": ["user_id", "ds", "approx_uniq_7d"],
    "groupby_frequent_k": ["user_id", "ds", "freq2", "hh2"],
    "groupby_unique_topk_struct": ["user_id", "ds", "utk3"],
    "temporal_lastk": ["event_id", "user_id", "ts", "last3_types"],
    "temporal_topk": ["event_id", "user_id", "ts", "top3_cents"],
    "temporal_histogram": ["event_id", "user_id", "ts", "etype", "cnt"],
    "temporal_percentile": ["event_id", "user_id", "ts", "p50_7d", "p95_7d"],
    "staging_query": [
        "l_returnflag", "l_linestatus", "sum_qty", "sum_disc_price",
        "avg_price", "count_order",
    ],
    "staging_orders_summary": [
        "priority", "status", "n_orders", "n_custs", "total_price",
    ],
    "staging_revenue_by_nation": ["nation", "revenue", "n_items"],
    "temporal_join_salted": [
        "event_id", "user_id", "ts", "count_1d", "count_life", "sum_7d",
    ],
    "temporal_join_smallmode": [
        "event_id", "user_id", "ts", "count_1d", "count_life", "sum_7d",
    ],
    "temporal_join_midsize": [
        "event_id", "user_id", "ts", "count_1d", "count_life", "sum_7d",
    ],
    "temporal_join_skewfilter": [
        "event_id", "user_id", "ts", "count_1d", "count_life", "sum_7d",
    ],
    "join_noagg_passthrough": ["event_id", "cust", "ts", "bal_cents"],
    "join_derivations": [
        "event_id", "user_id", "ts", "count_1d", "lifetime_count", "usd_7d",
        "spend_rate_1d",
    ],
    "feature_stats": [
        "ds", "column", "total", "null_count", "null_rate", "unique_count",
        "zero_count", "min_value", "max_value", "avg_value", "variance",
        "p05", "p25", "p50", "p75", "p95",
    ],
    "analyze_skew_keys": ["col_name", "key_value", "cnt"],
    "compare_tables": [
        "column", "total", "both_null", "left_null", "right_null",
        "mismatch", "smape", "diff_p05", "diff_p50", "diff_p95",
    ],
    "drift_metrics": ["column", "kind", "metric", "score", "severity"],
    "analyze_join_schema": [
        "name", "column_type", "operation", "window", "input_column",
        "group_by",
    ],
    "corpus_split": ["doc_id", "bucket", "split"],
    "corpus_stratified_sample": ["doc_id", "lang", "source"],
    "corpus_weighted_mix": ["doc_id", "mix_source", "mix_copy"],
    "corpus_pack": ["pack_key", "id", "tokens", "bin"],
    "corpus_quality_gate": ["doc_id", "lang", "quality", "q_rank"],
    "corpus_lm_score": ["doc_id", "n_lm_tokens", "bits_per_token"],
    "corpus_token_budget": ["doc_id", "source", "n_tokens"],
    "corpus_chunk": ["doc_id", "chunk_idx", "n_chunk_tokens", "chunk_text"],
    "corpus_repetition": [
        "doc_id", "top2_char_frac", "top3_char_frac", "top4_char_frac",
        "dup5_frac", "repetitive",
    ],
    "corpus_redact_pii": [
        "doc_id", "n_email", "n_ip", "n_phone", "text_redacted",
    ],
    "corpus_decontaminate": ["doc_id", "eval_overlap", "contaminated"],
    "dedup_incremental": ["new_id", "corpus_id", "jaccard"],
    "image_pixel_features": [
        "image_id", "phash_match", "aspect", "caption_tokens", "fmt",
    ],
    "image_real_decode": [
        "image_id", "phash_match", "brightness_match", "psnr_ok", "fmt",
    ],
    "image_exif_scrub": [
        "image_id", "parse_ok", "has_exif", "orientation", "make",
        "artist", "gps_lat", "gps_lon", "txt_chunks", "gps_after",
        "make_after", "clean_exif", "clean_txt", "pix_ok", "fmt",
    ],
    "image_quality_gate": [
        "image_id", "fmt", "laplacian_var", "entropy_bits",
        "colorfulness", "saturation", "clip_frac", "decode_ok", "keep",
    ],
    "image_letterbox": [
        "image_id", "src_fmt", "scale", "pad_x", "pad_y", "out_ok",
        "pad_ok", "ident_md5",
    ],
    "corpus_bpe": ["doc_id", "n_tokens", "tokens_joined"],
    "image_exif_dedup": ["image_id", "meta_key", "dup_count"],
    "image_phash_incremental": ["new_id", "corpus_id", "hamming"],
    "audio_clip_features": [
        "audio_id", "rms", "zcr", "centroid_hz", "duration_s", "decode_ok",
    ],
    "video_frame_features": [
        "video_id", "phash_match", "n_frames_read", "brightness",
        "motion_energy",
    ],
    "video_real_decode": [
        "video_id", "layout", "phash_match", "n_frames_read", "brightness",
        "motion_energy", "decode_ok",
    ],
    "audio_real_decode": [
        "audio_id", "enc", "rms", "zcr", "centroid_hz", "duration_s",
        "decode_ok",
    ],
}

_BOOL_COLS: dict[str, set[str]] = {
    "image_pixel_features": {"phash_match"},
    "audio_clip_features": {"decode_ok"},
    "audio_real_decode": {"decode_ok"},
    "video_frame_features": {"phash_match"},
    "video_real_decode": {"phash_match", "decode_ok"},
    "image_real_decode": {"phash_match", "brightness_match", "psnr_ok"},
    "image_exif_scrub": {"parse_ok", "has_exif", "gps_after", "clean_exif",
                         "pix_ok"},
    "image_quality_gate": {"decode_ok", "keep"},
    "image_letterbox": {"out_ok", "pad_ok"},
    "corpus_repetition": {"repetitive"},
    "sketch_ir_cpc": {"within_5pct", "wire_identical", "lib_reads_ours"},
    "corpus_decontaminate": {"contaminated"},
}


def _composite_sql(base: dict[str, str], spec: list[str]) -> str:
    """UNION ALL BY NAME over the members' oracle SQL, columns tag-prefixed."""
    selects = []
    for name in spec:
        bools = _BOOL_COLS.get(name, set())
        proj = ", ".join(
            f'CAST("{c}" AS BIGINT) AS "{name}__{c}"' if c in bools
            else f'"{c}" AS "{name}__{c}"'
            for c in _QCOLS[name]
        )
        selects.append(f"SELECT {proj} FROM ({base[name]})")
    return "\nUNION ALL BY NAME\n".join(selects)


def _composite_df(parts: list[tuple[str, DataFrame]]) -> DataFrame:
    dfs = []
    for name, df in parts:
        cols = []
        for fld in df.schema.fields:
            c = F.col(fld.name)
            if fld.dataType.simpleString() == "boolean":
                c = c.cast("long")
            cols.append(c.alias(f"{name}__{fld.name}"))
        dfs.append(df.select(cols))
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def _make_composite(spec: list[str]) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        granular = _granular_queries()
        return _composite_df([(n, granular[n](spark, sf_dir)) for n in spec])

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry, ordered so the driver's 50-row gate window covers every
    SURVEY.md §2 family and every LLM-pipeline operator: composite suites
    stand in for their members inside the window; the granular members
    follow after position 50 for local-gate coverage."""
    granular = _granular_queries()
    suites = {n: _make_composite(s) for n, s in _COMPOSITE_SPECS.items()}
    in_suite = {m for spec in _COMPOSITE_SPECS.values() for m in spec}
    window = [
        # scans / sources
        "scan_dsl_setups",
        "sources_suite",
        "wire_formats_suite",
        # snapshot groupby
        "groupby_snapshot_suite",
        "groupby_snapshot_rank",
        "groupby_bucketed",
        "groupby_autoexplode",
        "groupby_mapcol",
        "entity_groupby",
        # temporal
        "temporal_join_asof",
        "temporal_rank_suite",
        "mutations_suite",
        "temporal_groupby_self",
        # joins
        "snapshot_join_yesterday",
        "join_variants_suite",
        "mixed_accuracy_join",
        "joinsource_chained",
        "bootstrap_covered",
        # analytics
        "sessionize",
        "lag_lead",
        # staging / orchestration
        "staging_suite",
        "staging_recompute",
        "backfill_resume",
        "incremental_refresh",
        "partition_stats",
        "sketch_ir_suite",
        "model_transform_score",
        # streaming
        "streaming_suite",
        # observability
        "observability_suite",
        # text / corpus pipeline
        "text_features",
        "corpus_filters_suite",
        "corpus_sampling_suite",
        "corpus_curation",
        # dedup family
        "dedup_exact",
        "dedup_ngram_jaccard",
        "dedup_minhash",
        "dedup_simhash",
        "dedup_substring_spans",
        "dedup_clusters",
        "dedup_incremental_suite",
        # embeddings / ANN
        "embedding_topk",
        "embedding_lsh_topk",
        "embedding_neardup",
        "embedding_ivf_topk",
        # multimodal
        "image_decode_suite",
        "image_asof_suite",
        "image_phash_neardup",
        "image_curation",
        "video_suite",
        "audio_suite",
    ]
    assert len(window) == 50, len(window)
    merged = {**granular, **suites}
    out = {n: merged[n] for n in window}
    for n, fn in granular.items():
        if n not in out:
            out[n] = fn
    return out


def _granular_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "scan_query_dsl": q_scan_query_dsl,
        "scan_udf_setups": q_scan_udf_setups,
        "groupby_snapshot_windows": q_groupby_snapshot_windows,
        "groupby_snapshot_moments": q_groupby_snapshot_moments,
        "groupby_snapshot_distinct_firstlast": q_groupby_snapshot_distinct_firstlast,
        "temporal_join_asof": q_temporal_join_asof,
        "temporal_lastk": q_temporal_lastk,
        "sessionize": q_sessionize,
        "lag_lead": q_lag_lead,
        "staging_query": q_staging_query,
        "text_features": q_text_features,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash": q_dedup_minhash,
        "dedup_simhash": q_dedup_simhash,
        "embedding_topk": q_embedding_topk,
        "embedding_lsh_topk": q_embedding_lsh_topk,
        "embedding_neardup": q_embedding_neardup,
        "embedding_ivf_topk": q_embedding_ivf_topk,
        "image_pixel_features": q_image_pixel_features,
        "image_real_decode": q_image_real_decode,
        "image_exif_scrub": q_image_exif_scrub,
        "image_quality_gate": q_image_quality_gate,
        "image_letterbox": q_image_letterbox,
        "corpus_bpe": q_corpus_bpe,
        "image_exif_dedup": q_image_exif_dedup,
        "image_asof_features": q_image_asof_features,
        "image_asof_iceberg": q_image_asof_iceberg,
        "image_phash_neardup": q_image_phash_neardup,
        "image_curation": q_image_curation,
        "video_frame_features": q_video_frame_features,
        "video_real_decode": q_video_real_decode,
        "audio_clip_features": q_audio_clip_features,
        "audio_real_decode": q_audio_real_decode,
        "stream_stateful_features": q_stream_stateful,
        "stream_dedup": q_stream_dedup,
        "stream_windowed_counts": q_stream_windowed_counts,
        "stream_session_windows": q_stream_session_windows,
        "snapshot_join_yesterday": q_snapshot_join_yesterday,
        "groupby_bucketed": q_groupby_bucketed,
        "groupby_autoexplode": q_groupby_autoexplode,
        "temporal_percentile": q_temporal_percentile,
        "entity_groupby": q_entity_groupby,
        "staging_orders_summary": q_staging_orders_summary,
        "staging_revenue_by_nation": q_staging_revenue_by_nation,
        "temporal_histogram": q_temporal_histogram,
        "temporal_topk": q_temporal_topk,
        "temporal_entity_mutations": q_temporal_entity_mutations,
        "mutations_custom_cols": q_mutations_custom_cols,
        "temporal_groupby_self": q_temporal_groupby_self,
        "groupby_snapshot_percentile": q_groupby_snapshot_percentile,
        "groupby_snapshot_histogram": q_groupby_snapshot_histogram,
        "groupby_snapshot_topk": q_groupby_snapshot_topk,
        "groupby_mapcol": q_groupby_mapcol,
        "backfill_resume": q_backfill_resume,
        "incremental_refresh": q_incremental_refresh,
        "partition_stats": q_partition_stats,
        "groupby_approx_unique": q_groupby_approx_unique,
        "bootstrap_covered": q_bootstrap_covered,
        "groupby_frequent_k": q_groupby_frequent_k,
        "groupby_unique_topk_struct": q_groupby_unique_topk_struct,
        "model_transform_score": q_model_transform_score,
        "sketch_ir_quantiles": q_sketch_ir_quantiles,
        "sketch_ir_frequent": q_sketch_ir_frequent,
        "sketch_ir_cpc": q_sketch_ir_cpc,
        "groupby_multisource_union": q_groupby_multisource_union,
        "joinsource_chained": q_joinsource_chained,
        "temporal_join_salted": q_temporal_join_salted,
        "join_derivations": q_join_derivations,
        "temporal_join_smallmode": q_temporal_join_smallmode,
        "temporal_join_midsize": q_temporal_join_midsize,
        "temporal_join_skewfilter": q_temporal_join_skewfilter,
        "temporal_join_composite": q_temporal_join_composite,
        "join_long_names": q_join_long_names,
        "mixed_accuracy_join": q_mixed_accuracy_join,
        "cumulative_source": q_cumulative_source,
        "iceberg_scan": q_iceberg_scan,
        "delta_scan": q_delta_scan,
        "catalog_table_scan": q_catalog_table_scan,
        "catalog_clustered_compact": q_catalog_clustered_compact,
        "join_noagg_passthrough": q_join_noagg_passthrough,
        "feature_stats": q_feature_stats,
        "analyze_skew_keys": q_analyze_skew_keys,
        "corpus_split": q_corpus_split,
        "dedup_incremental": q_dedup_incremental,
        "image_phash_incremental": q_image_phash_incremental,
        "corpus_quality_gate": q_corpus_quality_gate,
        "corpus_lm_score": q_corpus_lm_score,
        "corpus_token_budget": q_corpus_token_budget,
        "corpus_chunk": q_corpus_chunk,
        "corpus_curation": q_corpus_curation,
        "staging_recompute": q_staging_recompute,
        "dedup_substring_spans": q_dedup_substring_spans,
        "corpus_repetition": q_corpus_repetition,
        "corpus_redact_pii": q_corpus_redact_pii,
        "corpus_stratified_sample": q_corpus_stratified_sample,
        "corpus_weighted_mix": q_corpus_weighted_mix,
        "corpus_pack": q_corpus_pack,
        "corpus_decontaminate": q_corpus_decontaminate,
        "compare_tables": q_compare_tables,
        "drift_metrics": q_drift_metrics,
        "analyze_join_schema": q_analyze_join_schema,
        "dedup_clusters": q_dedup_clusters,
    }


# ---------------------------------------------------------------------------
# oracles (DuckDB dialect)
# ---------------------------------------------------------------------------
# shared oracle for iceberg_scan / delta_scan: recompute the warehouse's
# two-commit history (full events; day 2024-01-05 overwritten with even
# users x3) straight from raw events
_WIRE_FORMAT_ORACLE = """
    WITH e AS (SELECT user_id, CAST(round(value * 100, 0) AS BIGINT) AS cents,
                      strftime(ts, '%Y-%m-%d') AS ds FROM events),
    mut AS (SELECT user_id, cents * 3 AS cents, ds FROM e
            WHERE ds = '2024-01-05' AND user_id % 2 = 0),
    cur AS (SELECT * FROM e WHERE ds <> '2024-01-05'
            UNION ALL SELECT * FROM mut)
    SELECT 'current' AS version, ds, COUNT(*) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS cents_total
    FROM cur GROUP BY ds
    UNION ALL
    SELECT 'v1' AS version, ds, COUNT(*) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS cents_total
    FROM e GROUP BY ds
    UNION ALL
    SELECT 'inc' AS version, ds, COUNT(*) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS cents_total
    FROM mut GROUP BY ds
"""

# shared oracle for image_asof_features / image_asof_iceberg: the same
# point-in-time sweep over the raw fixture rows, regardless of which
# table format planned the engine's scan
_IMAGE_ASOF_ORACLE = f"""
    WITH img AS (
      SELECT image_id, phash, caption,
             CAST(length(caption) AS BIGINT) AS caption_len, ts
      FROM '{_FIXTURE_PATH}'
    )
    SELECT l.image_id, l.phash, l.ts,
           COUNT(CASE WHEN e.ts >= ((l.ts - {DAY}) // {HOUR}) * {HOUR}
                      THEN e.caption END) AS captures_1d,
           COUNT(e.caption) AS captures_life,
           ARG_MAX(e.caption, e.ts) AS last_caption,
           MAX(e.caption_len) AS max_caption_len
    FROM img l LEFT JOIN img e ON l.phash = e.phash AND e.ts <= l.ts
    GROUP BY 1, 2, 3
"""

_SNAP_DAYS = (
    "days AS (SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS ds FROM events)"
)
_EOD = "(CAST(epoch(CAST(d.ds AS DATE)) AS BIGINT) * 1000 + 86400000)"  # end-of-day ms


def _snap_window(n_days: int) -> str:
    """events in the N-day window ending at end of day ds."""
    return (
        f"epoch_ms(e.ts) >= {_EOD} - {n_days * DAY} AND epoch_ms(e.ts) < {_EOD}"
    )


def oracle_sql() -> dict[str, str]:
    base = _oracle_sql_granular()
    for name, spec in _COMPOSITE_SPECS.items():
        if all(part in base for part in spec):
            base[name] = _composite_sql(base, spec)
    return base


def _oracle_sql_granular() -> dict[str, str]:
    _image_fixture_path()  # the image oracles read the fixture parquet
    _real_image_fixture_path()  # ditto the real-codec (png/jpeg) fixture
    _exif_fixture_path()  # ditto the EXIF-metadata fixture
    _quality_fixture_path()  # ditto the quality-metric fixture
    _bpe_fixture_path()  # ditto the BPE-tokenizer fixture
    _video_fixture_path()  # ditto video
    _audio_fixture_path()  # ditto audio
    _audio_real_fixture_path()  # ditto the real-codec (wav) audio fixture
    _video_real_fixture_path()  # ditto the real-codec (gif) video fixture
    return {
        "scan_query_dsl": """
            SELECT event_id, user_id, epoch_ms(ts) AS ts,
                   CAST(round(value * 100, 0) AS BIGINT) AS value_cents
            FROM events
            WHERE event_type IN ('click', 'purchase') AND value > 1.0
        """,
        # the SQL UDFs from Query.setups, inlined
        "scan_udf_setups": """
            SELECT event_id,
                   ROUND(CAST(round(value * 100, 0) AS BIGINT) / 100.0 + 1e-9, 6) AS usd,
                   CASE WHEN value >= 7.5 THEN 'high'
                        WHEN value >= 2.5 THEN 'mid' ELSE 'low' END AS tier
            FROM events
            WHERE event_type = 'purchase'
        """,
        "temporal_groupby_self": f"""
            WITH e AS (SELECT user_id, epoch_ms(ts) AS ts,
                              CAST(round(value * 100, 0) AS BIGINT) AS cents
                       FROM events),
            l AS (SELECT DISTINCT user_id, ts FROM e),
            j AS (
              SELECT l.user_id, l.ts, r.ts AS rts, r.cents
              FROM l JOIN e r ON r.user_id = l.user_id AND r.ts <= l.ts
            )
            SELECT user_id, ts,
                   strftime(make_timestamp(ts * 1000), '%Y-%m-%d') AS ds,
                   COUNT(CASE WHEN rts >= (ts - {7 * DAY}) - ((ts - {7 * DAY}) % {HOUR})
                              THEN cents END) AS n_7d,
                   ROUND(SUM(cents) / 100.0, 6) AS sum_life,
                   ROUND(SUM(CASE WHEN rts >= (ts - {3 * DAY}) - ((ts - {3 * DAY}) % {HOUR})
                                  THEN cents END)
                         / CAST(COUNT(CASE WHEN rts >= (ts - {3 * DAY}) - ((ts - {3 * DAY}) % {HOUR})
                                           THEN cents END) AS DOUBLE)
                         / 100.0 + 1e-9, 6) AS avg_3d
            FROM j GROUP BY user_id, ts
        """,
        "groupby_snapshot_percentile": f"""
            WITH {_SNAP_DAYS},
            ec AS (SELECT user_id, ts, CAST(round(value * 100, 0) AS BIGINT) AS cents
                   FROM events),
            j AS (
              SELECT d.user_id, d.ds,
                     list_sort(list(e.cents) FILTER (WHERE {_snap_window(3)})) AS vals
              FROM days d JOIN ec e ON d.user_id = e.user_id
              GROUP BY d.user_id, d.ds
            )
            SELECT user_id, ds,
                   ROUND(vals[GREATEST(1, CAST(CEIL(0.5 * len(vals)) AS BIGINT))] / 100.0, 6)
                       AS p50_3d,
                   ROUND(vals[GREATEST(1, CAST(CEIL(0.9 * len(vals)) AS BIGINT))] / 100.0, 6)
                       AS p90_3d
            FROM j
        """,
        "groupby_snapshot_histogram": f"""
            WITH {_SNAP_DAYS},
            j AS (
              SELECT d.user_id, d.ds, e.event_type AS etype,
                     COUNT(*) AS cnt
              FROM days d JOIN events e ON d.user_id = e.user_id AND {_snap_window(3)}
              GROUP BY d.user_id, d.ds, e.event_type
            ),
            u AS (SELECT user_id, ds, COUNT(*) AS uniq FROM j GROUP BY user_id, ds)
            SELECT j.user_id, j.ds, u.uniq AS uniq_3d, j.etype, j.cnt
            FROM j JOIN u ON j.user_id = u.user_id AND j.ds = u.ds
        """,
        "groupby_snapshot_topk": f"""
            WITH {_SNAP_DAYS},
            ec AS (SELECT user_id, ts, CAST(round(value * 100, 0) AS BIGINT) AS cents
                   FROM events),
            j AS (
              SELECT d.user_id, d.ds,
                     list(e.cents) FILTER (WHERE {_snap_window(7)}) AS vals,
                     list(DISTINCT e.cents) FILTER (WHERE {_snap_window(7)}) AS dvals
              FROM days d JOIN ec e ON d.user_id = e.user_id
              GROUP BY d.user_id, d.ds
            )
            SELECT user_id, ds,
                   array_to_string(list_sort(vals, 'DESC')[1:3], ',') AS top3,
                   array_to_string(list_sort(vals, 'ASC')[1:3], ',') AS bottom3,
                   array_to_string(list_sort(dvals, 'DESC')[1:3], ',') AS utop3
            FROM j
        """,
        "groupby_mapcol": f"""
            WITH {_SNAP_DAYS},
            ec AS (SELECT user_id, ts, event_type,
                          CAST(round(value * 100, 0) AS BIGINT) AS cents
                   FROM events),
            j AS (
              SELECT d.user_id, d.ds, e.event_type AS etype,
                     SUM(CASE WHEN {_snap_window(3)} THEN e.cents END) AS s
              FROM days d JOIN ec e ON d.user_id = e.user_id
              GROUP BY d.user_id, d.ds, e.event_type
            )
            SELECT user_id, ds, etype, ROUND(s / 100.0, 6) AS etype_sum
            FROM j WHERE s IS NOT NULL
        """,
        "backfill_resume": f"""
            WITH ec AS (SELECT user_id, ts, strftime(ts, '%Y-%m-%d') AS ds,
                               CAST(round(value * 100, 0) AS BIGINT) AS cents
                        FROM events),
            days AS (SELECT DISTINCT user_id, ds FROM ec
                     WHERE ds BETWEEN '2024-01-03' AND '2024-01-08'),
            per AS (
              SELECT d.user_id, d.ds,
                     SUM(CASE WHEN {_snap_window(7)} THEN e.cents END) AS s
              FROM days d JOIN ec e ON d.user_id = e.user_id
              GROUP BY d.user_id, d.ds
            )
            SELECT ds, COUNT(*) AS n_keys, ROUND(SUM(s) / 100.0, 6) AS total_sum_7d
            FROM per GROUP BY ds
        """,
        "incremental_refresh": f"""
            WITH ec0 AS (SELECT user_id, epoch_ms(ts) AS ets,
                                strftime(ts, '%Y-%m-%d') AS ds,
                                CAST(round(value * 100, 0) AS BIGINT) AS cents
                         FROM events),
            ec AS (
              SELECT user_id, ets, ds, cents FROM ec0 WHERE ds <> '2024-01-05'
              UNION ALL
              SELECT user_id, ets, ds, cents * 3 FROM ec0
              WHERE ds = '2024-01-05' AND user_id % 2 = 0
            ),
            days AS (SELECT DISTINCT user_id, ds FROM ec
                     WHERE ds BETWEEN '2024-01-03' AND '2024-01-10'),
            per AS (
              SELECT d.user_id, d.ds,
                     SUM(CASE WHEN e.ets >= {_EOD} - {7 * DAY}
                              AND e.ets < {_EOD} THEN e.cents END) AS s
              FROM days d JOIN ec e ON d.user_id = e.user_id
              GROUP BY d.user_id, d.ds
            )
            SELECT ds, COUNT(*) AS n_keys, ROUND(SUM(s) / 100.0, 6) AS total_sum_7d
            FROM per GROUP BY ds
        """,
        "partition_stats": """
            WITH ev AS (SELECT user_id,
                               CASE WHEN user_id % 7 = 0 THEN NULL
                                    ELSE CAST(round(value * 100, 0) AS BIGINT)
                               END AS cents,
                               strftime(ts, '%Y-%m-%d') AS ds
                        FROM events)
            SELECT ds, 'user_id' AS "column",
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(0 AS BIGINT) AS n_nulls,
                   CAST(MIN(user_id) AS DOUBLE) AS min_num,
                   CAST(MAX(user_id) AS DOUBLE) AS max_num
            FROM ev GROUP BY ds
            UNION ALL
            SELECT ds, 'cents' AS "column",
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CASE WHEN cents IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_nulls,
                   CAST(MIN(cents) AS DOUBLE) AS min_num,
                   CAST(MAX(cents) AS DOUBLE) AS max_num
            FROM ev GROUP BY ds
        """,
        "groupby_approx_unique": f"""
            WITH {_SNAP_DAYS}
            SELECT d.user_id, d.ds,
                   COUNT(DISTINCT CASE WHEN {_snap_window(7)} THEN e.event_type END)
                       AS approx_uniq_7d
            FROM days d JOIN events e ON d.user_id = e.user_id
            GROUP BY d.user_id, d.ds
        """,
        # closed-form point-in-time replay: a row is visible at T iff it was
        # inserted before T and not deleted before T; its value is the
        # updated one iff u_ts < T. Mutation replay of EOD snapshots reduces
        # to exactly this because update/delete cohorts are disjoint and
        # every image's mutation day is tagged from mutation_ts.
        "temporal_entity_mutations": f"""
            WITH ev AS (
              SELECT event_id, user_id, epoch_ms(ts) AS ts,
                     CAST(round(value * 100, 0) AS BIGINT) AS cents
              FROM events
            ), base AS (
              SELECT *,
                     CASE WHEN cents % 10 < 3 THEN ts + {6 * HOUR} END AS u_ts,
                     CASE WHEN cents % 10 IN (3, 4) THEN ts + {36 * HOUR} END AS d_ts
              FROM ev
            ), l AS (
              SELECT DISTINCT user_id, ts FROM ev
              WHERE ts >= {_MUT_Q0} AND ts < {_MUT_Q1}
            ), j AS (
              SELECT l.user_id, l.ts,
                     CASE WHEN b.u_ts IS NOT NULL AND b.u_ts < l.ts
                          THEN b.cents + 5000 ELSE b.cents END AS v,
                     b.ts >= (l.ts - {7 * DAY}) - ((l.ts - {7 * DAY}) % {HOUR})
                         AND b.ts < l.ts AS in7
              FROM l LEFT JOIN base b
                ON b.user_id = l.user_id AND b.ts < l.ts
               AND NOT (b.d_ts IS NOT NULL AND b.d_ts < l.ts)
            )
            SELECT user_id, ts,
                   ROUND(SUM(CASE WHEN in7 THEN v END) / 100.0, 6) AS ent_sum_7d,
                   COUNT(v) AS ent_count,
                   ROUND(SUM(CASE WHEN in7 THEN v END)
                         / CAST(COUNT(CASE WHEN in7 THEN v END) AS DOUBLE)
                         / 100.0 + 1e-9, 6) AS ent_avg_7d,
                   ROUND(MIN(CASE WHEN in7 THEN v END) / 100.0, 6) AS ent_min_7d,
                   COUNT(DISTINCT CASE WHEN in7 THEN v END) AS ent_uniq_7d
            FROM j GROUP BY user_id, ts
        """,
        # same closed-form replay as temporal_entity_mutations (the renamed
        # commit_ms / NOT is_after metadata columns must be transparent)
        "mutations_custom_cols": f"""
            WITH ev AS (
              SELECT event_id, user_id, epoch_ms(ts) AS ts,
                     CAST(round(value * 100, 0) AS BIGINT) AS cents
              FROM events
            ), base AS (
              SELECT *,
                     CASE WHEN cents % 10 < 3 THEN ts + {6 * HOUR} END AS u_ts,
                     CASE WHEN cents % 10 IN (3, 4) THEN ts + {36 * HOUR} END AS d_ts
              FROM ev
            ), l AS (
              SELECT DISTINCT user_id, ts FROM ev
              WHERE ts >= {_MUT_Q0} AND ts < {_MUT_Q1}
            ), j AS (
              SELECT l.user_id, l.ts,
                     CASE WHEN b.u_ts IS NOT NULL AND b.u_ts < l.ts
                          THEN b.cents + 5000 ELSE b.cents END AS v,
                     b.ts >= (l.ts - {7 * DAY}) - ((l.ts - {7 * DAY}) % {HOUR})
                         AND b.ts < l.ts AS in7
              FROM l LEFT JOIN base b
                ON b.user_id = l.user_id AND b.ts < l.ts
               AND NOT (b.d_ts IS NOT NULL AND b.d_ts < l.ts)
            )
            SELECT user_id, ts,
                   ROUND(SUM(CASE WHEN in7 THEN v END) / 100.0, 6) AS ent_sum_7d,
                   COUNT(v) AS ent_count
            FROM j GROUP BY user_id, ts
        """,
        "groupby_snapshot_windows": f"""
            WITH {_SNAP_DAYS},
            ec AS (SELECT user_id, ts, CAST(round(value * 100, 0) AS BIGINT) AS cents
                   FROM events)
            SELECT d.user_id, d.ds,
                   ROUND(SUM(CASE WHEN {_snap_window(7)} THEN e.cents END) / 100.0, 6)
                       AS value_sum_7d,
                   ROUND(SUM(CASE WHEN epoch_ms(e.ts) < {_EOD} THEN e.cents END) / 100.0, 6)
                       AS value_sum,
                   COUNT(CASE WHEN {_snap_window(7)} THEN e.cents END) AS value_count_7d,
                   ROUND(SUM(CASE WHEN {_snap_window(7)} THEN e.cents END)
                         / CAST(COUNT(CASE WHEN {_snap_window(7)} THEN e.cents END) AS DOUBLE)
                         / 100.0 + 1e-9, 6) AS value_average_7d,
                   ROUND(MIN(CASE WHEN {_snap_window(7)} THEN e.cents END) / 100.0, 6)
                       AS value_min_7d,
                   ROUND(MAX(CASE WHEN {_snap_window(7)} THEN e.cents END) / 100.0, 6)
                       AS value_max_7d
            FROM days d JOIN ec e ON d.user_id = e.user_id
            GROUP BY d.user_id, d.ds
        """,
        "groupby_snapshot_moments": f"""
            WITH {_SNAP_DAYS},
            ev AS (SELECT user_id, ts,
                          CAST(CAST(round(value * 10, 0) AS BIGINT) AS DOUBLE) AS v
                   FROM events),
            raw AS (
              SELECT d.user_id, d.ds,
                     CAST(COUNT(CASE WHEN {_snap_window(7)} THEN e.v END) AS DOUBLE) AS n,
                     SUM(CASE WHEN {_snap_window(7)} THEN e.v END) AS s1,
                     SUM(CASE WHEN {_snap_window(7)} THEN e.v * e.v END) AS s2,
                     SUM(CASE WHEN {_snap_window(7)} THEN e.v * e.v * e.v END) AS s3,
                     SUM(CASE WHEN {_snap_window(7)} THEN e.v * e.v * e.v * e.v END) AS s4
              FROM days d JOIN ev e ON d.user_id = e.user_id
              GROUP BY d.user_id, d.ds
            ),
            m AS (
              SELECT user_id, ds, n,
                     CASE WHEN n >= 1 THEN s2 / n - (s1 / n) * (s1 / n) END AS m2,
                     s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
                     s4 / n - 4 * (s1 / n) * (s3 / n)
                            + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                            - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
              FROM raw WHERE n > 0
            )
            SELECT user_id, ds,
                   ROUND(m2 + 1e-9, 4) AS value_variance_7d,
                   CASE WHEN n >= 3 AND m2 > 0 THEN ROUND(m3 / POWER(m2, 1.5) + 1e-9, 6) END AS value_skew_7d,
                   CASE WHEN n >= 4 AND m2 > 0 THEN ROUND(m4 / (m2 * m2) - 3.0 + 1e-9, 6) END AS value_kurtosis_7d
            FROM m
        """,
        "groupby_snapshot_distinct_firstlast": f"""
            WITH {_SNAP_DAYS}
            SELECT d.user_id, d.ds,
                   COUNT(DISTINCT CASE WHEN {_snap_window(3)} THEN e.event_type END)
                       AS event_type_unique_count_3d,
                   ROUND(ARG_MIN(CASE WHEN {_snap_window(7)} THEN e.value END,
                                 CASE WHEN {_snap_window(7)} THEN epoch_ms(e.ts) END), 6)
                       AS value_first_7d,
                   ROUND(ARG_MAX(CASE WHEN {_snap_window(7)} THEN e.value END,
                                 CASE WHEN {_snap_window(7)} THEN epoch_ms(e.ts) END), 6)
                       AS value_last_7d
            FROM days d JOIN events e ON d.user_id = e.user_id
            GROUP BY d.user_id, d.ds
        """,
        # temporal as-of: tail = floor((T - w)/hop)*hop (1d window -> 1h hop,
        # 7d -> 1h hop per Resolution.scala:38-48), head inclusive.
        "bootstrap_covered": f"""
            WITH l AS (SELECT event_id, user_id, epoch_ms(ts) AS ts FROM events),
            e AS (SELECT user_id, epoch_ms(ts) AS ts,
                         CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
            comp AS (
              SELECT l.event_id, l.user_id, l.ts,
                     ROUND(SUM(CASE WHEN e.ts >= ((l.ts - {7 * DAY}) // {HOUR}) * {HOUR}
                               THEN e.cents END) / 100.0, 6) AS sum_real
              FROM l LEFT JOIN e ON l.user_id = e.user_id AND e.ts <= l.ts
              GROUP BY l.event_id, l.user_id, l.ts
            )
            SELECT event_id, user_id, ts,
                   CASE WHEN event_id % 5 = 0 THEN -123.45 ELSE sum_real END AS sum_7d
            FROM comp
        """,
        "groupby_frequent_k": f"""
            WITH {_SNAP_DAYS},
            j AS (
              SELECT d.user_id, d.ds, e.event_type AS etype, COUNT(*) AS cnt
              FROM days d JOIN events e ON d.user_id = e.user_id AND {_snap_window(7)}
              GROUP BY d.user_id, d.ds, e.event_type
            ),
            r AS (
              SELECT *, row_number() OVER (
                PARTITION BY user_id, ds ORDER BY cnt DESC, etype) AS rn
              FROM j
            ),
            agg AS (
              SELECT user_id, ds,
                     string_agg(etype || ':' || cnt, ',' ORDER BY cnt DESC, etype)
                       AS top2
              FROM r WHERE rn <= 2 GROUP BY user_id, ds
            )
            SELECT user_id, ds, top2 AS freq2, top2 AS hh2 FROM agg
        """,
        "groupby_unique_topk_struct": f"""
            WITH {_SNAP_DAYS},
            j AS (
              SELECT d.user_id, d.ds, e.event_id % 50 AS uid,
                     max(lpad(CAST(CAST(round(e.value * 100, 0) AS BIGINT) AS VARCHAR),
                              8, '0')) AS sk
              FROM days d JOIN events e ON d.user_id = e.user_id AND {_snap_window(7)}
              GROUP BY d.user_id, d.ds, e.event_id % 50
            ),
            r AS (
              SELECT *, row_number() OVER (
                PARTITION BY user_id, ds ORDER BY sk DESC, uid) AS rn
              FROM j
            )
            SELECT user_id, ds,
                   string_agg(sk || ':' || uid, ',' ORDER BY sk DESC, uid) AS utk3
            FROM r WHERE rn <= 3 GROUP BY user_id, ds
        """,
        "temporal_join_asof": f"""
            WITH l AS (SELECT event_id, user_id, epoch_ms(ts) AS ts FROM events),
            e AS (SELECT user_id, epoch_ms(ts) AS ts,
                         CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events)
            SELECT l.event_id, l.user_id, l.ts,
                   COUNT(CASE WHEN e.ts >= ((l.ts - {DAY}) // {HOUR}) * {HOUR}
                              THEN e.cents END) AS count_1d,
                   COUNT(e.cents) AS count_life,
                   ROUND(SUM(CASE WHEN e.ts >= ((l.ts - {7 * DAY}) // {HOUR}) * {HOUR}
                             THEN e.cents END) / 100.0, 6) AS sum_7d,
                   CASE WHEN COUNT(CASE WHEN e.ts >= ((l.ts - {7 * DAY}) // {HOUR}) * {HOUR}
                             THEN e.cents END) > 0 THEN
                     ROUND((SUM(CASE WHEN e.ts >= ((l.ts - {7 * DAY}) // {HOUR}) * {HOUR}
                                THEN e.cents END)
                            / CAST(COUNT(CASE WHEN e.ts >= ((l.ts - {7 * DAY}) // {HOUR}) * {HOUR}
                                   THEN e.cents END) AS DOUBLE)) / 100.0 + 1e-9, 4)
                   END AS avg_7d,
                   ROUND(ARG_MAX(CASE WHEN e.ts >= ((l.ts - {7 * DAY}) // {HOUR}) * {HOUR}
                                 THEN e.cents END,
                                 CASE WHEN e.ts >= ((l.ts - {7 * DAY}) // {HOUR}) * {HOUR}
                                 THEN e.ts END) / 100.0, 6) AS last_7d
            FROM l LEFT JOIN e ON l.user_id = e.user_id AND e.ts <= l.ts
            GROUP BY l.event_id, l.user_id, l.ts
        """,
        "temporal_join_composite": f"""
            WITH l AS (SELECT event_id, user_id, event_type AS slot,
                              epoch_ms(ts) AS ts FROM events),
            e AS (SELECT user_id, event_type AS slot, epoch_ms(ts) AS ts,
                         CAST(round(value * 100, 0) AS BIGINT) AS cents
                  FROM events)
            SELECT l.event_id, l.user_id, l.slot, l.ts,
                   COUNT(CASE WHEN e.ts >= ((l.ts - {DAY}) // {HOUR}) * {HOUR}
                              THEN e.cents END) AS count_1d,
                   COUNT(e.cents) AS count_life,
                   ROUND(SUM(CASE WHEN e.ts >= ((l.ts - {7 * DAY}) // {HOUR}) * {HOUR}
                             THEN e.cents END) / 100.0, 6) AS sum_7d
            FROM l LEFT JOIN e
              ON l.user_id = e.user_id AND l.slot = e.slot AND e.ts <= l.ts
            GROUP BY l.event_id, l.user_id, l.slot, l.ts
        """,
        # both naming conventions carry the SAME values
        "join_long_names": f"""
            WITH l AS (SELECT event_id, user_id, epoch_ms(ts) AS ts FROM events),
            e AS (SELECT user_id, epoch_ms(ts) AS ts,
                         CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
            agg AS (
              SELECT l.event_id, l.user_id, l.ts,
                     COUNT(CASE WHEN e.ts >= ((l.ts - {DAY}) // {HOUR}) * {HOUR}
                                THEN e.cents END) AS count_1d,
                     COUNT(e.cents) AS count_life,
                     ROUND(SUM(CASE WHEN e.ts >= ((l.ts - {7 * DAY}) // {HOUR}) * {HOUR}
                               THEN e.cents END) / 100.0, 6) AS sum_7d
              FROM l LEFT JOIN e ON l.user_id = e.user_id AND e.ts <= l.ts
              GROUP BY l.event_id, l.user_id, l.ts
            )
            SELECT event_id, user_id, ts,
                   count_1d AS long_count_1d, count_life AS long_count_life,
                   sum_7d AS long_sum_7d,
                   count_1d AS short_count_1d, count_life AS short_count_life,
                   sum_7d AS short_sum_7d
            FROM agg
        """,
        "temporal_lastk": f"""
            WITH l AS (SELECT event_id, user_id, epoch_ms(ts) AS ts FROM events),
            e AS (SELECT user_id, epoch_ms(ts) AS ts, event_type FROM events),
            j AS (
              SELECT l.event_id, l.user_id, l.ts, e.event_type, e.ts AS ets
              FROM l LEFT JOIN e ON l.user_id = e.user_id
                AND e.ts <= l.ts
                AND e.ts >= ((l.ts - {7 * DAY}) // {HOUR}) * {HOUR}
            )
            SELECT event_id, user_id, ts,
                   COALESCE(array_to_string(
                     (list(event_type ORDER BY ets DESC) FILTER (event_type IS NOT NULL))[1:3],
                     ','), '') AS last3_types
            FROM j GROUP BY event_id, user_id, ts
        """,
        "sessionize": """
            WITH e AS (SELECT user_id, epoch_ms(ts) AS ts FROM events),
            flags AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                           OR ts - lag(ts) OVER w > 1800000 THEN 1 ELSE 0 END AS ns
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            sess AS (
              SELECT user_id, ts,
                     CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) - 1 AS session_id
              FROM flags
            )
            SELECT user_id, session_id,
                   COUNT(*) AS n_events,
                   MIN(ts) AS session_start_ts,
                   MAX(ts) AS session_end_ts,
                   MAX(ts) - MIN(ts) AS session_duration_ms
            FROM sess GROUP BY user_id, session_id
        """,
        "lag_lead": """
            SELECT user_id, epoch_ms(ts) AS ts,
                   ROUND(value, 6) AS value,
                   ROUND(lag(value) OVER w, 6) AS value_lag_1,
                   ROUND(lead(value) OVER w, 6) AS value_lead_1,
                   epoch_ms(ts) - lag(epoch_ms(ts)) OVER w AS gap_ms
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        """,
        "staging_query": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(CAST(SUM(CAST(round(l_quantity, 0) AS BIGINT)) AS DOUBLE), 6) AS sum_qty,
                   ROUND(CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS DOUBLE)
                         / CAST(10000 AS DOUBLE), 4) AS sum_disc_price,
                   ROUND((CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE)
                          / CAST(COUNT(l_extendedprice) AS DOUBLE)) / CAST(100 AS DOUBLE) + 1e-9, 4) AS avg_price,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate < TIMESTAMP '2024-11-01 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        # mirrors chronon_spark/operators/text.py expression-for-expression;
        # the shared rolling hash (acc*131 + ascii) % 1e9+7 was verified to
        # produce identical values on both engines.
        "text_features": r"""
            WITH base AS (
              SELECT doc_id, text,
                CAST(length(text) AS DOUBLE) AS n,
                CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(string_split_regex(trim(text), '\s+')) END AS toks,
                length(regexp_replace(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]', '#', 'g'))
                  - length(regexp_replace(
                      regexp_replace(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]', '#', 'g'),
                      '#', '', 'g')) AS subtoks,
                length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS keep_alpha,
                length(regexp_replace(text, '[0-9]', '', 'g')) AS keep_digit,
                length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')) AS keep_punct,
                len(regexp_extract_all(text, '(?i)\b(the|and|of|to|is|that)\b')) AS s_en,
                len(regexp_extract_all(text, '(?i)\b(der|und|die|das|nicht|ist)\b')) AS s_de,
                len(regexp_extract_all(text, '(?i)\b(le|la|et|les|des|est)\b')) AS s_fr,
                len(regexp_extract_all(text, '(?i)\b(el|los|que|y|en|una)\b')) AS s_es,
                list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(string_split_regex(text, ''),
                                   ch -> CAST(ascii(ch) AS BIGINT))),
                  (acc, x) -> (acc * 131 + x) % 1000000007) AS fp
              FROM documents
            ),
            r AS (
              SELECT *,
                CASE WHEN n > 0 THEN (n - keep_alpha) / n ELSE 0.0 END AS alpha_ratio,
                CASE WHEN n > 0 THEN (n - keep_digit) / n ELSE 0.0 END AS digit_ratio,
                CASE WHEN n > 0 THEN (n - keep_punct) / n ELSE 0.0 END AS punct_ratio,
                CAST(toks AS DOUBLE) AS td
              FROM base
            )
            SELECT doc_id,
                   CAST(toks AS BIGINT) AS n_tokens,
                   CAST(subtoks AS BIGINT) AS n_subtokens,
                   ROUND(alpha_ratio + 1e-9, 6) AS alpha_ratio,
                   ROUND(digit_ratio + 1e-9, 6) AS digit_ratio,
                   ROUND(punct_ratio + 1e-9, 6) AS punct_ratio,
                   ROUND((LEAST(td / 20.0, 1.0)
                          + alpha_ratio
                          + (1.0 - LEAST(punct_ratio * 4, 1.0))
                          + LEAST(CAST(s_en AS DOUBLE) / GREATEST(td, 1.0) * 5, 1.0)) / 4
                         + 1e-9, 6) AS quality,
                   CASE WHEN GREATEST(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                        WHEN s_fr = GREATEST(s_de, s_en, s_es, s_fr) THEN 'fr'
                        WHEN s_es = GREATEST(s_de, s_en, s_es, s_fr) THEN 'es'
                        WHEN s_en = GREATEST(s_de, s_en, s_es, s_fr) THEN 'en'
                        ELSE 'de' END AS lang_pred,
                   fp
            FROM r
        """,
        "dedup_exact": """
            WITH uni AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
            )
            SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
            FROM uni GROUP BY text
        """,
        # derived deterministic oracle (round-2): the engine's minhash
        # output is banded-LSH candidates VERIFIED by exact full-set
        # Jaccard >= t; the oracle is the all-pairs exact answer. Equality
        # asserts banding recall 1.0 at this scale (p_miss < 1e-15 for the
        # J >= 0.9 planted dups, deterministic hash seeds) on top of the
        # per-pair Jaccard correctness.
        "dedup_minhash": """
            WITH docs AS (
              SELECT doc_id AS id,
                list_distinct(list_transform(
                  CASE WHEN length(text) >= 8
                       THEN [substr(text, i, 8) FOR i IN range(1, length(text) - 6)]
                       ELSE [text] END,
                  s -> list_reduce(
                         list_prepend(CAST(0 AS BIGINT),
                           list_transform(string_split_regex(s, ''),
                                          ch -> CAST(ascii(ch) AS BIGINT))),
                         (acc, x) -> (acc * 131 + x) % 1000000007))) AS sh
              FROM documents
            ),
            inv AS (SELECT id, len(sh) AS sz, UNNEST(sh) AS s FROM docs),
            co AS (
              SELECT a.id AS id_a, b.id AS id_b, a.sz AS sz_a, b.sz AS sz_b,
                     COUNT(*) AS inter
              FROM inv a JOIN inv b ON a.s = b.s AND a.id < b.id
              GROUP BY 1, 2, 3, 4
            )
            SELECT id_a, id_b,
                   ROUND(inter / CAST(sz_a + sz_b - inter AS DOUBLE) + 1e-9, 6) AS jaccard
            FROM co
            WHERE inter / CAST(sz_a + sz_b - inter AS DOUBLE) >= 0.3
        """,
        # derived deterministic oracle (round-2): pigeonhole banding has
        # EXACT recall (11 chunks, <= 10 differing bits -> some chunk
        # agrees), so the engine output == all pairs with
        # hamming(simhash64) <= 10. DuckDB replicates the 64-bit simhash
        # bit-for-bit (rolling 131/1e9+7 shingle hash + two mix rounds in
        # HUGEINT modular arithmetic, two's-complement reinterpretation).
        "dedup_simhash": """
            WITH docs AS (
              SELECT doc_id AS id,
                list_distinct(CASE WHEN length(text) >= 3
                     THEN [substr(text, i, 3) FOR i IN range(1, length(text) - 1)]
                     ELSE [text] END) AS sh3
              FROM documents
            ),
            sh AS (SELECT id, UNNEST(sh3) AS s FROM docs),
            h AS (
              SELECT id, list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split_regex(s, ''),
                                      ch -> CAST(ascii(ch) AS BIGINT))),
                       (acc, x) -> (acc * 131 + x) % 1000000007) AS h30
              FROM sh
            ),
            h64a AS (
              SELECT id, CAST((CAST(h30 AS HUGEINT) * 2654435761 + 2654435769)
                              % 18446744073709551616 AS UBIGINT) AS t
              FROM h
            ),
            h64 AS (
              SELECT id, xor(t, CAST((CAST(t >> 29 AS HUGEINT) * 13787848793156543929)
                                     % 18446744073709551616 AS UBIGINT)) AS v
              FROM h64a
            ),
            bits AS (
              SELECT id, bb.b AS b,
                     SUM(CASE WHEN (v >> bb.b) & 1 = 1 THEN 1 ELSE -1 END) AS acc
              FROM h64, (SELECT UNNEST(range(0, 64)) AS b) bb
              GROUP BY id, bb.b
            ),
            sig AS (
              SELECT id, CAST(COALESCE(SUM(CASE WHEN acc > 0 THEN
                       CASE WHEN b = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
                            ELSE CAST(CAST(1 AS BIGINT) << b AS HUGEINT) END END), 0)
                       AS BIGINT) AS v
              FROM bits GROUP BY id
            )
            SELECT a.id AS id_a, b.id AS id_b, bit_count(xor(a.v, b.v)) AS hamming
            FROM sig a JOIN sig b ON a.id < b.id
            WHERE bit_count(xor(a.v, b.v)) <= 10
        """,
        "dedup_ngram_jaccard": """
            WITH docs AS (
              SELECT doc_id AS id,
                list_distinct(list_transform(
                  CASE WHEN length(text) >= 8
                       THEN [substr(text, i, 8) FOR i IN range(1, length(text) - 6)]
                       ELSE [text] END,
                  s -> list_reduce(
                         list_prepend(CAST(0 AS BIGINT),
                           list_transform(string_split_regex(s, ''),
                                          ch -> CAST(ascii(ch) AS BIGINT))),
                         (acc, x) -> (acc * 131 + x) % 1000000007))) AS sh
              FROM documents
            ),
            inv0 AS (SELECT id, len(sh) AS sz, UNNEST(sh) AS s FROM docs),
            hot AS (SELECT s FROM inv0 GROUP BY s HAVING COUNT(*) > 50),
            inv AS (SELECT * FROM inv0 WHERE s NOT IN (SELECT s FROM hot)),
            co AS (
              SELECT a.id AS id_a, b.id AS id_b, a.sz AS sz_a, b.sz AS sz_b,
                     COUNT(*) AS inter
              FROM inv a JOIN inv b ON a.s = b.s AND a.id < b.id
              GROUP BY 1, 2, 3, 4
            )
            SELECT id_a, id_b,
                   ROUND(inter / CAST(sz_a + sz_b - inter AS DOUBLE) + 1e-9, 6) AS jaccard
            FROM co
            WHERE inter / CAST(sz_a + sz_b - inter AS DOUBLE) >= 0.3
        """,
        "embedding_topk": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
            scored AS (
              SELECT q.query_id, e.vec_id,
                     list_cosine_similarity(e.v, q.qv) AS cos
              FROM q CROSS JOIN e
            ),
            ranked AS (
              SELECT query_id, vec_id, cos,
                     CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
              FROM scored
            )
            SELECT query_id, vec_id, ROUND(cos + 1e-9, 6) AS cosine, rank
            FROM ranked WHERE rank <= 10
        """,
        # full-probe IVF == exact brute force, so the oracle is the plain
        # cosine top-k — identical shape to embedding_topk but over query
        # vectors 3/4/5 (and exercising the IVF pipeline on the engine side).
        # derived deterministic oracle (r3): full ANN pipeline replicated
        # in DuckDB — sketch bits, multi-probe buckets (3 least-|dot| bit
        # flips), bucket-join pruning, exact rescore + rank. Closes the
        # last rows-only row in the gate.
        "embedding_lsh_topk": _lsh_topk_oracle_sql(
            dim=64, planes=8, probes=3, k=10, query_ids=(0, 1, 2)
        ),
        "embedding_ivf_topk": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (3, 4, 5)),
            scored AS (
              SELECT q.query_id, e.vec_id,
                     list_cosine_similarity(e.v, q.qv) AS cos
              FROM q CROSS JOIN e
            ),
            ranked AS (
              SELECT query_id, vec_id, cos,
                     CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
              FROM scored
            )
            SELECT query_id, vec_id, ROUND(cos + 1e-9, 6) AS cosine, rank
            FROM ranked WHERE rank <= 10
        """,
        # derived deterministic oracle (round-3): DuckDB reproduces the
        # 6-plane sign-bit sketch exactly (list_dot_product against the
        # same LCG hyperplane literals the engine uses), so bucket pruning
        # AND exact-cosine verification are both replicated — a value-hash
        # match certifies the full near-dup pipeline, not just the verify.
        "embedding_neardup": f"""
            WITH e AS (
              SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings
            ),
            sk AS (SELECT id, v, {_hyperplane_bits_sql(64, 6)} AS bits FROM e),
            cand AS (
              SELECT a.id AS id_a, b.id AS id_b,
                     list_cosine_similarity(a.v, b.v) AS cos
              FROM sk a JOIN sk b ON a.bits = b.bits AND a.id < b.id
            )
            SELECT id_a, id_b, ROUND(cos + 1e-9, 6) AS cosine
            FROM cand WHERE ROUND(cos + 1e-9, 6) >= 0.25
        """,
        # image-fixture oracles read the deterministic parquet written by
        # ensure_image_fixture (oracle_sql() pre-generates it). Pixel decode
        # itself is not SQL-expressible; `phash_match = TRUE` IS the decode
        # integrity check (any pixel/phash regression flips it to false and
        # breaks the value-hash).
        "image_pixel_features": rf"""
            SELECT image_id,
                   TRUE AS phash_match,
                   ROUND(CAST(w AS DOUBLE) / CAST(h AS DOUBLE) + 1e-9, 6) AS aspect,
                   CAST(CASE WHEN length(trim(caption)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(caption), '\s+')) END AS BIGINT)
                       AS caption_tokens,
                   fmt
            FROM '{_FIXTURE_PATH}'
        """,
        # real-format decode: every pin is TRUE on the oracle side, so any
        # engine-side decode drift (phash, brightness) or a fixture row
        # under the 40 dB PSNR bar breaks the value hash
        "image_real_decode": rf"""
            SELECT image_id,
                   TRUE AS phash_match,
                   TRUE AS brightness_match,
                   TRUE AS psnr_ok,
                   fmt
            FROM '{_REAL_FIXTURE_PATH}'
        """,
        # EXIF parse + scrub: sidecars are the generation-time truth;
        # post-scrub expectations are deterministic per row class —
        # gps always gone (NULL for corrupt-EXIF rows, whose bytes pass
        # through unchanged), benign metadata survives the gps surgery,
        # mode='all' leaves nothing, pixels pinned via the phash
        "image_exif_scrub": rf"""
            SELECT image_id,
                   x_parse_ok AS parse_ok,
                   x_has_exif AS has_exif,
                   x_orientation AS orientation,
                   x_make AS make,
                   x_artist AS artist,
                   x_lat AS gps_lat,
                   x_lon AS gps_lon,
                   x_txt AS txt_chunks,
                   CASE WHEN x_parse_ok THEN FALSE ELSE NULL END AS gps_after,
                   CASE WHEN x_parse_ok THEN x_make ELSE NULL END AS make_after,
                   FALSE AS clean_exif,
                   0 AS clean_txt,
                   TRUE AS pix_ok,
                   fmt
            FROM '{_EXIF_FIXTURE_PATH}'
        """,
        # quality metrics: sidecars are the same published formulas the
        # engine runs (image_quality_np), computed on the decoded pixels
        # at generation time; the curation gate is recomputed in SQL so
        # the gating predicate itself is cross-engine
        "image_quality_gate": rf"""
            SELECT image_id, fmt,
                   ROUND(q_lap, 6) AS laplacian_var,
                   ROUND(q_ent, 6) AS entropy_bits,
                   ROUND(q_col, 6) AS colorfulness,
                   ROUND(q_sat, 6) AS saturation,
                   ROUND(q_clip, 6) AS clip_frac,
                   q_ok AS decode_ok,
                   (q_ok AND q_lap >= 50.0 AND q_ent >= 1.0
                         AND q_clip <= 0.1) AS keep
            FROM '{_QUALITY_FIXTURE_PATH}'
        """,
        # letterbox 64x48: the fixture's four source shapes give exact
        # closed-form scale/pad values (no rounding ties); identity rows
        # (64x48 rgb8) pin the canvas BYTES cross-engine via
        # md5(hex(bytes)) — Spark hex() and DuckDB hex() both emit
        # uppercase; pad-region pixel checks are engine-side booleans
        "image_letterbox": rf"""
            SELECT image_id, fmt AS src_fmt,
                   ROUND(LEAST(64.0 / w, 48.0 / h), 6) AS scale,
                   CAST(CASE WHEN w = 32 AND h = 32 THEN 8
                             WHEN w = 48 AND h = 64 THEN 14
                             ELSE 0 END AS INT) AS pad_x,
                   CAST(0 AS INT) AS pad_y,
                   TRUE AS out_ok,
                   TRUE AS pad_ok,
                   CASE WHEN w = 64 AND h = 48 AND fmt = 'rgb8'
                        THEN md5(hex(bytes)) END AS ident_md5
            FROM '{_FIXTURE_PATH}'
        """,
        # BPE: sidecars are the reference tokenization computed at
        # generation time by the same published algorithm on exact local
        # counts — the hash pins the DISTRIBUTED train+apply path
        "corpus_bpe": rf"""
            SELECT doc_id,
                   x_n_tokens AS n_tokens,
                   x_tokens_joined AS tokens_joined
            FROM '{_BPE_FIXTURE_PATH}'
        """,
        # metadata-keyed dedup: key + counts recomputed from sidecars;
        # EXIF-less / corrupt rows keep NULL key and NULL count
        "image_exif_dedup": rf"""
            WITH keyed AS (
                SELECT image_id,
                       CASE WHEN x_parse_ok AND x_has_exif
                                 AND x_make IS NOT NULL
                                 AND x_model IS NOT NULL
                                 AND x_datetime IS NOT NULL
                            THEN concat_ws('|', x_make, x_model, x_datetime)
                       END AS meta_key
                FROM '{_EXIF_FIXTURE_PATH}'
            ), counts AS (
                SELECT meta_key, COUNT(*) AS dup_count FROM keyed
                WHERE meta_key IS NOT NULL GROUP BY meta_key
            )
            SELECT k.image_id, k.meta_key, c.dup_count
            FROM keyed k LEFT JOIN counts c USING (meta_key)
        """,
        # image near-dup: pigeonhole banding has recall exactly 1 (and the
        # engine verifies with exact bit_count), so the pair set equals
        # brute-force all-pairs hamming over the stored phash — which the
        # image_pixel_features oracle pins equal to the decoded-pixel hash.
        "image_phash_neardup": rf"""
            SELECT a.image_id AS id_a, b.image_id AS id_b,
                   bit_count(xor(a.phash, b.phash)) AS hamming
            FROM '{_FIXTURE_PATH}' a JOIN '{_FIXTURE_PATH}' b
              ON a.image_id < b.image_id
            WHERE bit_count(xor(a.phash, b.phash)) <= 2
        """,
        # curation pipeline oracle: quality gates over stored metadata,
        # then recursive-CTE transitive closure over brute-force hamming
        # pairs of the stored phash (== decoded hash per the pixel oracle).
        "image_phash_incremental": rf"""
            SELECT a.image_id AS new_id, b.image_id AS corpus_id,
                   bit_count(xor(a.phash, b.phash)) AS hamming
            FROM '{_FIXTURE_PATH}' a JOIN '{_FIXTURE_PATH}' b
              ON CAST(substr(a.image_id, 5) AS INTEGER) % 20 = 0
             AND CAST(substr(b.image_id, 5) AS INTEGER) % 20 != 0
            WHERE bit_count(xor(a.phash, b.phash)) <= 2
        """,
        "image_curation": rf"""
            WITH RECURSIVE kept AS (
              SELECT image_id, phash, w, h
              FROM '{_FIXTURE_PATH}'
              WHERE w >= 48 AND h >= 48
                AND (CASE WHEN length(trim(caption)) = 0 THEN 0
                     ELSE len(string_split_regex(trim(caption), '\s+'))
                     END) >= 8
            ),
            pairs AS (
              SELECT a.image_id AS id_a, b.image_id AS id_b
              FROM kept a JOIN kept b ON a.image_id < b.image_id
              WHERE bit_count(xor(a.phash, b.phash)) <= 2
            ),
            edges AS (
              SELECT id_a AS s, id_b AS d FROM pairs
              UNION SELECT id_b, id_a FROM pairs
            ),
            walk(s, d) AS (
              SELECT s, d FROM edges
              UNION
              SELECT w.s, e.d FROM walk w JOIN edges e ON w.d = e.s
            ),
            comp AS (
              SELECT s AS id, LEAST(s, MIN(d)) AS cluster_id
              FROM walk GROUP BY s
            )
            SELECT k.image_id,
                   COALESCE(comp.cluster_id, k.image_id) AS cluster_id,
                   COALESCE(comp.cluster_id, k.image_id) = k.image_id
                       AS is_canonical,
                   k.w, k.h
            FROM kept k LEFT JOIN comp ON comp.id = k.image_id
        """,
        # streaming stateful op: the final per-key state after replaying
        # the whole events stream IS the lifetime aggregation — plain SQL.
        "stream_stateful_features": """
            WITH e AS (
              SELECT user_id, ts,
                     CAST(round(value * 100, 0) AS BIGINT) AS cents
              FROM events
            ),
            agg AS (
              SELECT user_id,
                     COUNT(*) AS n_events,
                     CAST(SUM(cents) AS BIGINT) AS cents_sum,
                     ARG_MAX(cents, ts) AS cents_last
              FROM e GROUP BY user_id
            ),
            lastk AS (
              SELECT user_id,
                     STRING_AGG(CAST(cents AS VARCHAR), ',' ORDER BY ts DESC) AS last5
              FROM (
                SELECT user_id, ts, cents,
                       ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
                FROM e
              ) WHERE rn <= 5 GROUP BY user_id
            )
            SELECT a.user_id, a.n_events, a.cents_sum, a.cents_last, l.last5
            FROM agg a JOIN lastk l ON a.user_id = l.user_id
        """,
        # daily tumbling windows align to the epoch (session TZ is UTC on
        # the Spark side, epoch_ms is naive-UTC here)
        "stream_windowed_counts": f"""
            WITH e AS (
              SELECT user_id, epoch_ms(ts) AS ms,
                     CAST(round(value * 100, 0) AS BIGINT) AS cents
              FROM events
            )
            SELECT user_id,
                   (ms // {DAY}) * {DAY} AS window_start,
                   (ms // {DAY}) * {DAY} + {DAY} AS window_end,
                   COUNT(*) AS n_events,
                   CAST(SUM(cents) AS BIGINT) AS cents_sum,
                   MIN(cents) AS cents_min,
                   MAX(cents) AS cents_max
            FROM e GROUP BY 1, 2, 3
        """,
        # session window = [min ts, max ts + gap); append mode emits the
        # sessions whose end the final watermark (= max event ts, 0s delay)
        # has passed — both engines filter to window_end < max(ts)
        "stream_session_windows": f"""
            WITH e AS (SELECT user_id, epoch_ms(ts) AS ts FROM events),
            mx AS (SELECT MAX(ts) AS m FROM e),
            flags AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                           OR ts - lag(ts) OVER w > {30 * 60 * 1000} THEN 1
                          ELSE 0 END AS ns
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            sess AS (
              SELECT user_id, ts,
                     SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sid
              FROM flags
            ),
            agg AS (
              SELECT user_id,
                     MIN(ts) AS session_start, MAX(ts) AS session_end,
                     COUNT(*) AS n_events
              FROM sess GROUP BY user_id, sid
            )
            SELECT user_id,
                   session_start AS window_start,
                   session_end + {30 * 60 * 1000} AS window_end,
                   n_events, session_start, session_end
            FROM agg, mx WHERE session_end + {30 * 60 * 1000} < mx.m
        """,
        # streaming dedup: survivor per fingerprint = (ts, id)-minimum
        # over the whole table, duplicates counted — the state fold's
        # batch-boundary-independent final state as one window query
        "stream_dedup": """
            WITH e AS (
              SELECT CAST(round(value * 100, 0) AS BIGINT) % 1000 AS fp,
                     event_id, epoch_ms(ts) AS tsm
              FROM events
            ),
            r AS (
              SELECT *,
                     ROW_NUMBER() OVER (PARTITION BY fp
                                        ORDER BY tsm, event_id) AS rn,
                     COUNT(*) OVER (PARTITION BY fp) AS n_seen
              FROM e
            )
            SELECT fp, event_id AS first_id, tsm AS first_ts, n_seen
            FROM r WHERE rn = 1
        """,
        # video/audio fixture oracles: the sidecar feature columns were
        # computed from the DECODED payload at generation time; the engine
        # must reproduce them from the binary column alone, through the
        # Spark/Arrow path. phash_match = TRUE is the frame-decode
        # integrity check (same contract as image_pixel_features).
        "video_frame_features": f"""
            SELECT video_id,
                   TRUE AS phash_match,
                   n_frames AS n_frames_read,
                   ROUND(brightness + 1e-9, 6) AS brightness,
                   ROUND(motion + 1e-9, 6) AS motion_energy
            FROM '{_VIDEO_FIXTURE_PATH}'
        """,
        "audio_clip_features": f"""
            SELECT audio_id,
                   ROUND(rms + 1e-9, 6) AS rms,
                   ROUND(zcr + 1e-9, 6) AS zcr,
                   ROUND(spectral_centroid_hz + 1e-9, 6) AS centroid_hz,
                   ROUND(duration_s + 1e-9, 6) AS duration_s,
                   TRUE AS decode_ok
            FROM '{_AUDIO_FIXTURE_PATH}'
        """,
        # real animated-GIF fixture: decoded-frame sidecars (NULL +
        # decode_ok=false for the deterministic truncated rows)
        "video_real_decode": f"""
            SELECT video_id, layout,
                   CASE WHEN decode_ok THEN TRUE END AS phash_match,
                   CASE WHEN decode_ok THEN n_frames END AS n_frames_read,
                   ROUND(brightness + 1e-9, 6) AS brightness,
                   ROUND(motion + 1e-9, 6) AS motion_energy,
                   decode_ok
            FROM '{_VIDEO_REAL_FIXTURE_PATH}'
        """,
        # real WAV/RIFF fixture: sidecars are NULL + decode_ok=false for
        # the deterministic corrupt rows; the engine must flag exactly
        # those and reproduce every other row's features from the bytes
        "audio_real_decode": f"""
            SELECT audio_id, enc,
                   ROUND(rms + 1e-9, 6) AS rms,
                   ROUND(zcr + 1e-9, 6) AS zcr,
                   ROUND(spectral_centroid_hz + 1e-9, 6) AS centroid_hz,
                   ROUND(duration_s + 1e-9, 6) AS duration_s,
                   decode_ok
            FROM '{_AUDIO_REAL_FIXTURE_PATH}'
        """,
        "image_asof_features": _IMAGE_ASOF_ORACLE,
        # Iceberg-planned variant must reconstruct the IDENTICAL feature
        # vectors — the oracle never looks at the Iceberg tree, only raw
        # fixture rows, so any manifest-planning drift breaks the hash
        "image_asof_iceberg": _IMAGE_ASOF_ORACLE,
        "snapshot_join_yesterday": f"""
            WITH l AS (SELECT event_id, user_id, epoch_ms(ts) AS ts,
                              CAST(epoch(CAST(strftime(ts, '%Y-%m-%d') AS DATE)) AS BIGINT) * 1000
                                  AS day0
                       FROM events),
            e AS (SELECT user_id, epoch_ms(ts) AS ts,
                         CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events)
            SELECT l.event_id, l.user_id, l.ts,
                   ROUND(SUM(CASE WHEN e.ts >= l.day0 - {7 * DAY} AND e.ts < l.day0
                             THEN e.cents END) / 100.0, 6) AS ysum_7d,
                   COUNT(CASE WHEN e.ts >= l.day0 - {7 * DAY} AND e.ts < l.day0
                         THEN e.cents END) AS ycount_7d
            FROM l LEFT JOIN e ON l.user_id = e.user_id
            GROUP BY l.event_id, l.user_id, l.ts, l.day0
        """,
        "groupby_bucketed": f"""
            WITH {_SNAP_DAYS},
            ec AS (SELECT user_id, ts, event_type,
                          CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events)
            SELECT d.user_id, d.ds, e.event_type AS bucket,
                   ROUND(SUM(CASE WHEN {_snap_window(7)} THEN e.cents END) / 100.0, 6)
                       AS sum_7d
            FROM days d JOIN ec e ON d.user_id = e.user_id
            GROUP BY d.user_id, d.ds, e.event_type
            HAVING SUM(CASE WHEN {_snap_window(7)} THEN e.cents END) IS NOT NULL
        """,
        "groupby_autoexplode": f"""
            WITH {_SNAP_DAYS},
            ec AS (SELECT user_id, ts,
                          CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k
                   FROM events),
            agg AS (
              SELECT d.user_id, d.ds,
                     SUM(CASE WHEN {_snap_window(7)} THEN e.k + (e.k % 7) END) AS s,
                     2 * COUNT(CASE WHEN {_snap_window(7)} THEN e.k END) AS c
              FROM days d JOIN ec e ON d.user_id = e.user_id
              GROUP BY d.user_id, d.ds
            )
            SELECT user_id, ds,
                   CAST(s AS BIGINT) AS xs_sum_7d,
                   CAST(c AS BIGINT) AS xs_count_7d,
                   ROUND(s / CAST(c AS DOUBLE) + 1e-9, 6) AS xs_avg_7d
            FROM agg
        """,
        # percentile index: max(1, ceil(p*n)) - 1 of the sorted window
        # slice — mirrored exactly (kernel + this SQL)
        "temporal_percentile": f"""
            WITH l AS (SELECT event_id, user_id, epoch_ms(ts) AS ts FROM events),
            e AS (SELECT user_id, epoch_ms(ts) AS ts,
                         CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
            j AS (
              SELECT l.event_id, l.user_id, l.ts,
                     list_sort(list(e.cents)) AS vals
              FROM l LEFT JOIN e ON l.user_id = e.user_id
                AND e.ts <= l.ts
                AND e.ts >= ((l.ts - {7 * DAY}) // {HOUR}) * {HOUR}
              GROUP BY l.event_id, l.user_id, l.ts
            )
            SELECT event_id, user_id, ts,
                   ROUND(vals[GREATEST(1, CAST(CEIL(0.5 * len(vals)) AS BIGINT))] / 100.0, 6)
                       AS p50_7d,
                   ROUND(vals[GREATEST(1, CAST(CEIL(0.95 * len(vals)) AS BIGINT))] / 100.0, 6)
                       AS p95_7d
            FROM j
        """,
        "entity_groupby": """
            SELECT c_mktsegment AS segment, '2024-01-15' AS ds,
                   ROUND(SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) / 100.0, 6)
                       AS bal_sum,
                   COUNT(*) AS n_cust,
                   ROUND((SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT))
                          / CAST(COUNT(*) AS DOUBLE)) / 100.0 + 1e-9, 4) AS bal_avg,
                   ROUND(MAX(CAST(round(c_acctbal * 100, 0) AS BIGINT)) / 100.0, 6)
                       AS bal_max
            FROM customer GROUP BY c_mktsegment
        """,
        "staging_orders_summary": """
            SELECT o.o_orderpriority AS priority, o.o_orderstatus AS status,
                   COUNT(*) AS n_orders,
                   COUNT(DISTINCT o.o_custkey) AS n_custs,
                   ROUND(CAST(SUM(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
                         / CAST(100 AS DOUBLE), 6) AS total_price
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
            GROUP BY o.o_orderpriority, o.o_orderstatus
        """,
        "staging_revenue_by_nation": """
            SELECT n.n_name AS nation,
                   ROUND(CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000, 0)
                                       AS BIGINT)) AS DOUBLE) / CAST(10000 AS DOUBLE), 4)
                       AS revenue,
                   COUNT(*) AS n_items
            FROM customer c
            JOIN orders o ON c.c_custkey = o.o_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_name
        """,
        "temporal_histogram": f"""
            WITH l AS (SELECT event_id, user_id, epoch_ms(ts) AS ts FROM events),
            e AS (SELECT user_id, epoch_ms(ts) AS ts, event_type FROM events)
            SELECT l.event_id, l.user_id, l.ts, e.event_type AS etype,
                   COUNT(*) AS cnt
            FROM l JOIN e ON l.user_id = e.user_id
              AND e.ts <= l.ts
              AND e.ts >= ((l.ts - {DAY}) // {HOUR}) * {HOUR}
            GROUP BY l.event_id, l.user_id, l.ts, e.event_type
        """,
        "temporal_topk": f"""
            WITH l AS (SELECT event_id, user_id, epoch_ms(ts) AS ts FROM events),
            e AS (SELECT user_id, epoch_ms(ts) AS ts,
                         CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events)
            SELECT l.event_id, l.user_id, l.ts,
                   COALESCE(array_to_string(
                     (list_reverse_sort(list(e.cents)))[1:3], ','), '') AS top3_cents
            FROM l LEFT JOIN e ON l.user_id = e.user_id
              AND e.ts <= l.ts
              AND e.ts >= ((l.ts - {7 * DAY}) // {HOUR}) * {HOUR}
            GROUP BY l.event_id, l.user_id, l.ts
        """,
        "temporal_join_salted": f"""
            WITH l AS (SELECT event_id, user_id, epoch_ms(ts) AS ts FROM events),
            e AS (SELECT user_id, epoch_ms(ts) AS ts,
                         CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events)
            SELECT l.event_id, l.user_id, l.ts,
                   COUNT(CASE WHEN e.ts >= ((l.ts - {DAY}) // {HOUR}) * {HOUR}
                              THEN e.cents END) AS count_1d,
                   COUNT(e.cents) AS count_life,
                   ROUND(SUM(CASE WHEN e.ts >= ((l.ts - {7 * DAY}) // {HOUR}) * {HOUR}
                             THEN e.cents END) / 100.0, 6) AS sum_7d
            FROM l LEFT JOIN e ON l.user_id = e.user_id AND e.ts <= l.ts
            GROUP BY l.event_id, l.user_id, l.ts
        """,
        "join_derivations": f"""
            WITH l AS (SELECT event_id, user_id, epoch_ms(ts) AS ts FROM events),
            e AS (SELECT user_id, epoch_ms(ts) AS ts,
                         CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
            base AS (
              SELECT l.event_id, l.user_id, l.ts,
                     COUNT(CASE WHEN e.ts >= ((l.ts - {DAY}) // {HOUR}) * {HOUR}
                                THEN e.cents END) AS count_1d,
                     COUNT(e.cents) AS lifetime_count,
                     SUM(CASE WHEN e.ts >= ((l.ts - {7 * DAY}) // {HOUR}) * {HOUR}
                              THEN e.cents END) AS sum_7d_cents
              FROM l LEFT JOIN e ON l.user_id = e.user_id AND e.ts <= l.ts
              GROUP BY l.event_id, l.user_id, l.ts
            )
            SELECT event_id, user_id, ts, count_1d, lifetime_count,
                   ROUND(sum_7d_cents / 100.0, 6) AS usd_7d,
                   CASE WHEN count_1d > 0 THEN
                        ROUND(sum_7d_cents / (100.0 * count_1d) + 1e-9, 4) END
                       AS spend_rate_1d
            FROM base
        """,
        "temporal_join_smallmode": f"""
            WITH l AS (SELECT event_id, user_id, epoch_ms(ts) AS ts FROM events WHERE user_id < 30),
            e AS (SELECT user_id, epoch_ms(ts) AS ts,
                         CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events)
            SELECT l.event_id, l.user_id, l.ts,
                   COUNT(CASE WHEN e.ts >= ((l.ts - {DAY}) // {HOUR}) * {HOUR}
                              THEN e.cents END) AS count_1d,
                   COUNT(e.cents) AS count_life,
                   ROUND(SUM(CASE WHEN e.ts >= ((l.ts - {7 * DAY}) // {HOUR}) * {HOUR}
                             THEN e.cents END) / 100.0, 6) AS sum_7d
            FROM l LEFT JOIN e ON l.user_id = e.user_id AND e.ts <= l.ts
            GROUP BY l.event_id, l.user_id, l.ts
        """,
        "temporal_join_midsize": f"""
            WITH l AS (SELECT event_id, user_id, epoch_ms(ts) AS ts FROM events),
            e AS (SELECT user_id, epoch_ms(ts) AS ts,
                         CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events)
            SELECT l.event_id, l.user_id, l.ts,
                   COUNT(CASE WHEN e.ts >= ((l.ts - {DAY}) // {HOUR}) * {HOUR}
                              THEN e.cents END) AS count_1d,
                   COUNT(e.cents) AS count_life,
                   ROUND(SUM(CASE WHEN e.ts >= ((l.ts - {7 * DAY}) // {HOUR}) * {HOUR}
                             THEN e.cents END) / 100.0, 6) AS sum_7d
            FROM l LEFT JOIN e ON l.user_id = e.user_id AND e.ts <= l.ts
            GROUP BY l.event_id, l.user_id, l.ts
        """,
        "temporal_join_skewfilter": f"""
            WITH l AS (SELECT event_id, user_id, epoch_ms(ts) AS ts FROM events WHERE user_id NOT IN (0, 1, 2)),
            e AS (SELECT user_id, epoch_ms(ts) AS ts,
                         CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events)
            SELECT l.event_id, l.user_id, l.ts,
                   COUNT(CASE WHEN e.ts >= ((l.ts - {DAY}) // {HOUR}) * {HOUR}
                              THEN e.cents END) AS count_1d,
                   COUNT(e.cents) AS count_life,
                   ROUND(SUM(CASE WHEN e.ts >= ((l.ts - {7 * DAY}) // {HOUR}) * {HOUR}
                             THEN e.cents END) / 100.0, 6) AS sum_7d
            FROM l LEFT JOIN e ON l.user_id = e.user_id AND e.ts <= l.ts
            GROUP BY l.event_id, l.user_id, l.ts
        """,
        "model_transform_score": f"""
            WITH {_SNAP_DAYS},
            sc AS (SELECT user_id, ts,
                          3.0 * CAST(round(value * 100, 0) AS BIGINT) + 7.0 AS score
                   FROM events)
            SELECT d.user_id, d.ds,
                   ROUND(SUM(CASE WHEN {_snap_window(7)} THEN e.score END), 6)
                       AS score_sum_7d,
                   COUNT(CASE WHEN {_snap_window(7)} THEN e.score END)
                       AS score_count_7d
            FROM days d JOIN sc e ON d.user_id = e.user_id
            GROUP BY d.user_id, d.ds
        """,
        "sketch_ir_quantiles": """
            WITH ec AS (SELECT user_id,
                               CAST(round(value * 100, 0) AS BIGINT) AS cents
                        FROM events),
            r AS (SELECT user_id, cents,
                         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY cents) AS rn,
                         COUNT(*) OVER (PARTITION BY user_id) AS n
                  FROM ec)
            SELECT user_id,
                   ROUND(MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.5 * n) AS BIGINT))
                             THEN cents END) / 100.0, 6) AS p50,
                   ROUND(MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.9 * n) AS BIGINT))
                             THEN cents END) / 100.0, 6) AS p90
            FROM r GROUP BY user_id
        """,
        # exact regime (map >> distinct event types, offset 0): top-2 per
        # user by true count, ties broken by item DESC — the sketch's own
        # deterministic finalize order
        "sketch_ir_frequent": """
            WITH c AS (SELECT user_id, event_type AS item,
                              COUNT(*) AS estimate
                       FROM events GROUP BY 1, 2),
            r AS (SELECT *, ROW_NUMBER() OVER (
                      PARTITION BY user_id
                      ORDER BY estimate DESC, item DESC) AS rn
                  FROM c)
            SELECT user_id, item, estimate FROM r WHERE rn <= 2
        """,
        # CPC IRs: exact distinct counts from SQL; the estimate-envelope,
        # wire-identity (vs the Spark-bundled datasketches-java) and
        # library-reads-ours checks are engine-side booleans pinned TRUE
        "sketch_ir_cpc": """
            SELECT CAST(user_id % 8 AS VARCHAR) AS k,
                   CAST(COUNT(DISTINCT CAST(round(value * 100, 0) AS BIGINT))
                        AS BIGINT) AS exact_uniques,
                   TRUE AS within_5pct,
                   TRUE AS wire_identical,
                   TRUE AS lib_reads_ours
            FROM events GROUP BY 1
        """,
        "groupby_multisource_union": f"""
            WITH {_SNAP_DAYS},
            ec AS (SELECT user_id, ts, CAST(round(value * 100, 0) AS BIGINT) AS cents
                   FROM events)
            SELECT d.user_id, d.ds,
                   ROUND(SUM(CASE WHEN {_snap_window(7)} THEN e.cents END) / 100.0, 6)
                       AS sum_7d,
                   COUNT(CASE WHEN epoch_ms(e.ts) < {_EOD} THEN e.cents END)
                       AS count_life
            FROM days d JOIN ec e ON d.user_id = e.user_id
            GROUP BY d.user_id, d.ds
        """,
        "joinsource_chained": f"""
            WITH l AS (SELECT event_id, user_id, epoch_ms(ts) AS ts FROM events),
            e AS (SELECT user_id, epoch_ms(ts) AS ts FROM events),
            inner_j AS (
              SELECT l.event_id, l.user_id, l.ts,
                     COUNT(CASE WHEN e.ts >= ((l.ts - {DAY}) // {HOUR}) * {HOUR}
                           THEN 1 END) AS c1
              FROM l LEFT JOIN e ON l.user_id = e.user_id AND e.ts <= l.ts
              GROUP BY l.event_id, l.user_id, l.ts
            ),
            days AS (SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS ds
                     FROM events)
            SELECT d.user_id, d.ds,
                   CAST(SUM(CASE WHEN i.ts >= {_EOD} - {7 * DAY} AND i.ts < {_EOD}
                       THEN i.c1 END) AS BIGINT) AS c1_sum_7d,
                   MAX(CASE WHEN i.ts >= {_EOD} - {7 * DAY} AND i.ts < {_EOD}
                       THEN i.c1 END) AS c1_max_7d
            FROM days d JOIN inner_j i ON d.user_id = i.user_id
            GROUP BY d.user_id, d.ds
        """,
        "mixed_accuracy_join": f"""
            WITH l AS (SELECT event_id, user_id, epoch_ms(ts) AS ts,
                              CAST(epoch(CAST(strftime(ts, '%Y-%m-%d') AS DATE)) AS BIGINT) * 1000
                                  AS day0
                       FROM events),
            e AS (SELECT user_id, epoch_ms(ts) AS ts,
                         CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events)
            SELECT l.event_id, l.user_id, l.ts,
                   COUNT(CASE WHEN e.ts <= l.ts
                              AND e.ts >= ((l.ts - {DAY}) // {HOUR}) * {HOUR}
                         THEN e.cents END) AS count_1d,
                   ROUND(SUM(CASE WHEN e.ts >= l.day0 - {7 * DAY} AND e.ts < l.day0
                             THEN e.cents END) / 100.0, 6) AS ysum_7d
            FROM l LEFT JOIN e ON l.user_id = e.user_id
            GROUP BY l.event_id, l.user_id, l.ts, l.day0
        """,
        "cumulative_source": f"""
            WITH {_SNAP_DAYS},
            ec AS (SELECT user_id, ts, CAST(round(value * 100, 0) AS BIGINT) AS cents
                   FROM events)
            SELECT d.user_id, d.ds,
                   ROUND(SUM(CASE WHEN {_snap_window(7)} THEN e.cents END) / 100.0, 6)
                       AS sum_7d,
                   COUNT(CASE WHEN epoch_ms(e.ts) < {_EOD} THEN e.cents END)
                       AS count_life
            FROM days d JOIN ec e ON d.user_id = e.user_id
            GROUP BY d.user_id, d.ds
        """,
        # one SQL body for both wire-format scans: the Iceberg and Delta
        # providers must reconstruct the SAME three states (current /
        # first-version / incremental) from their respective metadata
        "iceberg_scan": _WIRE_FORMAT_ORACLE,
        "delta_scan": _WIRE_FORMAT_ORACLE,
        # session-catalog table with DYNAMIC partition overwrite on
        # (ds, hr): the second commit replaces ONLY (2024-01-05, hr='0'),
        # so the oracle patches exactly that sub-partition
        "catalog_table_scan": """
            WITH e AS (SELECT user_id,
                              CAST(round(value * 100, 0) AS BIGINT) AS cents,
                              strftime(ts, '%Y-%m-%d') AS ds,
                              CAST(user_id % 2 AS VARCHAR) AS hr FROM events),
            patch AS (SELECT user_id, cents * 3 AS cents, ds, hr FROM e
                      WHERE ds = '2024-01-05' AND hr = '0'),
            cur AS (SELECT * FROM e
                    WHERE NOT (ds = '2024-01-05' AND hr = '0')
                    UNION ALL SELECT * FROM patch)
            SELECT 'current' AS version, ds, COUNT(*) AS n_rows,
                   CAST(SUM(cents) AS BIGINT) AS cents_total
            FROM cur GROUP BY ds
            UNION ALL
            SELECT 'hr0' AS version, ds, COUNT(*) AS n_rows,
                   CAST(SUM(cents) AS BIGINT) AS cents_total
            FROM cur WHERE hr = '0' GROUP BY ds
        """,
        # layout machinery must never change CONTENT: v1 = raw (clustered),
        # v2 = day 2024-01-05 replaced with cents*3 (patched), compaction
        # preserves v2's rows exactly, z-order table carries raw rows
        "catalog_clustered_compact": """
            WITH e AS (SELECT user_id,
                              CAST(round(value * 100, 0) AS BIGINT) AS cents,
                              strftime(ts, '%Y-%m-%d') AS ds FROM events),
            cur AS (SELECT user_id,
                           CASE WHEN ds = '2024-01-05' THEN cents * 3
                                ELSE cents END AS cents, ds FROM e)
            SELECT 'clustered' AS version, ds, COUNT(*) AS n_rows,
                   CAST(SUM(cents) AS BIGINT) AS cents_total FROM e GROUP BY ds
            UNION ALL
            SELECT 'patched', ds, COUNT(*), CAST(SUM(cents) AS BIGINT)
            FROM cur GROUP BY ds
            UNION ALL
            SELECT 'compacted', ds, COUNT(*), CAST(SUM(cents) AS BIGINT)
            FROM cur GROUP BY ds
            UNION ALL
            SELECT 'zorder', ds, COUNT(*), CAST(SUM(cents) AS BIGINT)
            FROM e GROUP BY ds
        """,
        "join_noagg_passthrough": """
            WITH snaps AS (
              SELECT c_custkey AS cust_key,
                     CAST(round(c_acctbal * 100, 0) AS BIGINT) + s.i AS bal_cents,
                     s.ds
              FROM customer,
                   (VALUES (0, '2024-01-05'), (1, '2024-01-12'), (2, '2024-01-20'))
                       s(i, ds)
            ),
            l AS (SELECT event_id, user_id % 1500 + 1 AS cust, epoch_ms(ts) AS ts,
                         strftime(CAST(ts AS DATE) - INTERVAL 1 DAY, '%Y-%m-%d') AS yds
                  FROM events)
            SELECT l.event_id, l.cust, l.ts,
                   ARG_MAX(s.bal_cents, s.ds) AS bal_cents
            FROM l LEFT JOIN snaps s
              ON s.cust_key = l.cust AND s.ds <= l.yds
            GROUP BY l.event_id, l.cust, l.ts
        """,
        "dedup_clusters": """
            WITH RECURSIVE docs AS (
              SELECT doc_id AS id,
                list_distinct(list_transform(
                  CASE WHEN length(text) >= 8
                       THEN [substr(text, i, 8) FOR i IN range(1, length(text) - 6)]
                       ELSE [text] END,
                  s -> list_reduce(
                         list_prepend(CAST(0 AS BIGINT),
                           list_transform(string_split_regex(s, ''),
                                          ch -> CAST(ascii(ch) AS BIGINT))),
                         (acc, x) -> (acc * 131 + x) % 1000000007))) AS sh
              FROM documents
            ),
            inv0 AS (SELECT id, len(sh) AS sz, UNNEST(sh) AS s FROM docs),
            hot AS (SELECT s FROM inv0 GROUP BY s HAVING COUNT(*) > 50),
            inv AS (SELECT * FROM inv0 WHERE s NOT IN (SELECT s FROM hot)),
            co AS (
              SELECT a.id AS id_a, b.id AS id_b, a.sz AS sz_a, b.sz AS sz_b,
                     COUNT(*) AS inter
              FROM inv a JOIN inv b ON a.s = b.s AND a.id < b.id
              GROUP BY 1, 2, 3, 4
            ),
            pairs AS (
              SELECT id_a, id_b FROM co
              WHERE inter / CAST(sz_a + sz_b - inter AS DOUBLE) >= 0.3
            ),
            edges AS (
              SELECT id_a AS s, id_b AS d FROM pairs
              UNION SELECT id_b, id_a FROM pairs
            ),
            walk(s, d) AS (
              SELECT s, d FROM edges
              UNION
              SELECT w.s, e.d FROM walk w JOIN edges e ON w.d = e.s
            ),
            comp AS (
              SELECT s AS id, LEAST(s, MIN(d)) AS cluster_id
              FROM walk GROUP BY s
            )
            SELECT dd.doc_id,
                   COALESCE(comp.cluster_id, dd.doc_id) AS cluster_id,
                   COALESCE(comp.cluster_id, dd.doc_id) = dd.doc_id
                       AS is_canonical
            FROM documents dd LEFT JOIN comp ON comp.id = dd.doc_id
        """,
        "analyze_join_schema": """
            SELECT * FROM (VALUES
              ('user_feats_value_sum_7d', 'double', 'sum', '7d',
               'value', 'user_feats'),
              ('user_feats_value_count', 'bigint', 'count', 'unbounded',
               'value', 'user_feats'),
              ('user_feats_value_last5_7d', 'array<double>', 'last_k', '7d',
               'value', 'user_feats'),
              ('x_type_feats_value_average_30d', 'double', 'average', '30d',
               'value', 'type_feats'),
              ('x_type_feats_value_max', 'double', 'max', 'unbounded',
               'value', 'type_feats')
            ) t(name, column_type, operation, "window", input_column, group_by)
        """,
        "drift_metrics": """
            WITH e AS (
              SELECT event_type,
                     CAST(CAST(FLOOR(value / 25) AS BIGINT) AS VARCHAR) AS vbucket,
                     epoch_ms(ts) AS tms
              FROM events
            ),
            m AS (
              SELECT 'event_type' AS "column", event_type AS key_value,
                     tms < 1705363200000 AS is_base
              FROM e WHERE event_type IS NOT NULL
              UNION ALL
              SELECT 'vbucket', vbucket, tms < 1705363200000
              FROM e WHERE vbucket IS NOT NULL
            ),
            h AS (
              SELECT "column", key_value,
                     SUM(CASE WHEN is_base THEN 1 ELSE 0 END) AS ca,
                     SUM(CASE WHEN is_base THEN 0 ELSE 1 END) AS cb
              FROM m GROUP BY "column", key_value
            ),
            p AS (
              SELECT "column", key_value,
                     CAST(ca AS DOUBLE) / SUM(ca) OVER (PARTITION BY "column") AS pa,
                     CAST(cb AS DOUBLE) / SUM(cb) OVER (PARTITION BY "column") AS pb
              FROM h
            ),
            terms AS (
              SELECT "column",
                     -- jsd: 0.5*(kl(a,m)+kl(b,m)), m=(a+b)/2, 0-guarded
                     SUM(0.5 * (
                       CASE WHEN pa > 0 AND (pa + pb) / 2 > 0
                            THEN pa * LN(pa / ((pa + pb) / 2)) ELSE 0 END +
                       CASE WHEN pb > 0 AND (pa + pb) / 2 > 0
                            THEN pb * LN(pb / ((pa + pb) / 2)) ELSE 0 END
                     )) AS jsd,
                     -- psi with the reference's 1e-5 zero-bin substitute
                     SUM((CASE WHEN pb = 0 THEN 1e-5 ELSE pb END
                          - CASE WHEN pa = 0 THEN 1e-5 ELSE pa END)
                         * LN(CASE WHEN pb = 0 THEN 1e-5 ELSE pb END
                              / CASE WHEN pa = 0 THEN 1e-5 ELSE pa END)) AS psi,
                     SUM(0.5 * POW(SQRT(pa) - SQRT(pb), 2)) AS hellinger
              FROM p GROUP BY "column"
            ),
            long AS (
              SELECT "column", 'histogram' AS kind, 'jensen_shannon' AS metric,
                     jsd AS score, 0.05 AS mod_t, 0.15 AS sev_t FROM terms
              UNION ALL
              SELECT "column", 'histogram', 'psi', psi, 0.1, 0.2 FROM terms
              UNION ALL
              SELECT "column", 'histogram', 'hellinger', hellinger, 0.05, 0.15
              FROM terms
            )
            SELECT "column", kind, metric, ROUND(score, 6) AS score,
                   CASE WHEN score < mod_t THEN 'LOW'
                        WHEN score < sev_t THEN 'MODERATE'
                        ELSE 'SEVERE' END AS severity
            FROM long
        """,
        "compare_tables": """
            WITH e AS (
              SELECT event_id, epoch_ms(ts) AS ts, value, event_type FROM events
            ),
            l AS (SELECT * FROM e WHERE event_id % 17 != 0),
            r AS (
              SELECT event_id, ts,
                     CASE WHEN event_id % 11 = 0 THEN NULL
                          ELSE value + CASE WHEN event_id % 7 = 0
                                            THEN 1.0 ELSE 0.0 END
                     END AS value,
                     event_type
              FROM e WHERE event_id % 13 != 0
            ),
            j AS (
              SELECT l.value AS vl, r.value AS vr,
                     l.event_type AS tl, r.event_type AS tr,
                     l.event_id IS NOT NULL OR l.ts IS NOT NULL AS has_l,
                     r.event_id IS NOT NULL OR r.ts IS NOT NULL AS has_r
              FROM l FULL JOIN r USING (event_id, ts)
            ),
            m AS (
              SELECT 'value' AS "column",
                     CAST(COUNT(*) AS BIGINT) AS total,
                     CAST(SUM(CASE WHEN vl IS NULL AND vr IS NULL
                                   THEN 1 ELSE 0 END) AS BIGINT) AS both_null,
                     CAST(SUM(CASE WHEN vl IS NULL AND vr IS NOT NULL
                                   THEN 1 ELSE 0 END) AS BIGINT) AS left_null,
                     CAST(SUM(CASE WHEN vl IS NOT NULL AND vr IS NULL
                                   THEN 1 ELSE 0 END) AS BIGINT) AS right_null,
                     CAST(SUM(CASE WHEN vl IS NOT NULL AND vr IS NOT NULL
                                        AND vl != vr
                                   THEN 1 ELSE 0 END) AS BIGINT) AS mismatch,
                     -- Spark/reference: WHEN(denom != 0, ...).OTHERWISE(0)
                     -- routes NULL pairs to 0.0, so they dilute the mean
                     ROUND(AVG(CASE
                         WHEN vl IS NULL OR vr IS NULL THEN 0.0
                         WHEN ABS(vl) + ABS(vr) = 0 THEN 0.0
                         ELSE ABS(vl - vr) * 2 / (ABS(vl) + ABS(vr))
                       END), 6) AS smape,
                     ROUND(quantile_cont(vl - vr, 0.05), 6) AS diff_p05,
                     ROUND(quantile_cont(vl - vr, 0.50), 6) AS diff_p50,
                     ROUND(quantile_cont(vl - vr, 0.95), 6) AS diff_p95
              FROM j
              UNION ALL
              SELECT 'event_type',
                     CAST(COUNT(*) AS BIGINT),
                     CAST(SUM(CASE WHEN tl IS NULL AND tr IS NULL
                                   THEN 1 ELSE 0 END) AS BIGINT),
                     CAST(SUM(CASE WHEN tl IS NULL AND tr IS NOT NULL
                                   THEN 1 ELSE 0 END) AS BIGINT),
                     CAST(SUM(CASE WHEN tl IS NOT NULL AND tr IS NULL
                                   THEN 1 ELSE 0 END) AS BIGINT),
                     CAST(SUM(CASE WHEN tl IS NOT NULL AND tr IS NOT NULL
                                        AND tl != tr
                                   THEN 1 ELSE 0 END) AS BIGINT),
                     CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                     CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
              FROM j
            )
            SELECT * FROM m
        """,
        "feature_stats": """
            WITH e AS (
              SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS ds,
                     event_type, value, props
              FROM events
            ),
            t AS (SELECT ds, CAST(COUNT(*) AS BIGINT) AS total FROM e GROUP BY ds),
            num AS (
              SELECT ds, 'value' AS "column",
                     CAST(COUNT(*) - COUNT(value) AS BIGINT) AS null_count,
                     CAST(COUNT(DISTINCT value) AS BIGINT) AS unique_count,
                     CAST(COALESCE(SUM(CASE WHEN value = 0 THEN 1 END), 0) AS BIGINT)
                         AS zero_count,
                     ROUND(MIN(value), 6) AS min_value,
                     ROUND(MAX(value), 6) AS max_value,
                     ROUND(AVG(value), 6) AS avg_value,
                     ROUND(var_pop(value), 6) AS variance,
                     ROUND(quantile_cont(value, 0.05), 6) AS p05,
                     ROUND(quantile_cont(value, 0.25), 6) AS p25,
                     ROUND(quantile_cont(value, 0.50), 6) AS p50,
                     ROUND(quantile_cont(value, 0.75), 6) AS p75,
                     ROUND(quantile_cont(value, 0.95), 6) AS p95
              FROM e GROUP BY ds
            ),
            cats AS (
              SELECT ds, c.name AS "column",
                     CAST(COUNT(*) - COUNT(CASE WHEN c.name = 'event_type'
                                                THEN event_type ELSE props END)
                          AS BIGINT) AS null_count,
                     CAST(COUNT(DISTINCT CASE WHEN c.name = 'event_type'
                                              THEN event_type ELSE props END)
                          AS BIGINT) AS unique_count,
                     CAST(NULL AS BIGINT) AS zero_count,
                     CAST(NULL AS DOUBLE) AS min_value,
                     CAST(NULL AS DOUBLE) AS max_value,
                     CAST(NULL AS DOUBLE) AS avg_value,
                     CAST(NULL AS DOUBLE) AS variance,
                     CAST(NULL AS DOUBLE) AS p05, CAST(NULL AS DOUBLE) AS p25,
                     CAST(NULL AS DOUBLE) AS p50, CAST(NULL AS DOUBLE) AS p75,
                     CAST(NULL AS DOUBLE) AS p95
              FROM e, (VALUES ('event_type'), ('props')) c(name)
              GROUP BY ds, c.name
            ),
            u AS (SELECT * FROM num UNION ALL SELECT * FROM cats)
            SELECT u.ds, u."column", t.total, u.null_count,
                   ROUND(CAST(u.null_count AS DOUBLE) / t.total, 6) AS null_rate,
                   u.unique_count, u.zero_count, u.min_value, u.max_value,
                   u.avg_value, u.variance, u.p05, u.p25, u.p50, u.p75, u.p95
            FROM u JOIN t USING (ds)
        """,
        "analyze_skew_keys": """
            WITH m AS (
              SELECT 'user_id' AS col_name,
                     COALESCE(CAST(user_id AS VARCHAR), 'NULL') AS key_value
              FROM events
              UNION ALL
              SELECT 'event_type', COALESCE(event_type, 'NULL') FROM events
            ),
            c AS (
              SELECT col_name, key_value, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM m GROUP BY col_name, key_value
            ),
            r AS (
              SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY col_name ORDER BY cnt DESC, key_value ASC) AS rk
              FROM c
            )
            SELECT col_name, key_value, cnt FROM r WHERE rk <= 5
        """,
        # recompute_days labeling flow: stale heads (x1 cents) + matured
        # trailing 2 days (x10) — the oracle recomputes the mixed state.
        "staging_recompute": """
            SELECT ds,
                   CAST(CASE WHEN ds >= '2024-01-07'
                        THEN 10 * SUM(CAST(round(value * 100, 0) AS BIGINT))
                        ELSE SUM(CAST(round(value * 100, 0) AS BIGINT))
                   END AS BIGINT) AS label_cents
            FROM (
              SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS ds, value
              FROM events
            )
            WHERE ds <= '2024-01-08'
            GROUP BY ds
        """,
        # composed curation pipeline: every stage recomputed from raw
        # text — quality window over the corpus subset, 20-shingle eval
        # sweep, exact all-pairs Jaccard (recall-1 banding regime),
        # recursive-CTE closure, rolling-hash 90/5/5 split.
        "corpus_curation": f"""
            WITH RECURSIVE corpus0 AS (
              SELECT doc_id, lang, text FROM documents WHERE doc_id % 50 != 0
            ),
            qbase AS (
              SELECT doc_id, lang, text,
                CAST(length(text) AS DOUBLE) AS n,
                CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(string_split_regex(trim(text), '\\s+')) END AS toks,
                length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS keep_alpha,
                length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS keep_punct,
                len(regexp_extract_all(text, '(?i)\\b(the|and|of|to|is|that)\\b')) AS s_en
              FROM corpus0
            ),
            qr AS (
              SELECT doc_id, lang, text, s_en,
                CASE WHEN n > 0 THEN (n - keep_alpha) / n ELSE 0.0 END AS alpha_ratio,
                CASE WHEN n > 0 THEN (n - keep_punct) / n ELSE 0.0 END AS punct_ratio,
                CAST(toks AS DOUBLE) AS td
              FROM qbase
            ),
            qq AS (
              SELECT doc_id, lang, text,
                ROUND((LEAST(td / 20.0, 1.0)
                       + alpha_ratio
                       + (1.0 - LEAST(punct_ratio * 4, 1.0))
                       + LEAST(CAST(s_en AS DOUBLE) / GREATEST(td, 1.0) * 5, 1.0)) / 4
                      + 1e-9, 6) AS quality
              FROM qr
            ),
            gated AS (
              SELECT doc_id, lang, text, quality FROM (
                SELECT *, ROUND(PERCENT_RANK() OVER (
                    PARTITION BY lang ORDER BY quality) + 1e-9, 6) AS q_rank
                FROM qq
              ) WHERE q_rank >= 0.5
            ),
            tr_sh AS (
              SELECT doc_id, UNNEST({_SHINGLE20_SQL}) AS s FROM gated
            ),
            ev AS (
              SELECT DISTINCT UNNEST({_SHINGLE20_SQL}) AS s
              FROM documents WHERE doc_id % 50 = 0
            ),
            hits AS (
              SELECT t.doc_id, COUNT(*) AS nhit
              FROM tr_sh t JOIN ev ON t.s = ev.s GROUP BY t.doc_id
            ),
            clean AS (
              SELECT g.doc_id, g.lang, g.text, g.quality,
                     CAST(COALESCE(h.nhit, 0) AS BIGINT) AS eval_overlap
              FROM gated g LEFT JOIN hits h ON g.doc_id = h.doc_id
              WHERE COALESCE(h.nhit, 0) < 3
            ),
            docs8 AS (
              SELECT doc_id AS id,
                list_distinct(list_transform(
                  CASE WHEN length(text) >= 8
                       THEN [substr(text, i, 8) FOR i IN range(1, length(text) - 6)]
                       ELSE [text] END,
                  s -> list_reduce(
                         list_prepend(CAST(0 AS BIGINT),
                           list_transform(string_split_regex(s, ''),
                                          ch -> CAST(ascii(ch) AS BIGINT))),
                         (acc, x) -> (acc * 131 + x) % 1000000007))) AS sh
              FROM clean
            ),
            inv AS (SELECT id, len(sh) AS sz, UNNEST(sh) AS s FROM docs8),
            co AS (
              SELECT a.id AS id_a, b.id AS id_b, a.sz AS sz_a, b.sz AS sz_b,
                     COUNT(*) AS inter
              FROM inv a JOIN inv b ON a.s = b.s AND a.id < b.id
              GROUP BY 1, 2, 3, 4
            ),
            pairs AS (
              SELECT id_a, id_b FROM co
              WHERE inter / CAST(sz_a + sz_b - inter AS DOUBLE) >= 0.3
            ),
            edges AS (
              SELECT id_a AS s, id_b AS d FROM pairs
              UNION SELECT id_b, id_a FROM pairs
            ),
            walk(s, d) AS (
              SELECT s, d FROM edges
              UNION
              SELECT w.s, e.d FROM walk w JOIN edges e ON w.d = e.s
            ),
            comp AS (
              SELECT s AS id, LEAST(s, MIN(d)) AS cluster_id
              FROM walk GROUP BY s
            )
            SELECT c.doc_id, c.lang, c.quality, c.eval_overlap,
                   COALESCE(comp.cluster_id, c.doc_id) AS cluster_id,
                   COALESCE(comp.cluster_id, c.doc_id) = c.doc_id AS is_canonical,
                   CASE WHEN {_fp_bucket_sql('c.doc_id', 'split')} < 9000 THEN 'train'
                        WHEN {_fp_bucket_sql('c.doc_id', 'split')} < 9500 THEN 'val'
                        ELSE 'test' END AS split
            FROM clean c LEFT JOIN comp ON comp.id = c.doc_id
        """,
        # exact substring dedup: the oracle dedups on the ACTUAL substring
        # (stronger than the engine's 62-bit hash — a match certifies the
        # fingerprint collision-free at this scale) and replays the same
        # interval merge with window functions.
        "dedup_substring_spans": """
            WITH g AS (
              SELECT doc_id,
                     UNNEST([{'pos': i, 's': substr(text, i, 50)}
                             FOR i IN range(1, length(text) - 48)]) AS u
              FROM documents WHERE length(text) >= 50
            ),
            occ AS (SELECT doc_id, u.pos AS pos, u.s AS s FROM g),
            d AS (SELECT s FROM occ GROUP BY s HAVING COUNT(*) >= 2),
            hits AS (
              SELECT doc_id, pos FROM occ WHERE s IN (SELECT s FROM d)
            ),
            flagged AS (
              SELECT doc_id, pos,
                     CASE WHEN MAX(pos + 50) OVER (
                              PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                          ) IS NULL
                          OR pos > MAX(pos + 50) OVER (
                              PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                          )
                          THEN 1 ELSE 0 END AS new_span
              FROM hits
            ),
            grouped AS (
              SELECT doc_id, pos,
                     SUM(new_span) OVER (
                         PARTITION BY doc_id ORDER BY pos
                     ) AS span_id
              FROM flagged
            )
            SELECT doc_id, MIN(pos) AS span_start,
                   MAX(pos) + 50 AS span_end,
                   COUNT(*) AS dup_grams
            FROM grouped GROUP BY doc_id, span_id
        """,
        # PII scrub: the same regex cascade replayed in RE2; the hash over
        # the full redacted text pins pattern semantics + cascade order.
        "corpus_redact_pii": r"""
            WITH s1 AS (
              SELECT doc_id, text,
                CAST(len(regexp_extract_all(text,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
                    AS n_email,
                regexp_replace(text,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                    '<EMAIL>', 'g') AS t1
              FROM documents
            ),
            s2 AS (
              SELECT doc_id, n_email,
                CAST(len(regexp_extract_all(t1,
                    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
                regexp_replace(t1,
                    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t2
              FROM s1
            )
            SELECT doc_id, n_email, n_ip,
                CAST(len(regexp_extract_all(t2,
                    '\+?\d{1,3}[- ]\(?\d{2,4}\)?[- ]\d{3,4}[- ]?\d{2,4}\b'))
                    AS BIGINT) AS n_phone,
                regexp_replace(t2,
                    '\+?\d{1,3}[- ]\(?\d{2,4}\)?[- ]\d{3,4}[- ]?\d{2,4}\b',
                    '<PHONE>', 'g') AS text_redacted
            FROM s2
        """,
        # Gopher repetition metrics: gram counts recomputed from raw text
        # (list slices + group-by), coverage restricted to repeats.
        "corpus_repetition": r"""
            WITH w AS (
              SELECT doc_id,
                     CASE WHEN length(trim(text)) = 0 THEN []
                          ELSE string_split_regex(trim(text), '\s+') END AS ws,
                     GREATEST(length(text), 1) AS L
              FROM documents
            ),
            g2 AS (SELECT doc_id, L, UNNEST([array_to_string(ws[i:i+1], ' ')
                          FOR i IN range(1, len(ws))]) AS g
                   FROM w WHERE len(ws) >= 2),
            g3 AS (SELECT doc_id, L, UNNEST([array_to_string(ws[i:i+2], ' ')
                          FOR i IN range(1, len(ws) - 1)]) AS g
                   FROM w WHERE len(ws) >= 3),
            g4 AS (SELECT doc_id, L, UNNEST([array_to_string(ws[i:i+3], ' ')
                          FOR i IN range(1, len(ws) - 2)]) AS g
                   FROM w WHERE len(ws) >= 4),
            g5 AS (SELECT doc_id, UNNEST([array_to_string(ws[i:i+4], ' ')
                          FOR i IN range(1, len(ws) - 3)]) AS g
                   FROM w WHERE len(ws) >= 5),
            t2 AS (SELECT doc_id, MAX(cnt * gl) / ANY_VALUE(L) AS v FROM (
                     SELECT doc_id, ANY_VALUE(L) AS L, length(g) AS gl,
                            COUNT(*) AS cnt
                     FROM g2 GROUP BY doc_id, g HAVING COUNT(*) >= 2
                   ) GROUP BY doc_id),
            t3 AS (SELECT doc_id, MAX(cnt * gl) / ANY_VALUE(L) AS v FROM (
                     SELECT doc_id, ANY_VALUE(L) AS L, length(g) AS gl,
                            COUNT(*) AS cnt
                     FROM g3 GROUP BY doc_id, g HAVING COUNT(*) >= 2
                   ) GROUP BY doc_id),
            t4 AS (SELECT doc_id, MAX(cnt * gl) / ANY_VALUE(L) AS v FROM (
                     SELECT doc_id, ANY_VALUE(L) AS L, length(g) AS gl,
                            COUNT(*) AS cnt
                     FROM g4 GROUP BY doc_id, g HAVING COUNT(*) >= 2
                   ) GROUP BY doc_id),
            d5 AS (SELECT doc_id,
                          (COUNT(*) - COUNT(DISTINCT g)) / CAST(COUNT(*) AS DOUBLE) AS v
                   FROM g5 GROUP BY doc_id)
            SELECT d.doc_id,
                   ROUND(COALESCE(t2.v, 0) + 1e-9, 6) AS top2_char_frac,
                   ROUND(COALESCE(t3.v, 0) + 1e-9, 6) AS top3_char_frac,
                   ROUND(COALESCE(t4.v, 0) + 1e-9, 6) AS top4_char_frac,
                   ROUND(COALESCE(d5.v, 0) + 1e-9, 6) AS dup5_frac,
                   (COALESCE(t2.v, 0) > 0.20 OR COALESCE(t3.v, 0) > 0.18
                    OR COALESCE(t4.v, 0) > 0.16 OR COALESCE(d5.v, 0) > 0.15)
                       AS repetitive
            FROM documents d
            LEFT JOIN t2 ON d.doc_id = t2.doc_id
            LEFT JOIN t3 ON d.doc_id = t3.doc_id
            LEFT JOIN t4 ON d.doc_id = t4.doc_id
            LEFT JOIN d5 ON d.doc_id = d5.doc_id
        """,
        # quality gate: the full quality formula + percent_rank window
        # recomputed from raw text (rank runs on the 6dp-rounded value in
        # both engines, so ties agree).
        "corpus_quality_gate": r"""
            WITH base AS (
              SELECT doc_id, lang,
                CAST(length(text) AS DOUBLE) AS n,
                CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(string_split_regex(trim(text), '\s+')) END AS toks,
                length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS keep_alpha,
                length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')) AS keep_punct,
                len(regexp_extract_all(text, '(?i)\b(the|and|of|to|is|that)\b')) AS s_en
              FROM documents
            ),
            r AS (
              SELECT doc_id, lang, s_en,
                CASE WHEN n > 0 THEN (n - keep_alpha) / n ELSE 0.0 END AS alpha_ratio,
                CASE WHEN n > 0 THEN (n - keep_punct) / n ELSE 0.0 END AS punct_ratio,
                CAST(toks AS DOUBLE) AS td
              FROM base
            ),
            q AS (
              SELECT doc_id, lang,
                ROUND((LEAST(td / 20.0, 1.0)
                       + alpha_ratio
                       + (1.0 - LEAST(punct_ratio * 4, 1.0))
                       + LEAST(CAST(s_en AS DOUBLE) / GREATEST(td, 1.0) * 5, 1.0)) / 4
                      + 1e-9, 6) AS quality
              FROM r
            ),
            ranked AS (
              SELECT doc_id, lang, quality,
                     ROUND(PERCENT_RANK() OVER (
                         PARTITION BY lang ORDER BY quality) + 1e-9, 6) AS q_rank
              FROM q
            )
            SELECT doc_id, lang, quality, q_rank FROM ranked
            WHERE q_rank >= 0.5
        """,
        # unigram-LM quality scoring: the oracle REFITS the whole model
        # from raw text (token split mirrors text._lm_tokens, add-alpha
        # smoothing, N/V constants) and rescores every doc — model fit
        # and scoring both inside the hash
        "corpus_lm_score": r"""
            WITH tok AS (
              SELECT doc_id, t.token AS token
              FROM documents,
                   UNNEST(list_filter(
                     string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '')) AS t(token)
            ),
            vocab AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY token),
            const AS (
              SELECT CAST(SUM(c) AS DOUBLE) AS n_total,
                     CAST(COUNT(*) AS DOUBLE) AS v_total
              FROM vocab
            ),
            scored AS (
              SELECT doc_id, COUNT(*) AS n_lm_tokens,
                     -AVG(ln((v.c + 0.5)
                             / (const.n_total + 0.5 * (const.v_total + 1))))
                       / ln(2) AS bpt
              FROM tok JOIN vocab v USING (token) CROSS JOIN const
              GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(COALESCE(s.n_lm_tokens, 0) AS BIGINT) AS n_lm_tokens,
                   ROUND(s.bpt + 1e-9, 6) AS bits_per_token
            FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
        """,
        # per-source token budget: the oracle runs the NAIVE prefix rule
        # (window cumsum in (hash, id) order, keep while <= budget); the
        # engine's two-phase bucket plan must reproduce it exactly
        "corpus_token_budget": f"""
            WITH d AS (
              SELECT doc_id, source,
                CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(string_split_regex(trim(text), '\\s+')) END
                  AS n_tokens,
                {_fp_bucket_sql('doc_id', 'budget')} AS bk
              FROM documents
            ),
            c AS (
              SELECT *, SUM(n_tokens) OVER (
                  PARTITION BY source ORDER BY bk, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM d
            )
            SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens
            FROM c WHERE cum <= 600
        """,
        # token-bounded chunking: DuckDB re-derives every chunk by
        # list-slicing the token array (1-based inclusive, length-clamped
        # like Spark's slice)
        "corpus_chunk": r"""
            WITH t AS (
              SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
              FROM documents WHERE length(trim(text)) > 0
            ),
            nn AS (SELECT doc_id, toks, len(toks) AS n FROM t),
            k AS (
              SELECT *, GREATEST(1,
                CAST(FLOOR((n - 8 + 31) / 32.0) AS BIGINT)) AS nk
              FROM nn
            ),
            e AS (
              SELECT doc_id, toks, n, UNNEST(range(nk)) AS chunk_idx FROM k
            )
            SELECT doc_id, chunk_idx,
                   LEAST(40, n - chunk_idx * 32) AS n_chunk_tokens,
                   array_to_string(
                     toks[chunk_idx * 32 + 1 : chunk_idx * 32 + 40], ' '
                   ) AS chunk_text
            FROM e
        """,
        # incremental dedup: exact cross-pair Jaccard between the batch
        # and the corpus (derived oracle — banding recall 1.0 pinned).
        "dedup_incremental": """
            WITH docs AS (
              SELECT doc_id AS id,
                list_distinct(list_transform(
                  CASE WHEN length(text) >= 8
                       THEN [substr(text, i, 8) FOR i IN range(1, length(text) - 6)]
                       ELSE [text] END,
                  s -> list_reduce(
                         list_prepend(CAST(0 AS BIGINT),
                           list_transform(string_split_regex(s, ''),
                                          ch -> CAST(ascii(ch) AS BIGINT))),
                         (acc, x) -> (acc * 131 + x) % 1000000007))) AS sh
              FROM documents
            ),
            inv AS (SELECT id, len(sh) AS sz, UNNEST(sh) AS s FROM docs),
            co AS (
              SELECT a.id AS new_id, b.id AS corpus_id,
                     a.sz AS sz_a, b.sz AS sz_b, COUNT(*) AS inter
              FROM inv a JOIN inv b ON a.s = b.s
              WHERE a.id % 10 = 0 AND b.id % 10 != 0
              GROUP BY 1, 2, 3, 4
            )
            SELECT new_id, corpus_id,
                   ROUND(inter / CAST(sz_a + sz_b - inter AS DOUBLE) + 1e-9, 6)
                       AS jaccard
            FROM co
            WHERE inter / CAST(sz_a + sz_b - inter AS DOUBLE) >= 0.3
        """,
        # -- corpus sampling / mixing / packing / decontamination (r3) ----
        # every bucket recomputed from raw ids via the rolling hash — the
        # oracle certifies exact membership, not proportions.
        "corpus_split": f"""
            WITH b AS (
              SELECT doc_id, {_fp_bucket_sql('doc_id', 'split')} AS bucket
              FROM documents
            )
            SELECT doc_id, bucket,
                   CASE WHEN bucket < 8000 THEN 'train'
                        WHEN bucket < 9000 THEN 'val'
                        ELSE 'test' END AS split
            FROM b
        """,
        "corpus_stratified_sample": f"""
            SELECT doc_id, lang, source FROM documents
            WHERE {_fp_bucket_sql('doc_id', 'sample')} <
                  CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2000
                            WHEN 'fr' THEN 10000 WHEN 'zh' THEN 1000
                            ELSE 2500 END
        """,
        "corpus_weighted_mix": f"""
            SELECT doc_id, 'short' AS mix_source, CAST(c AS INTEGER) AS mix_copy
            FROM documents CROSS JOIN range(2) t(c) WHERE n_chars < 300
            UNION ALL
            SELECT doc_id, 'short', 2 FROM documents
            WHERE n_chars < 300 AND {_fp_bucket_sql('doc_id', 'mix:short')} < 3000
            UNION ALL
            SELECT doc_id, 'long', 0 FROM documents
            WHERE n_chars >= 300 AND {_fp_bucket_sql('doc_id', 'mix:long')} < 5000
        """,
        # the greedy fold replayed row-by-row as a recursive CTE: bin
        # opens when acc + tokens would exceed the budget (oversized docs
        # isolated), exactly sampling.pack_sequences' kernel.
        "corpus_pack": """
            WITH RECURSIVE ordered AS (
              SELECT lang AS pack_key, doc_id AS id, n_chars AS tokens,
                     ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
              FROM documents
            ),
            walk(pack_key, rn, id, tokens, bin, acc) AS (
              SELECT pack_key, rn, id, tokens, CAST(0 AS BIGINT), tokens
              FROM ordered WHERE rn = 1
              UNION ALL
              SELECT o.pack_key, o.rn, o.id, o.tokens,
                     CASE WHEN w.acc + o.tokens > 2000 AND w.acc > 0
                          THEN w.bin + 1 ELSE w.bin END,
                     CASE WHEN w.acc + o.tokens > 2000 AND w.acc > 0
                          THEN o.tokens ELSE w.acc + o.tokens END
              FROM walk w JOIN ordered o
                ON o.pack_key = w.pack_key AND o.rn = w.rn + 1
            )
            SELECT pack_key, id, tokens, bin FROM walk
        """,
        "corpus_decontaminate": f"""
            WITH tr AS (
              SELECT doc_id, {_SHINGLE20_SQL} AS sh
              FROM documents WHERE doc_id % 50 != 0
            ),
            ev AS (
              SELECT DISTINCT UNNEST({_SHINGLE20_SQL}) AS s
              FROM documents WHERE doc_id % 50 = 0
            ),
            hits AS (
              SELECT t.doc_id, COUNT(*) AS n
              FROM (SELECT doc_id, UNNEST(sh) AS s FROM tr) t
              JOIN ev ON t.s = ev.s
              GROUP BY t.doc_id
            )
            SELECT tr.doc_id,
                   CAST(COALESCE(hits.n, 0) AS BIGINT) AS eval_overlap,
                   COALESCE(hits.n, 0) >= 3 AS contaminated
            FROM tr LEFT JOIN hits ON tr.doc_id = hits.doc_id
        """,
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the point-in-time as-of join on sf0.001."""
    return q_temporal_join_asof(spark, SF_DEFAULT)
