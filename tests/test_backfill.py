"""Backfill orchestration tests: unfilled-range resume, step chunking,
manifest lineage, semantic-hash invalidation, modular == monolith."""

import shutil

import numpy as np
import pytest
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
from chronon_spark.partitions import PartitionRange
from chronon_spark.plans.backfill import (
    MANIFEST_SCHEMA,
    MANIFEST_TABLE,
    groupby_backfill,
    join_backfill,
    run_modular_join,
    semantic_hash,
)
from chronon_spark.sources.catalog import ParquetWarehouse

BASE = 1704067200000
DAY = 86_400_000


@pytest.fixture()
def wh(spark, tmp_path):
    return ParquetWarehouse(spark, str(tmp_path / "warehouse"))


@pytest.fixture(scope="module")
def events_path(spark, tmp_path_factory):
    rng = np.random.default_rng(21)
    rows = [
        (
            int(rng.integers(0, 10)),
            int(BASE + rng.integers(0, 20 * DAY)),
            float(round(rng.uniform(0, 100), 2)),
        )
        for _ in range(3000)
    ]
    df = spark.createDataFrame(rows, "user_id int, ts long, value double")
    p = str(tmp_path_factory.mktemp("ev") / "events.parquet")
    df.write.parquet(p)
    return p


def _gb(events_path, windows=(7,)):
    return GroupBy(
        sources=[EventSource(events_path, Query(
            selects={"user_id": "user_id", "value": "value"}, time_column="ts"))],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("value", Operation.SUM, windows=[Window(w) for w in windows]),
            Aggregation("value", Operation.COUNT, windows=[Window(w) for w in windows]),
        ],
        name="g",
    )


def test_backfill_writes_partitions_and_manifest(spark, wh, events_path):
    job = groupby_backfill(spark, wh, _gb(events_path), "g_out", step_days=5)
    rep = job.run("2024-01-03", "2024-01-14")
    assert wh.partitions("g_out") == [f"2024-01-{d:02d}" for d in range(3, 15)]
    assert rep.rows_written > 0
    man = job.manifest().where(F.col("output_table") == "g_out")
    ds_rows = {r["ds"]: r["rows"] for r in man.collect()}
    assert set(ds_rows) == set(wh.partitions("g_out"))
    assert all(r["status"] == "ok" for r in man.collect())
    # chunked into ceil(12/5)=3 steps
    assert len(rep.steps) == 3


def test_backfill_step_single_pass_and_footer_counts(spark, tmp_path, events_path):
    """A step writes its DataFrame once, uncached, and the manifest rows
    per ds (read from the committed files' footers) equal a data count."""
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    writes = []

    class Probe(ParquetWarehouse):
        def insert_overwrite(self, df, table, cluster_by=None):
            writes.append((df.is_cached,
                           spark.sparkContext._jsc.getPersistentRDDs().size()))
            super().insert_overwrite(df, table, cluster_by=cluster_by)

    wh = Probe(spark, str(tmp_path / "warehouse"))
    job = groupby_backfill(spark, wh, _gb(events_path), "g_out", step_days=5,
                           cluster_by=["user_id"])
    rep = job.run("2024-01-03", "2024-01-14")
    assert writes == [(False, persisted)] * 3
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted
    counted = {r["ds"]: r["count"]
               for r in wh.read("g_out").groupBy("ds").count().collect()}
    man = {r["ds"]: r["rows"] for r in job.manifest().collect()}
    assert man == counted
    assert rep.rows_written == sum(counted.values())


def test_step_counts_ignore_concurrent_commits(spark, tmp_path, events_path):
    """Another writer committing a different partition while a step writes
    must not leak into that step's manifest rows."""
    foreign = spark.createDataFrame([(1, 2.0, "2024-02-01")], "user_id int, v double, ds string")

    class Concurrent(ParquetWarehouse):
        def insert_overwrite(self, df, table, cluster_by=None):
            super().insert_overwrite(df, table, cluster_by=cluster_by)
            super().insert_overwrite(foreign, table)

    wh = Concurrent(spark, str(tmp_path / "warehouse"))
    job = groupby_backfill(spark, wh, _gb(events_path), "g_out", step_days=5)
    job.run("2024-01-03", "2024-01-04")
    man = {r["ds"]: r["rows"] for r in job.manifest().collect()}
    counted = {r["ds"]: r["count"] for r in wh.read("g_out").where("ds < '2024-02-01'")
               .groupBy("ds").count().collect()}
    assert man == counted and set(man) == {"2024-01-03", "2024-01-04"}


def test_manifest_record_runs_no_spark_job(spark, wh):
    """`_record` appends the manifest on the driver: zero Spark jobs, and
    the file reads back together with Spark-written manifest files."""
    sc = spark.sparkContext
    job = groupby_backfill(spark, wh, _gb("unused"), "g_out")
    spark.createDataFrame(
        [("old", "g_out", "2024-01-01", 5, "2024-01-01", "2024-01-01", 1.0, "h", 1, "ok")],
        MANIFEST_SCHEMA,
    ).write.parquet(wh.path(MANIFEST_TABLE))
    sc.setJobGroup("manifest-record", "manifest append")
    try:
        job._record({"2024-01-02": 7, "2024-01-03": 0},
                    PartitionRange("2024-01-02", "2024-01-03"), 0.5)
        job._record({}, PartitionRange("2024-01-04", "2024-01-04"), 0.1,
                    status="refreshed")
        assert list(sc.statusTracker().getJobIdsForGroup("manifest-record")) == []
        rows = sorted(tuple(r) for r in
                      job.manifest().select("ds", "rows", "status").collect())
        assert list(sc.statusTracker().getJobIdsForGroup("manifest-record"))  # probe sees jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows == [("2024-01-01", 5, "ok"), ("2024-01-02", 7, "ok"),
                    ("2024-01-03", 0, "ok"), ("2024-01-04", 0, "empty")]
    assert job.manifest().schema == spark.createDataFrame([], MANIFEST_SCHEMA).schema


def test_empty_step_records_empty_status(spark, wh, events_path):
    job = groupby_backfill(spark, wh, _gb(events_path), "g_out", step_days=5)
    rep = job.run("2024-03-01", "2024-03-02")
    assert rep.rows_written == 0
    man = [(r["ds"], r["rows"], r["status"]) for r in job.manifest().collect()]
    assert man == [("2024-03-01", 0, "empty")]


def test_backfill_resume_only_missing(spark, wh, events_path):
    job = groupby_backfill(spark, wh, _gb(events_path), "g_out", step_days=30)
    job.run("2024-01-03", "2024-01-10")
    # knock out two partitions (simulated failure)
    for ds in ("2024-01-05", "2024-01-06"):
        shutil.rmtree(f"{wh.path('g_out')}/ds={ds}")
    rep2 = job.run("2024-01-03", "2024-01-12")
    # recomputed exactly the hole + the new tail, nothing else
    assert [(r.rng.start, r.rng.end) for r in rep2.steps] == [
        ("2024-01-05", "2024-01-06"),
        ("2024-01-11", "2024-01-12"),
    ]
    rep3 = job.run("2024-01-03", "2024-01-12")
    assert rep3.steps == []  # fully filled -> no-op


def test_backfill_results_match_direct_compute(spark, wh, events_path):
    from chronon_spark.operators.groupby import compute_snapshot_groupby

    gb = _gb(events_path)
    job = groupby_backfill(spark, wh, gb, "g_out", step_days=4)
    job.run("2024-01-03", "2024-01-14")
    got = {
        (r["user_id"], r["ds"]): (r["value_sum_7d"], r["value_count_7d"])
        for r in wh.read("g_out").collect()
    }
    rng = PartitionRange("2024-01-03", "2024-01-14")
    expect = {
        (r["user_id"], r["ds"]): (r["value_sum_7d"], r["value_count_7d"])
        for r in compute_snapshot_groupby(spark, gb, rng).collect()
    }
    assert set(got) == set(expect)
    for k in got:
        assert got[k][0] == pytest.approx(expect[k][0])
        assert got[k][1] == expect[k][1]


def test_semantic_hash_invalidation(spark, wh, events_path):
    job = groupby_backfill(spark, wh, _gb(events_path, windows=(7,)), "g_out")
    job.run("2024-01-03", "2024-01-08")
    # same config -> no recompute
    job2 = groupby_backfill(spark, wh, _gb(events_path, windows=(7,)), "g_out")
    rep_same = job2.run("2024-01-03", "2024-01-08")
    assert not rep_same.recomputed_for_semantics and rep_same.steps == []
    # changed window -> full recompute
    job3 = groupby_backfill(spark, wh, _gb(events_path, windows=(3,)), "g_out")
    rep_new = job3.run("2024-01-03", "2024-01-08")
    assert rep_new.recomputed_for_semantics and rep_new.steps
    assert "value_sum_3d" in wh.read("g_out").columns


def test_semantic_hash_stability():
    a = semantic_hash(_gb("/p/events.parquet"))
    b = semantic_hash(_gb("/p/events.parquet"))
    c = semantic_hash(_gb("/p/events.parquet", windows=(3,)))
    assert a == b != c


def test_join_backfill_and_modular_equivalence(spark, wh, events_path):
    gb = _gb(events_path)
    left = EventSource(events_path, Query(
        selects={"user_id": "user_id"}, time_column="ts"))
    join = Join(left=left, join_parts=[JoinPart(gb, prefix="p")], name="j")
    rng = PartitionRange("2024-01-05", "2024-01-10")

    jb = join_backfill(spark, wh, join, "j_out", step_days=3)
    jb.run(rng.start, rng.end)
    mono = wh.read("j_out")

    modular = run_modular_join(spark, wh, join, rng)
    key = lambda r: (r["user_id"], r["ts"])
    a = {key(r): r["p_g_value_sum_7d"] for r in mono.collect()}
    b = {key(r): r["p_g_value_sum_7d"] for r in modular.collect()}
    assert set(a) == set(b) and len(a) > 0
    for k in a:
        if a[k] is None:
            assert b[k] is None
        else:
            assert a[k] == pytest.approx(b[k])


def test_autoexpand_additive_aggregation(spark, wh, events_path):
    """Additive schema evolution (reference: TableUtils.expandTable +
    tablesToRecompute): ADDING an aggregation keeps the table (no archive),
    but partitions written under the old definition are RE-MATERIALIZED so
    the new column carries values instead of silent NULLs."""
    job = groupby_backfill(spark, wh, _gb(events_path, windows=(7,)), "ae_out",
                           step_days=30)
    job.run("2024-01-03", "2024-01-06")

    gb2 = _gb(events_path, windows=(7,))
    gb2.aggregations.append(Aggregation("value", Operation.MAX, windows=[Window(3)]))
    job2 = groupby_backfill(spark, wh, gb2, "ae_out", step_days=30)
    rep = job2.run("2024-01-03", "2024-01-08")
    assert not rep.recomputed_for_semantics  # compatible: no archive
    assert rep.additive_refilled == [
        "2024-01-03", "2024-01-04", "2024-01-05", "2024-01-06"
    ]
    out = wh.read("ae_out")
    assert "value_max_3d" in out.columns
    # old partitions now carry VALUES for the added aggregation
    old = out.where("ds = '2024-01-04'").select("value_max_3d").collect()
    assert old and any(r["value_max_3d"] is not None for r in old)
    new = out.where("ds = '2024-01-08'").select("value_max_3d").collect()
    assert any(r["value_max_3d"] is not None for r in new)

    # idempotence: a third run under the SAME definition refills nothing
    job3 = groupby_backfill(spark, wh, gb2, "ae_out", step_days=30)
    rep3 = job3.run("2024-01-03", "2024-01-08")
    assert rep3.additive_refilled == [] and rep3.steps == []


def test_archive_on_semantic_change(spark, wh, events_path):
    """Changed (not added) aggregation: stale output is ARCHIVED, not
    destroyed (reference: archiveOrDropTableIfExists)."""
    import os

    job = groupby_backfill(spark, wh, _gb(events_path, windows=(7,)), "ar_out")
    job.run("2024-01-03", "2024-01-05")
    job2 = groupby_backfill(spark, wh, _gb(events_path, windows=(3,)), "ar_out")
    rep = job2.run("2024-01-03", "2024-01-05")
    assert rep.recomputed_for_semantics
    archived = [d for d in os.listdir(wh.root) if d.startswith("ar_out__archive_")]
    assert len(archived) == 1
    # the archived generation still holds the old column
    adf = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(wh.root, archived[0]))
    assert "value_sum_7d" in adf.columns
    assert "value_sum_3d" in wh.read("ar_out").columns


def test_staging_recompute_days_refreshes_trailing_window(spark, tmp_path):
    """StagingQuery.recompute_days (thrift/api.thrift:100-107): every run
    re-materializes the trailing N days even when green — the labeling
    flow for in-place source rewrites / maturing label windows. Older
    partitions stay untouched; changing recompute_days itself does not
    invalidate the table."""
    from chronon_spark.api import StagingQuery
    from chronon_spark.plans.backfill import staging_backfill
    from chronon_spark.sources.catalog import ParquetWarehouse

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    src = str(tmp_path / "labels")

    def write_source(mult):
        spark.createDataFrame(
            [(f"2024-01-0{d}", float(d * mult)) for d in range(1, 6)],
            "ds string, label double",
        ).write.mode("overwrite").parquet(src)

    write_source(1)
    sq = StagingQuery(
        query=f"SELECT ds, SUM(label) AS label FROM parquet.`{src}` "
              "WHERE ds BETWEEN '{{ start_date }}' AND '{{ end_date }}' "
              "GROUP BY ds",
        name="labels",
        recompute_days=2,
    )
    job = staging_backfill(spark, wh, sq, "labels_out", step_days=2)
    rep = job.run("2024-01-01", "2024-01-05")
    assert [p for p in wh.partitions("labels_out")] == [
        f"2024-01-0{d}" for d in range(1, 6)
    ]
    v1 = {r["ds"]: r["label"] for r in wh.read("labels_out").collect()}
    assert v1 == {f"2024-01-0{d}": float(d) for d in range(1, 6)}

    # source rewritten in place (labels matured); re-run refreshes ONLY
    # the trailing 2 days
    write_source(10)
    rep2 = staging_backfill(spark, wh, sq, "labels_out", step_days=2).run(
        "2024-01-01", "2024-01-05"
    )
    planned = sorted(p for h in rep2.planned for p in h.partitions())
    assert planned == ["2024-01-04", "2024-01-05"]
    v2 = {r["ds"]: r["label"] for r in wh.read("labels_out").collect()}
    assert v2 == {"2024-01-01": 1.0, "2024-01-02": 2.0, "2024-01-03": 3.0,
                  "2024-01-04": 40.0, "2024-01-05": 50.0}

    # without recompute_days a re-run is a no-op
    sq0 = StagingQuery(query=sq.query, name="labels")
    rep3 = staging_backfill(spark, wh, sq0, "labels_out").run(
        "2024-01-01", "2024-01-05"
    )
    assert rep3.rows_written == 0 and not rep3.recomputed_for_semantics


def test_backfill_start_date_clamps_requested_range(spark, tmp_path):
    """GroupBy.backfillStartDate (api.thrift:366): requested ranges clamp
    to it — no historical partitions before the date are generated."""
    from chronon_spark.api import (
        Aggregation, EventSource, GroupBy, Operation, Query, Window,
    )
    from chronon_spark.plans.backfill import groupby_backfill
    from chronon_spark.sources.catalog import ParquetWarehouse

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    gb = GroupBy(
        sources=[EventSource(
            "/root/testdata/sf0.001/events.parquet",
            Query(selects={"user_id": "user_id", "value": "value"},
                  time_column="unix_millis(cast(ts as timestamp))"),
        )],
        key_columns=["user_id"],
        aggregations=[Aggregation("value", Operation.SUM, windows=[Window(3)])],
        backfill_start_date="2024-01-04",
        name="clamped",
    )
    rep = groupby_backfill(spark, wh, gb, "out").run("2024-01-01", "2024-01-06")
    assert rep.requested.start == "2024-01-04"
    assert wh.partitions("out") == ["2024-01-04", "2024-01-05", "2024-01-06"]


def test_column_hashes_contract(spark):
    """MetaData.columnHashes analog: windows/op variants of the same
    (input, scan) share or split hashes per the thrift contract; source
    expression or filter changes flip every column's hash."""
    from chronon_spark.api import (
        Aggregation, EventSource, GroupBy, Operation, Query, Window,
    )
    from chronon_spark.plans.backfill import column_hashes

    def mk(expr="value", where=None):
        return GroupBy(
            sources=[EventSource("t", Query(
                selects={"u": "u", "v": expr}, wheres=where, time_column="ts"))],
            key_columns=["u"],
            aggregations=[
                Aggregation("v", Operation.SUM, windows=[Window(7), None]),
                Aggregation("v", Operation.MAX, windows=[Window(7)]),
            ],
            name="g",
        )

    base = column_hashes(mk())
    assert set(base) == {"v_sum_7d", "v_sum", "v_max_7d"}
    # window variants of one aggregation share; different op splits
    assert base["v_sum_7d"] == base["v_sum"] != base["v_max_7d"]
    # source-expression change flips ALL columns
    assert set(column_hashes(mk("value * 2")).values()).isdisjoint(base.values())
    # filter change flips too
    assert set(column_hashes(mk(where=["v > 0"])).values()).isdisjoint(base.values())
