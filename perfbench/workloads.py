"""The benchmark workloads, each written against the public API.

A workload object is built on a live session and an input set. `run_pass`
makes one timed pass (public compute call, execution, sink) and returns
the number of output feature rows. `write_copy` returns a directory that
holds the parquet output of one pass (an extra untimed pass, where the
timed sink writes nothing), and `check` verifies that copy against an
independent oracle, returning a list of problems (empty when correct).
"""

from __future__ import annotations

import glob
import os
import tempfile

import numpy as np
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from chronon_spark.api import (
    Accuracy,
    Aggregation,
    AggregationPart,
    EventSource,
    GroupBy,
    Join,
    JoinPart,
    Operation,
    Query,
    Window,
)
from chronon_spark.operators.sawtooth import naive_aggregate

SAMPLE_KEYS = 8      # keys checked against the oracle per workload, hot key included
SAMPLE_QUERIES = 3   # query rows checked per sampled key


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, (list, tuple, np.ndarray)):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return abs(float(a) - float(b)) <= 1e-9 * max(1.0, abs(float(a)), abs(float(b)))


def _sample(rng, keys: np.ndarray, hot) -> list:
    pool = np.unique(keys[keys != hot])
    n = min(SAMPLE_KEYS - 1, len(pool))
    return [hot, *rng.choice(pool, n, replace=False).tolist()]


def _naive_check(out_rows: dict, events: dict, key_col: str, parts, prefix: str,
                 keys: list, rng) -> list[str]:
    """Compare sampled output rows against `naive_aggregate` per key.

    out_rows / events: column -> numpy array, already read from parquet."""
    problems = []
    for key in keys:
        qi = np.flatnonzero(out_rows[key_col] == key)
        if len(qi) > SAMPLE_QUERIES:
            qi = np.sort(rng.choice(qi, SAMPLE_QUERIES, replace=False))
        if not len(qi):
            problems.append(f"{key_col}={key}: no output rows")
            continue
        ei = np.flatnonzero(events[key_col] == key)
        ei = ei[np.argsort(events["ts"][ei], kind="stable")]
        vals = {c: events[c][ei] for c in events if c not in (key_col, "ts")}
        want = naive_aggregate(events["ts"][ei], vals, out_rows["ts"][qi], parts)
        for p in parts:
            got = out_rows[prefix + p.output_name][qi]
            for g, w, t in zip(got, want[p.output_name], out_rows["ts"][qi]):
                if not _close(g, w):
                    problems.append(f"{key_col}={key} ts={t} {p.output_name}: {g!r} != {w!r}")
    return problems


def _columns(path: str, columns=None, filt=None) -> dict:
    table = pads.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns, filter=filt)
    return {c: table.column(c).to_numpy(zero_copy_only=False) for c in table.column_names}


class AsofJoin:
    """One-part `compute_temporal_join` of a query table onto Zipf-keyed
    events, noop sink."""

    name = "asof_join"
    AGGS = [
        Aggregation("value", Operation.COUNT, windows=[Window(1), Window(7), None]),
        Aggregation("value", Operation.SUM, windows=[Window(7)]),
        Aggregation("value", Operation.AVERAGE, windows=[Window(7)]),
        Aggregation("value", Operation.LAST, windows=[Window(7)]),
        Aggregation("value", Operation.LAST_K, arg_map={"k": 3}, windows=[Window(7)]),
    ]

    def __init__(self, spark, inputs: str, meta: dict, work: str, tracer):
        self.spark, self.inputs, self.meta, self.tracer = spark, inputs, meta, tracer
        self.group_by = GroupBy(
            sources=[EventSource(
                os.path.join(inputs, "events"),
                Query(selects={"user_id": "user_id", "value": "value"}, time_column="ts"),
            )],
            key_columns=["user_id"], aggregations=self.AGGS,
            accuracy=Accuracy.TEMPORAL, name="ev",
        )
        self.join = Join(
            left=EventSource(os.path.join(inputs, "queries"),
                             Query(selects={"user_id": "user_id"}, time_column="ts")),
            join_parts=[JoinPart(self.group_by)], name="asof",
        )

    def compute(self):
        from chronon_spark.operators.temporal_join import compute_temporal_join

        with self.tracer.span("temporal_join.compute_temporal_join", jobs=True):
            return compute_temporal_join(self.spark, self.join)

    def run_pass(self) -> int:
        df = self.compute()
        with self.tracer.span("materialize", jobs=True):
            _noop(df)
        return self.meta["queries"]

    def write_copy(self, dest: str) -> str:
        self.compute().write.mode("overwrite").parquet(dest)
        return dest

    def check(self, dest: str, rng) -> list[str]:
        import pyarrow.compute as pc

        n = pq.ParquetDataset(dest).read(columns=["ts"]).num_rows
        problems = [] if n == self.meta["queries"] else [
            f"rows {n} != queries {self.meta['queries']}"]
        qkeys = _columns(os.path.join(self.inputs, "queries"), ["user_id"])["user_id"]
        keys = _sample(rng, qkeys, self.meta["hot_key"])
        filt = pc.field("user_id").isin(keys)
        parts = self.group_by.aggregation_parts()
        out = _columns(dest, None, filt)
        events = _columns(os.path.join(self.inputs, "events"), ["user_id", "ts", "value"], filt)
        return problems + _naive_check(out, events, "user_id", parts, "ev_", keys, rng)


class ImageAsof:
    """Decode seeded image fixtures with phash and ts passed through, then
    phash-keyed as-of caption features, noop sink."""

    name = "image_asof"
    PARTS = [
        AggregationPart("caption_len", Operation.COUNT, window=Window(1)),
        AggregationPart("caption_len", Operation.COUNT, window=None),
        AggregationPart("caption_len", Operation.MAX, window=None),
    ]

    def __init__(self, spark, inputs: str, meta: dict, work: str, tracer):
        self.spark, self.meta, self.tracer = spark, meta, tracer
        self.path = os.path.join(inputs, meta["path"])
        # multi-KB binary rows: split the scan by bytes, as the engine's own
        # bench does, instead of ever repartitioning the payload. Splits
        # smaller than a ~5.8 MB row group give each row group its own task.
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 << 20))

    def _frames(self):
        from pyspark.sql import functions as F

        from chronon_spark.operators.multimodal import extract_pixel_features

        images = self.spark.read.parquet(self.path)
        with self.tracer.span("multimodal.extract_pixel_features"):
            feats = extract_pixel_features(images, passthrough=("phash", "ts"))
        right = images.select(
            "phash", "ts", F.length("caption").cast("bigint").alias("caption_len"))
        return feats, right

    def compute(self):
        from chronon_spark.operators.temporal_join import temporal_features

        feats, right = self._frames()
        with self.tracer.span("temporal_join.temporal_features", jobs=True):
            return temporal_features(feats, right, ["phash"], ["phash"], self.PARTS)

    def run_pass(self) -> int:
        df = self.compute()
        with self.tracer.span("materialize", jobs=True):
            _noop(df)
        return self.meta["images"]

    def decode_only(self) -> None:
        """The decode stage materialized alone (traced runs only)."""
        feats, _ = self._frames()
        with self.tracer.span("multimodal.decode", jobs=True):
            _noop(feats)

    def write_copy(self, dest: str) -> str:
        self.compute().write.mode("overwrite").parquet(dest)
        return dest

    def check(self, dest: str, rng) -> list[str]:
        import pyarrow.compute as pc

        out_all = _columns(dest, ["phash", "phash_check", "decode_ok"])
        problems = []
        if len(out_all["phash"]) != self.meta["images"]:
            problems.append(f"rows {len(out_all['phash'])} != images {self.meta['images']}")
        if not (out_all["decode_ok"].all() and (out_all["phash_check"] == out_all["phash"]).all()):
            problems.append("decode_ok / phash_check mismatch")
        src = pq.read_table(self.path, columns=["phash", "ts", "caption"])
        phash = src.column("phash").to_numpy()
        uniq, counts = np.unique(phash, return_counts=True)
        keys = _sample(rng, phash, int(uniq[np.argmax(counts)]))
        filt = pc.field("phash").isin(keys)
        out = _columns(dest, None, filt)
        mask = np.isin(phash, keys)
        events = {
            "phash": phash[mask],
            "ts": src.column("ts").to_numpy()[mask],
            "caption_len": np.array([len(c) for c in
                                     src.column("caption").to_pylist()])[mask].astype(float),
        }
        return problems + _naive_check(out, events, "phash", self.PARTS, "", keys, rng)


class GroupbyBackfill:
    """`BackfillJob.run` of a snapshot GroupBy into a fresh ParquetWarehouse
    per pass, with `cluster_by` and the manifest."""

    name = "groupby_backfill"
    # one 4-day step per pass: a step costs ~19 Spark jobs of mostly fixed
    # overhead, so a second step would halve the passes a run can time
    BACKFILL_DAYS = 4
    STEP_DAYS = 4
    AGGS = [
        Aggregation("value", Operation.SUM, windows=[Window(7), None]),
        Aggregation("value", Operation.COUNT, windows=[Window(7)]),
        Aggregation("value", Operation.AVERAGE, windows=[Window(7)]),
        Aggregation("value", Operation.MAX, windows=[Window(7)]),
        Aggregation("value", Operation.UNIQUE_COUNT, windows=[Window(7)]),
    ]

    def __init__(self, spark, inputs: str, meta: dict, work: str, tracer):
        from chronon_spark.partitions import DEFAULT_SPEC

        self.spark, self.inputs, self.meta, self.work, self.tracer = (
            spark, inputs, meta, work, tracer)
        self.group_by = GroupBy(
            sources=[EventSource(
                os.path.join(inputs, "events"),
                Query(selects={"user_id": "user_id", "value": "value"}, time_column="ts"),
            )],
            key_columns=["user_id"], aggregations=self.AGGS, name="gbb",
        )
        self.end = meta["last_day"]
        self.start = DEFAULT_SPEC.shift(self.end, -(self.BACKFILL_DAYS - 1))
        self.last = None  # (report, warehouse) of the latest pass

    def _warehouse(self):
        from chronon_spark.sources.catalog import ParquetWarehouse

        tracer = self.tracer

        class TracedWarehouse(ParquetWarehouse):
            def insert_overwrite(self, df, table, cluster_by=None):
                with tracer.span("backfill.insert_overwrite"):
                    super().insert_overwrite(df, table, cluster_by=cluster_by)

        return TracedWarehouse(self.spark, tempfile.mkdtemp(prefix="wh", dir=self.work))

    def run_pass(self) -> int:
        from chronon_spark.plans.backfill import groupby_backfill

        wh = self._warehouse()
        job = groupby_backfill(self.spark, wh, self.group_by, "out",
                               step_days=self.STEP_DAYS, cluster_by=["user_id"])
        compute = job.compute

        def traced_compute(rng):
            with self.tracer.span("groupby.compute_snapshot_groupby"):
                return compute(rng)

        job.compute = traced_compute
        with self.tracer.span("backfill.run", jobs=True):
            report = job.run(self.start, self.end)
        self.last = (report, wh)
        return report.rows_written

    def output_files(self, wh) -> list[str]:
        return glob.glob(os.path.join(wh.path("out"), "ds=*", "*.parquet"))

    def write_copy(self, dest: str) -> str:
        """The timed passes already wrote a warehouse: check the last one."""
        return self.last[1].root

    def check(self, dest: str, rng) -> list[str]:
        import duckdb

        from chronon_spark.plans.backfill import MANIFEST_TABLE

        events = os.path.join(self.inputs, "events", "*", "*.parquet")
        out = os.path.join(dest, "out", "ds=*", "*.parquet")
        manifest = os.path.join(dest, MANIFEST_TABLE, "*.parquet")
        con = duckdb.connect()
        con.execute(f"""CREATE VIEW ev AS SELECT * FROM read_parquet('{events}',
                        hive_partitioning = true, hive_types_autocast = false)""")
        problems = []
        want = dict(con.execute(f"""
            SELECT ds, COUNT(DISTINCT user_id) FROM ev
            WHERE ds BETWEEN '{self.start}' AND '{self.end}' GROUP BY ds""").fetchall())
        got = dict(con.execute(f"""
            SELECT ds, SUM("rows") FROM read_parquet('{manifest}')
            WHERE status = 'ok' GROUP BY ds""").fetchall())
        if {k: int(v) for k, v in got.items()} != want:
            problems.append(f"manifest rows per ds {got} != duckdb {want}")
        n_out = con.execute(f"SELECT COUNT(*) FROM read_parquet('{out}')").fetchone()[0]
        if n_out != sum(want.values()):
            problems.append(f"output rows {n_out} != duckdb {sum(want.values())}")
        keys = _sample(rng, np.array([r[0] for r in con.execute(
            f"SELECT DISTINCT user_id FROM ev WHERE ds BETWEEN '{self.start}' AND '{self.end}'"
        ).fetchall()]), self.meta["hot_key"])
        key_list = ", ".join(str(int(k)) for k in keys)
        win = "e.ts >= d.eod - 7 * 86400000 AND e.ts < d.eod"
        oracle = con.execute(f"""
            WITH d AS (
              SELECT DISTINCT user_id, ds,
                     epoch_ms(CAST(ds AS DATE) + INTERVAL 1 DAY) AS eod
              FROM ev WHERE ds BETWEEN '{self.start}' AND '{self.end}'
                AND user_id IN ({key_list}))
            SELECT d.user_id, d.ds,
                   SUM(CASE WHEN {win} THEN e.value END),
                   SUM(CASE WHEN e.ts < d.eod THEN e.value END),
                   COUNT(CASE WHEN {win} THEN e.value END),
                   AVG(CASE WHEN {win} THEN e.value END),
                   MAX(CASE WHEN {win} THEN e.value END),
                   COUNT(DISTINCT CASE WHEN {win} THEN e.value END)
            FROM d JOIN ev e ON d.user_id = e.user_id
            GROUP BY d.user_id, d.ds ORDER BY 1, 2""").fetchall()
        engine = con.execute(f"""
            SELECT user_id, regexp_extract(filename, 'ds=([0-9-]+)', 1) AS ds,
                   value_sum_7d, value_sum, value_count_7d, value_average_7d,
                   value_max_7d, value_unique_count_7d
            FROM read_parquet('{out}', filename = true)
            WHERE user_id IN ({key_list}) ORDER BY 1, 2""").fetchall()
        if len(oracle) != len(engine):
            problems.append(f"sampled rows {len(engine)} != duckdb {len(oracle)}")
        for o, e in zip(oracle, engine):
            if o[:2] != e[:2] or not all(_close(a, b) for a, b in zip(o[2:], e[2:])):
                problems.append(f"{e} != duckdb {o}")
        con.close()
        return problems


WORKLOADS = {w.name: w for w in (AsofJoin, ImageAsof, GroupbyBackfill)}
