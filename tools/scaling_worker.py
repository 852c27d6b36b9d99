"""One scaling-bench run: the flagship temporal as-of join at a given
parallelism. Prints one JSON line {cpus, wall_sec, rows, rows_per_sec}.

Input: a replicated copy of sf0.1 events (built by scaling_bench.py) —
IDENTICAL bytes for every parallelism level, per the two-cluster-size rule.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--workload",
                    choices=["join", "groupby", "image", "image_fused",
                             "image_iceberg", "video_fused", "curate",
                             "real_decode", "join_skew"],
                    default="join")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--skew-shape", choices=["viral", "event", "event_windowed"],
                    default="viral")
    ap.add_argument("--hot-share", type=float, default=1 / 3,
                    help="share of the join_skew rows collapsed onto key 0")
    args = ap.parse_args()

    from chronon_spark.api import (
        Aggregation, EventSource, GroupBy, Operation, Query, Window,
    )
    from chronon_spark.operators.temporal_join import compute_temporal_groupby
    from chronon_spark.session import build_session

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")
    # the kernels' cogroup bucket count is 8 x the shuffle partitions:
    # ~30k rows per kernel batch gives the 64M-row join input 2048 buckets
    # (256 shuffle partitions); the other workloads scale with the cores
    shuffle_partitions = 256 if args.workload == "join" else 2 * args.cpus
    spark = build_session(
        "scaling-bench",
        master=f"local[{args.cpus}]",
        shuffle_partitions=shuffle_partitions,
        extra_confs={
            # shuffle to tmpfs: removes disk-write variance from the
            # measurement (cluster analog: NVMe-backed shuffle dirs)
            "spark.local.dir": "/dev/shm/spark-shuffle",
            # GC/JIT thread pools default to the HOST core count; under a
            # taskset pin they must match the pinned budget or the small
            # "cluster" thrashes on threads it doesn't own
            "spark.driver.extraJavaOptions": (
                f"-XX:ParallelGCThreads={args.cpus} -XX:ConcGCThreads={max(1, args.cpus // 4)} "
                f"-XX:CICompilerCount={max(2, args.cpus // 4)}"
            ),
        },
    )
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    src = EventSource(
        args.input,
        Query(selects={"user_id": "user_id", "value": "value"}, time_column="ts"),
        topic="t",  # TEMPORAL accuracy
    )
    # a REPRESENTATIVE feature set (the reference's canary GroupBy shape:
    # sum/count/avg over multiple windows + LAST_K — real backfills
    # compute many features per pass, amortizing scan/shuffle/serde)
    gb = GroupBy(
        sources=[src],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("value", Operation.COUNT, windows=[Window(1), Window(7), None]),
            Aggregation("value", Operation.SUM, windows=[Window(7), Window(30)]),
            Aggregation("value", Operation.AVERAGE, windows=[Window(7)]),
            Aggregation("value", Operation.MIN, windows=[Window(7)]),
            Aggregation("value", Operation.MAX, windows=[Window(7)]),
            Aggregation("value", Operation.VARIANCE, windows=[Window(30)]),
            Aggregation("value", Operation.LAST_K, arg_map={"k": 5}, windows=[Window(7)]),
        ],
        name="scaling",
    )
    if args.workload == "join":
        # the workload IS compute_temporal_groupby semantics (every event
        # enriched as-of its own ts), so it runs on the engine's
        # self-cogroup fast path: ONE scan + ONE shuffle + ONE Arrow
        # transfer (r2; the generic join path pays two of each). No
        # per-row ds string crosses the Arrow boundary — the backfill
        # path re-derives ds on the OUTPUT.
        from chronon_spark.operators.temporal_join import temporal_self_features

        ev = spark.read.parquet(args.input).select("user_id", "ts", "value")
        n_rows = ev.count()
        parts = [p for a in gb.aggregations for p in a.unpack()]

        def run():
            temporal_self_features(ev, ["user_id"], parts).write.format(
                "noop").mode("overwrite").save()
            return n_rows
    elif args.workload == "join_skew":
        if args.skew_shape == "event_windowed":
            # time shards need every part windowed
            gb = GroupBy(
                sources=[src], key_columns=["user_id"],
                aggregations=[
                    Aggregation("value", Operation.COUNT,
                                windows=[Window(1), Window(7)]),
                    Aggregation("value", Operation.SUM,
                                windows=[Window(7), Window(30)]),
                    Aggregation("value", Operation.AVERAGE,
                                windows=[Window(7)]),
                    Aggregation("value", Operation.MIN, windows=[Window(7)]),
                    Aggregation("value", Operation.MAX, windows=[Window(7)]),
                    Aggregation("value", Operation.VARIANCE,
                                windows=[Window(30)]),
                    Aggregation("value", Operation.LAST_K,
                                arg_map={"k": 5}, windows=[Window(7)]),
                ],
                name="scaling",
            )
        # skew torture for the headline as-of join (the reference's
        # UnionJoin "skew-free" claim, README.md:82): --hot-share of the
        # query rows collapse onto ONE monster key, then the two-sided
        # cogroup join runs through `compute_temporal_join`, so the pass
        # measures the split the engine picks (none below fair share, a
        # hash split for a query-dominated key, time shards for an
        # event-dominated one with every part windowed) — identical output
        # to the plain path (pinned by test_composite_skew and
        # test_skew_decision + the checksum in scaling_bench).
        from dataclasses import replace

        from pyspark.sql import functions as Fn

        from chronon_spark.api import DataFrameSource, Join, JoinPart
        from chronon_spark.operators.temporal_join import compute_temporal_join

        ev = spark.read.parquet(args.input).select("user_id", "ts", "value")
        hot = Fn.pmod(Fn.hash("ts", "value"), Fn.lit(1000)) < int(args.hot_share * 1000)
        left = ev.withColumn(
            "user_id", Fn.when(hot, Fn.lit(0)).otherwise(Fn.col("user_id"))
        ).select("user_id", "ts")
        ev = ev.withColumn(
            "user_id", Fn.when(hot, Fn.lit(0)).otherwise(Fn.col("user_id")))
        if args.skew_shape == "viral":
            # QUERY-dominated: a viral entity probed by the hot share of
            # the queries while its own events are thinned to ~1%
            ev = ev.where(~hot | (Fn.pmod(Fn.hash("value", "ts"), Fn.lit(100)) == 0))
        # event shapes: the hot share on BOTH sides — a hash split cannot
        # win there (every slice still processes all the key's events);
        # time shards can when every part is windowed
        join = Join(DataFrameSource(lambda s: left), [JoinPart(
            replace(gb, sources=[DataFrameSource(lambda s: ev)]))], name="skew")
        n_rows = left.count()

        def run():
            compute_temporal_join(spark, join).write.format("noop").mode(
                "overwrite").save()
            return n_rows
    elif args.workload.startswith("image"):
        # the north_star pipeline itself: decode binary images, extract
        # pixel features (Arrow-batched numpy per image), enrich each
        # capture with phash-keyed as-of features — one feature vector per
        # (image, ts). CPU-bound python/numpy per row, the regime the
        # engine is built for.
        from pyspark.sql import functions as Fn

        from chronon_spark.operators.multimodal import extract_pixel_features
        from chronon_spark.operators.temporal_join import temporal_features
        from chronon_spark.api import AggregationPart

        # the fixture is written in ~6MB row groups (fixtures.FIXTURE_ROW_GROUP);
        # with maxPartitionBytes=8m the scan itself fans out across the level's
        # cores. NO repartition of the binary rows: round-robin repartition
        # sorts each partition by the full serialized row before the exchange
        # (retry determinism) — pathological on multi-KB payloads.
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
        # image_iceberg points --input at a metadata-only Iceberg tree:
        # read_parquet_path plans the scan from the manifests (file list +
        # table schema + hive-ds recovery), falling through to a plain
        # parquet read for the *_fused fixture path — the north rule's
        # "over Iceberg tables" phrasing under the scaling criterion.
        from chronon_spark.sources.catalog import read_parquet_path

        images = read_parquet_path(spark, args.input).cache()
        n_rows = images.count()
        parts = [
            AggregationPart("caption_len", Operation.COUNT, window=Window(1)),
            AggregationPart("caption_len", Operation.COUNT, window=None),
            AggregationPart("caption_len", Operation.MAX, window=None),
        ]

        def run():
            # FUSED pipeline (r3): decode carries (phash, ts) through the
            # Arrow batch, so the pixel features ride the as-of probe side
            # directly — decode -> cogroup, two stages total. The r2 shape
            # (decode, as-of, then an image_id merge join of two 480k-row
            # frames) paid two extra exchanges + a join stage of pure
            # fixed-floor latency that dragged 4->16 efficiency to 0.78.
            feats = extract_pixel_features(images, passthrough=("phash", "ts"))
            right = images.select(
                "phash", "ts",
                Fn.length("caption").cast("bigint").alias("caption_len"),
            )
            out = temporal_features(feats, right, ["phash"], ["phash"], parts)
            # noop sink: full-plan execution (count() lets Catalyst prune
            # unreferenced output expressions on native-agg plans)
            out.write.format("noop").mode("overwrite").save()
            return n_rows
    elif args.workload == "real_decode":
        # the from-scratch PNG/JPEG codecs under the scaling rule: decode
        # every real-format payload (zlib inflate + unfilter for PNG,
        # Huffman + batched-BLAS IDCT for JPEG) and extract pixel features
        # in one Arrow pass — pure per-row python/numpy, zero shuffles,
        # the embarrassingly-parallel regime that MUST scale ~linearly if
        # the Arrow batching and scan splits are right.
        from chronon_spark.operators.multimodal import extract_pixel_features

        spark.conf.set("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
        images = spark.read.parquet(args.input).cache()
        input_rows = images.count()

        def run():
            extract_pixel_features(images, passthrough=("fmt",)).write.format(
                "noop").mode("overwrite").save()
            return input_rows
    elif args.workload == "curate":
        # corpus curation at scale: decode EVERY image (the dominant,
        # embarrassingly-parallel stage), quality-gate, then phash
        # near-dup clustering — DISTINCT-value banding + large-star/
        # small-star components, so the graph work rides ~28k distinct
        # hashes while the payload work rides all 480k rows. Throughput
        # is INPUT images/sec (the work scales with the corpus; the
        # canonical survivor set is the small output).
        from chronon_spark.operators.multimodal import curate_images

        spark.conf.set("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
        images = spark.read.parquet(args.input).cache()
        input_rows = images.count()

        def run():
            out = curate_images(
                images, min_w=48, min_h=48, min_caption_tokens=8,
                max_hamming=2,
            )
            out.where("is_canonical").count()
            return input_rows
    elif args.workload == "video_fused":
        # the video analog of the fused image pipeline: decode 'vraw'
        # binary videos, sample every 2nd frame, per-video features
        # (frame-0 phash, brightness, motion energy) in one Arrow pass
        # that carries (phash, ts) through as passthrough, then enrich
        # each video with phash-keyed as-of caption features — one
        # feature vector per (video, ts), decode -> cogroup, two stages.
        from pyspark.sql import functions as Fn

        from chronon_spark.operators.multimodal import extract_video_features
        from chronon_spark.operators.temporal_join import temporal_features
        from chronon_spark.api import AggregationPart

        spark.conf.set("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
        videos = spark.read.parquet(args.input).cache()
        n_rows = videos.count()
        parts = [
            AggregationPart("caption_len", Operation.COUNT, window=Window(1)),
            AggregationPart("caption_len", Operation.COUNT, window=None),
            AggregationPart("caption_len", Operation.MAX, window=None),
        ]

        def run():
            feats = extract_video_features(
                videos, every_n=2, passthrough=("phash", "ts")
            )
            right = videos.select(
                "phash", "ts",
                Fn.length("caption").cast("bigint").alias("caption_len"),
            )
            out = temporal_features(feats, right, ["phash"], ["phash"], parts)
            # noop sink: full-plan execution (count() lets Catalyst prune
            # unreferenced output expressions on native-agg plans)
            out.write.format("noop").mode("overwrite").save()
            return n_rows
    else:
        # snapshot GroupBy: daily partials + window frames over the same
        # 64M-event input; throughput measured in INPUT events/sec (the
        # scan+shuffle work scales with events, output is |keys| x |days|)
        from chronon_spark.operators.groupby import compute_snapshot_groupby

        gb_s = GroupBy(
            sources=[EventSource(args.input, Query(
                selects={"user_id": "user_id", "value": "value"}, time_column="ts"))],
            key_columns=["user_id"],
            aggregations=[
                Aggregation("value", Operation.SUM, windows=[Window(7), None]),
                Aggregation("value", Operation.COUNT, windows=[Window(7)]),
                Aggregation("value", Operation.AVERAGE, windows=[Window(30)]),
            ],
            name="scaling_gb",
        )
        input_rows = spark.read.parquet(args.input).count()

        def run():
            compute_snapshot_groupby(spark, gb_s).write.format("noop").mode(
                "overwrite").save()
            return input_rows

    # warm-up: one FULL pass — spawns the whole python worker pool, JITs
    # the JVM paths, and populates the page cache. Steady-state throughput
    # is the quantity that scales with cluster size (a 100TB backfill runs
    # for hours; session spin-up is noise).
    def steal_jiffies():
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])

    run()
    best, rows, passes = None, 0, []
    st0 = steal_jiffies()
    for _ in range(args.passes):
        t0 = time.perf_counter()
        rows = run()
        wall = time.perf_counter() - t0
        passes.append(round(wall, 2))
        best = wall if best is None else min(best, wall)
    print(json.dumps({
        "cpus": args.cpus,
        "wall_sec": round(best, 3),
        "rows": rows,
        "rows_per_sec": round(rows / best, 1),
        "passes": passes,
        "steal_jiffies": steal_jiffies() - st0,
    }))


if __name__ == "__main__":
    main()
