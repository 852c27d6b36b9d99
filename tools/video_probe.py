"""One-off phase-timing probe for the video_fused scaling workload:
times decode-only vs full pipeline per pass, to locate the fixed floor.
Run pinned: taskset -c 0-{N-1} python tools/video_probe.py --cpus N
"""
import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from chronon_spark.fixtures import FIXTURE_DIR  # noqa: E402

ap = argparse.ArgumentParser()
ap.add_argument("--cpus", type=int, required=True)
ap.add_argument("--input", default=os.path.join(FIXTURE_DIR, "videos_n240000_s7.parquet"))
ap.add_argument("--passes", type=int, default=3)
args = ap.parse_args()

from chronon_spark.api import AggregationPart, Operation, Window
from chronon_spark.operators.multimodal import extract_video_features
from chronon_spark.operators.temporal_join import temporal_features
from chronon_spark.session import build_session
from pyspark.sql import functions as Fn

os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")
spark = build_session(
    "video-probe", master=f"local[{args.cpus}]",
    shuffle_partitions=2 * args.cpus,
    extra_confs={
        "spark.local.dir": "/dev/shm/spark-shuffle",
        "spark.driver.extraJavaOptions": (
            f"-XX:ParallelGCThreads={args.cpus} -XX:ConcGCThreads={max(1, args.cpus // 4)} "
            f"-XX:CICompilerCount={max(2, args.cpus // 4)}"
        ),
    },
)
spark.conf.set("spark.sql.session.timeZone", "UTC")
spark.conf.set("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
videos = spark.read.parquet(args.input).cache()
n = videos.count()
parts = [
    AggregationPart("caption_len", Operation.COUNT, window=Window(1)),
    AggregationPart("caption_len", Operation.COUNT, window=None),
    AggregationPart("caption_len", Operation.MAX, window=None),
]

def t(fn):
    t0 = time.perf_counter(); r = fn(); return time.perf_counter() - t0, r

def decode_only():
    return extract_video_features(videos, every_n=2, passthrough=("phash", "ts")).count()

def join_only():
    feats = videos.select("video_id", Fn.col("phash"), Fn.col("ts"))
    right = videos.select("phash", "ts", Fn.length("caption").cast("bigint").alias("caption_len"))
    return temporal_features(feats, right, ["phash"], ["phash"], parts).count()

def full():
    feats = extract_video_features(videos, every_n=2, passthrough=("phash", "ts"))
    right = videos.select("phash", "ts", Fn.length("caption").cast("bigint").alias("caption_len"))
    return temporal_features(feats, right, ["phash"], ["phash"], parts).count()

# warm-up
full(); decode_only(); join_only()
out = {"cpus": args.cpus, "n": n, "parts": videos.rdd.getNumPartitions(),
       "decode": [], "join": [], "full": []}
for _ in range(args.passes):
    for k, fn in (("decode", decode_only), ("join", join_only), ("full", full)):
        w, _ = t(fn)
        out[k].append(round(w, 2))
print(json.dumps(out))
