"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec}, "sf": ..., "rows_per_sec": {...}}

The headline metric follows BASELINE.json: rows/sec of (entity x
timestamp) feature vectors materialized by the temporal as-of join.
Each query is materialized with a noop write so every column (including
pandas-UDF kernel outputs) is actually computed.

Usage: python bench.py [--sf DIR] [--cpus N] [--queries a,b,c] [--runs N]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    "temporal_join_asof",      # headline: point-in-time feature vectors
    "groupby_snapshot_windows",
    "groupby_snapshot_moments",
    "temporal_lastk",
    "sessionize",
    "lag_lead",
    "staging_query",
    "temporal_groupby_self",   # r2: one-scan self-cogroup fast path
    "temporal_entity_mutations",  # r2: mutation replay
    "image_asof_fused",        # r3: north-star image+caption backfill
    "curate_images_48k",       # r3: decode-gate-cluster curation path
    "real_decode_24k",         # r4: from-scratch PNG/JPEG/GIF/BMP decode
                               # throughput (fixture v4 adds the GIF/BMP mix)
    "corpus_decontaminate",    # r3: eval-set shingle sweep (text corpus)
    "dedup_incremental",       # r3: batch-vs-corpus minhash probe.
    # r4 note: ~2x slower than BENCH_r03 BY DESIGN — the gate query runs at
    # threshold=0.3 and LSH banding is now derived from the threshold
    # (bands=32/r=2 instead of a fixed 16/r=4), which is what actually
    # delivers the >=0.95 recall the threshold parameter promises (16 bands
    # at 0.3 catches ~12% of threshold-Jaccard pairs; the r3 oracle only
    # passed because fixture dups are high-Jaccard). The candidate set
    # grows 41.6k -> 96.1k pairs at sf0.1 — the inherent LSH S-curve price
    # of a low threshold. At the classic 0.8 dedup threshold the derived
    # banding is the same 16 bands and the cost is unchanged.
]

# North-star workload (BASELINE.json metric: feature vectors/sec on the
# image+caption backfill): decode binary images with pixel features fused
# into one Arrow pass that carries (phash, ts) through, then phash-keyed
# as-of caption features — decode -> cogroup, two stages. Implemented
# here rather than in __spark_entry__.queries() so the correctness gate
# stays sf-scaled while the bench pins a fixed 48k-image input (the
# 480k-image 4->16-core run lives in BENCH/BASELINE.md).
NORTH_IMAGES = 48_000


def run_image_asof_fused(spark):
    from pyspark.sql import functions as F

    from chronon_spark.api import AggregationPart, Operation, Window
    from chronon_spark.fixtures import ensure_image_fixture
    from chronon_spark.operators.multimodal import extract_pixel_features
    from chronon_spark.operators.temporal_join import temporal_features

    path = ensure_image_fixture(n=NORTH_IMAGES, seed=7)
    # The fixture is written in bounded row groups (fixtures.FIXTURE_ROW_GROUP),
    # so the scan itself splits across cores — no repartition of the binary
    # rows. NEVER round-robin repartition() a binary-payload table: Spark
    # sorts each partition by the FULL serialized row before a round-robin
    # exchange (retry determinism), which is pathological on multi-KB rows.
    # If a reshuffle is ever needed, hash-partition on the entity key.
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
    images = spark.read.parquet(path)
    parts = [
        AggregationPart("caption_len", Operation.COUNT, window=Window(1)),
        AggregationPart("caption_len", Operation.COUNT, window=None),
        AggregationPart("caption_len", Operation.MAX, window=None),
    ]
    feats = extract_pixel_features(images, passthrough=("phash", "ts"))
    right = images.select(
        "phash", "ts", F.length("caption").cast("bigint").alias("caption_len")
    )
    return temporal_features(feats, right, ["phash"], ["phash"], parts)


def run_curate_images(spark):
    """Corpus-curation path on the 48k image fixture: decode every image
    (Arrow pass), quality-gate, phash near-dup clusters via distinct-value
    banding + size-gated connected components. The reported row count is
    the GATED corpus (~19% of input) — the wall covers all 48k decodes, so
    input throughput is ~5x the printed rows/sec (the 480k-image 4->16
    scaling run in BENCH/BASELINE.md reports input images/sec directly)."""
    from chronon_spark.fixtures import ensure_image_fixture
    from chronon_spark.operators.multimodal import curate_images

    path = ensure_image_fixture(n=NORTH_IMAGES, seed=7)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
    images = spark.read.parquet(path)
    return curate_images(
        images, min_w=48, min_h=48, min_caption_tokens=8, max_hamming=2
    )


def run_real_decode(spark):
    """Real-format decode throughput: 24k PNG (RFC 2083 inflate+unfilter)
    / baseline-JPEG (Huffman+IDCT) / GIF (LZW+compositing) / BMP / TIFF
    (LZW/PackBits+predictor) / WebP-lossless (VP8L prefix codes) images
    through the fused pixel-feature Arrow pass — the from-scratch codecs
    under timing, not just under correctness. Images/s is the figure of
    merit. (Fixture v6: ~30/30/12/8/10/8 png/jpeg/gif/bmp/tiff/webp with
    ~40% of webp rows REAL LOSSY VP8 from the system encoder — r5. The
    v6 wall is ~2x the v5 wall ENTIRELY from those ~1.6k lossy rows:
    the from-scratch RFC 6386 decode (bool decoder + per-MB intra loop)
    costs ~28-38ms/image in pure Python, and VP8L ~36-40ms (its per-pixel
    inverse predictor), measured on one core against ~2ms for JPEG and
    under 1ms for PNG — the price of proving the capability inside the
    timed path; embarrassingly parallel, so it scales, and a native codec
    swap removes it in a real deployment. Not comparable across fixture
    versions.)"""
    from chronon_spark.fixtures import ensure_real_image_fixture
    from chronon_spark.operators.multimodal import extract_pixel_features

    path = ensure_real_image_fixture(n=24_000, seed=7)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
    images = spark.read.parquet(path)
    return extract_pixel_features(images, passthrough=("fmt",))


LOCAL_WORKLOADS = {
    "image_asof_fused": run_image_asof_fused,
    "curate_images_48k": run_curate_images,
    "real_decode_24k": run_real_decode,
}


def materialize(df) -> None:
    """Execute the FULL plan — every output column. A bare .count() lets
    Catalyst prune unreferenced aggregate expressions (measured: the
    moments query drops ~40% of its work under count), so timed passes
    force through the noop sink, which computes all rows/columns and
    discards them."""
    df.write.format("noop").mode("overwrite").save()


def steal_jiffies() -> int:
    """Host CPU-steal counter (same source as tools/scaling_worker.py) —
    this is a shared-host sandbox, so sub-second timings are only
    interpretable next to the steal that occurred while they ran."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, ValueError, IndexError):
        return 0


def run_bench(sf_dir: str, cpus: str, names: list[str], runs: int = 1) -> dict:
    import __spark_entry__ as entry
    from chronon_spark.session import build_session

    spark = build_session(
        "bench", master=f"local[{cpus}]",
        shuffle_partitions=max(int(cpus) if cpus.isdigit() else 32, 8),
    )
    qs = entry.queries()
    # warm the JVM + python workers once with a tiny query
    warm = next((n for n in names if n not in LOCAL_WORKLOADS), "temporal_join_asof")
    qs[warm](spark, "/root/testdata/sf0.001").count()

    timings: dict[str, float] = {}
    rows: dict[str, int] = {}
    steal: dict[str, int] = {}
    pass_walls: dict[str, list] = {}
    pass_steal: dict[str, list] = {}
    for name in names:
        run_q = (
            (lambda s, _sf, f=LOCAL_WORKLOADS[name]: f(s))
            if name in LOCAL_WORKLOADS
            else qs[name]
        )
        # isolate queries from each other: a previous query's cached
        # frames (and the executor-memory pressure they hold) must not
        # leak into this one's timing. Caches BUILT BY this query still
        # persist across its own passes — a long-running backfill reuses
        # its own caches, so best-of-N keeps that steady-state benefit.
        spark.catalog.clearCache()
        # conf isolation: the image/curation workloads shrink
        # spark.sql.files.maxPartitionBytes to split their multi-KB binary
        # rows across cores; left set, it fragments every LATER query's
        # parquet scans into tiny tasks (measured: +30% on
        # dedup_incremental when it runs after the image workloads).
        # Snapshot the session confs a workload may touch and restore
        # them after its passes.
        _ISOLATED_CONFS = ("spark.sql.files.maxPartitionBytes",)
        saved = {c: spark.conf.get(c, None) for c in _ISOLATED_CONFS}
        best = None
        st0 = steal_jiffies()
        pw = []
        ps = []
        for _ in range(runs):
            sp0 = steal_jiffies()
            t0 = time.perf_counter()
            materialize(run_q(spark, sf_dir))
            dt = time.perf_counter() - t0
            pw.append(round(dt, 3))
            ps.append(steal_jiffies() - sp0)
            best = dt if best is None else min(best, dt)
        steal[name] = steal_jiffies() - st0
        pass_walls[name] = pw
        pass_steal[name] = ps
        timings[name] = round(best, 3)
        rows[name] = run_q(spark, sf_dir).count()  # untimed
        for c, v in saved.items():
            if v is None:
                spark.conf.unset(c)
            else:
                spark.conf.set(c, v)

    total = round(sum(timings.values()), 3)
    rps = {
        k: (round(rows[k] / v, 1) if v > 0 else None) for k, v in timings.items()
    }
    return {
        "metric": "feature_vector_rows_per_sec(temporal_join_asof)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "rows": rows,
        "rows_per_sec": rps,
        "steal_jiffies": steal,
        # per-pass walls + steal: round-over-round deltas are only
        # interpretable against the pass distribution, not best-of-N
        "pass_walls": pass_walls,
        "pass_steal": pass_steal,
        "headline_rows_per_sec": rps.get("temporal_join_asof"),
        "north_image_rows_per_sec": rps.get("image_asof_fused"),
        "sf": sf_dir,
        "cpus": cpus,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--queries", default=",".join(BENCH_QUERIES))
    # best-of-2: the first pass pays python-worker spawn + JIT; steady-state
    # throughput is the figure that scales to long-running backfills
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()
    names = [q for q in args.queries.split(",") if q]
    result = run_bench(args.sf, args.cpus, names, args.runs)
    # self-evidencing history: every bench run appends its per-pass data
    # to the same log the scaling harness writes
    try:
        rec = {"kind": "bench", "sf": args.sf, "cpus": args.cpus,
               "runs": args.runs, "pass_walls": result["pass_walls"],
               "pass_steal": result["pass_steal"],
               "queries": result["queries"]}
        log_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH")
        os.makedirs(log_dir, exist_ok=True)
        with open(os.path.join(log_dir, "scaling_runs.jsonl"), "a") as f:
            f.write(json.dumps(rec) + "\n")
    except OSError:
        pass
    print(json.dumps(result))


if __name__ == "__main__":
    main()
