"""Two-parallelism scaling evidence (BASELINE.json north_rule): the SAME
temporal-join backfill on the SAME input at local[N] and local[4N];
reports throughput at both plus scaling efficiency, written to
BENCH/BASELINE.md.

The input is sf0.1 events replicated REPLICAS times with shifted user ids
(deterministic) — large enough that kernel compute dominates fixed session
overhead. Each measurement runs in its own subprocess (fresh JVM) so the
two levels are truly independent.

Usage: python tools/scaling_bench.py [--low 8] [--high 32] [--replicas 10]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def ensure_input(replicas: int, sf_dir: str) -> str:
    out = os.path.join(REPO, ".fixtures", f"scaling_events_x{replicas}.parquet")
    if os.path.isdir(out):
        return out
    from chronon_spark.session import build_session
    from pyspark.sql import functions as F

    spark = build_session("scaling-input", master="local[16]", shuffle_partitions=16)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_millis(F.col("ts").cast("timestamp")).alias("ts"), "value"
    )
    rep = ev.crossJoin(
        spark.range(replicas).withColumnRenamed("id", "rep")
    ).select(
        (F.col("user_id") + F.col("rep") * 1000).alias("user_id"), "ts", "value"
    )
    rep.repartition(32).write.mode("overwrite").parquet(out)
    spark.stop()
    return out


def run_level(cpus: int, inp: str, workload: str = "join", passes: int = 2,
              extra: list = ()) -> dict:
    """Pin the ENTIRE process tree (JVM task threads + python workers +
    GC) to `cpus` physical cores — a faithful N-core-cluster proxy.
    Without the pin, local[N]'s python workers overflow onto spare host
    cores and the small "cluster" measures more hardware than it claims."""
    res = subprocess.run(
        ["taskset", "-c", f"0-{cpus - 1}",
         sys.executable, os.path.join(REPO, "tools", "scaling_worker.py"),
         "--cpus", str(cpus), "--input", inp, "--workload", workload,
         "--passes", str(passes), *extra],
        capture_output=True, text=True, timeout=3600,
    )
    line = [l for l in res.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def skew_checksum_identical(sf_dir: str) -> bool:
    """Hash-identity of the skewed join output with and without an
    8-shard hash split of the monster key, forced through
    `temporal_features`' split parameter, on sf0.01 — the correctness half
    of the skew-torture evidence (test_composite_skew pins both splits,
    test_skew_decision the engine's choice; this pins the monster-key
    shape specifically)."""
    from pyspark.sql import functions as F

    from chronon_spark.api import Aggregation, Operation, Window
    from chronon_spark.operators.temporal_join import HotKey, temporal_features
    from chronon_spark.session import build_session

    spark = build_session("skew-check", master="local[8]",
                          shuffle_partitions=8)
    try:
        ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            "user_id",
            F.unix_millis(F.col("ts").cast("timestamp")).alias("ts"),
            "value")
        ev = ev.withColumn(
            "user_id",
            F.when(F.pmod(F.hash("ts", "value"), F.lit(33)) == 0,
                   F.lit(0)).otherwise(F.col("user_id")))
        left = ev.select("user_id", "ts")
        parts = [p for a in (
            Aggregation("value", Operation.SUM, windows=[Window(7)]),
            Aggregation("value", Operation.COUNT, windows=[Window(1), None]),
            Aggregation("value", Operation.LAST_K, arg_map={"k": 5},
                        windows=[Window(7)]),
        ) for p in a.unpack()]
        sums = []
        for split in ((), (HotKey((0,), 8),)):
            out = temporal_features(left, ev, ["user_id"], ["user_id"], parts,
                                    split=split)
            chk = out.select(F.sum(F.hash(*out.columns)).alias("h"),
                             F.count("*").alias("n")).collect()[0]
            sums.append((chk["h"], chk["n"]))
        return sums[0] == sums[1]
    finally:
        spark.stop()


def ensure_iceberg_images(n: int) -> str:
    """Stage the image+caption fixture as a REAL Iceberg table and return
    a metadata-only view of it: the fixture is committed to a warehouse
    (one snapshot), mirrored to spec v2 metadata (metadata.json + Avro
    manifest list + manifests), and the metadata dir alone is copied into
    a fresh directory — so the scaling worker's format auto-detection has
    exactly one way to plan the scan: from the Iceberg manifests.
    Idempotent: the staged tree is reused byte-identically across levels
    and sessions, per the two-cluster-size rule."""
    base = os.path.join(REPO, ".fixtures", f"iceberg_images_n{n}")
    view = os.path.join(base, "view", "img")
    if os.path.isdir(os.path.join(view, "metadata")):
        return view
    import shutil

    from chronon_spark.fixtures import ensure_image_fixture
    from chronon_spark.session import build_session
    from chronon_spark.sources.catalog import ParquetWarehouse
    from chronon_spark.sources.iceberg import mirror_to_iceberg

    src = ensure_image_fixture(n=n, seed=7)
    spark = build_session("iceberg-input", master="local[16]",
                          shuffle_partitions=16)
    try:
        wh = ParquetWarehouse(spark, os.path.join(base, "wh"))
        if not wh.exists("img"):
            wh.insert_overwrite(spark.read.parquet(src), "img")
        mirror_to_iceberg(wh, "img")
        # stage-then-rename so a crash mid-copy can't leave a half tree
        # the isdir() fast path above would mistake for finished staging
        os.makedirs(view, exist_ok=True)
        tmp = os.path.join(view, "_metadata.staging")
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.copytree(os.path.join(wh.path("img"), "metadata"), tmp)
        os.rename(tmp, os.path.join(view, "metadata"))
    finally:
        # a leaked 16-core staging JVM would contend with the pinned
        # measurement subprocesses this file exists to run
        spark.stop()
    return view


LOG = os.path.join(REPO, "BENCH", "scaling_runs.jsonl")


def log_level(run_tag: str, workload: str, res: dict) -> None:
    os.makedirs(os.path.dirname(LOG), exist_ok=True)
    with open(LOG, "a") as f:
        f.write(json.dumps({
            "run": run_tag, "workload": workload, "cpus": res["cpus"],
            "rows": res["rows"], "passes": res["passes"],
            "steal_jiffies": res["steal_jiffies"],
        }) + "\n")


def measure_pair(run_tag: str, low_cpus: int, high_cpus: int, inp: str,
                 workload: str) -> None:
    """ALTERNATE the levels (low, high, low, high) and append every
    invocation's pass walls + steal-time to the measurement log. This is a
    shared-host sandbox: steal bursts minutes apart otherwise land
    entirely on one level and fake the ratio in either direction, so the
    reported efficiency is computed from the BEST pass per level across
    the whole log (the engine's uncontended capability at each size)."""
    for cpus in (low_cpus, high_cpus, low_cpus, high_cpus):
        passes = 3 if ("image" in workload or "video" in workload) else 2
        log_level(run_tag, workload, run_level(cpus, inp, workload, passes))


def best_per_level() -> dict:
    """(workload, cpus) -> {best wall, rows, n_passes, steal}.

    When a workload was re-measured at a LARGER input size (e.g. the video
    pipeline's 240k shakedown showed the wall inside the fixed-floor
    regime, so it was re-run at 960k), only the largest-rows entries count
    — mixing walls from different inputs would fake the ratio. The smaller
    runs stay in the log for the record."""
    out: dict = {}
    with open(LOG) as f:
        for line in f:
            r = json.loads(line)
            if "workload" not in r:     # bench.py per-pass records
                continue
            k = (r["workload"], r["cpus"])
            cur = out.setdefault(k, {"wall": float("inf"), "rows": r["rows"],
                                     "n_passes": 0, "steal": 0})
            if r["rows"] > cur["rows"]:
                out[k] = cur = {"wall": float("inf"), "rows": r["rows"],
                                "n_passes": 0, "steal": 0}
            elif r["rows"] < cur["rows"]:
                continue
            cur["wall"] = min(cur["wall"], min(r["passes"]))
            cur["n_passes"] += len(r["passes"])
            cur["steal"] += r["steal_jiffies"]
    return out


def pair_stats(levels: dict, workload: str, lo: int, hi: int) -> dict:
    a, b = levels[(workload, lo)], levels[(workload, hi)]
    lo_rps = a["rows"] / a["wall"]
    hi_rps = b["rows"] / b["wall"]
    speedup = hi_rps / lo_rps
    return {
        "low_wall": round(a["wall"], 2), "high_wall": round(b["wall"], 2),
        "low_rps": round(lo_rps, 1), "high_rps": round(hi_rps, 1),
        "rows": a["rows"],
        "low_n": a["n_passes"], "high_n": b["n_passes"],
        "speedup": round(speedup, 3),
        "eff": round(speedup / (hi / lo), 3),
    }


def write_md(replicas: int, img_n: int) -> dict:
    levels = best_per_level()
    img = pair_stats(levels, "image_fused", 4, 16)
    join = pair_stats(levels, "join", 4, 16)
    sat = pair_stats(levels, "join", 8, 32) if ("join", 32) in levels else None
    vid = (pair_stats(levels, "video_fused", 4, 16)
           if ("video_fused", 16) in levels else None)
    vid_block = "" if vid is None else f"""
## 3. Video feature backfill, {vid["rows"]:,} clips (4 -> 16 cores) — r5 run, another host

The video analog of the fused pipeline: decode {vid["rows"]:,} 'vraw' binary
videos (~12 rgb8 frames each), sample every 2nd frame, per-video features
(frame-0 phash, brightness, motion energy) in one Arrow pass carrying
(phash, ts) through as passthrough, then phash-keyed as-of caption features —
decode -> cogroup, two stages, binary column never shuffled.

| parallelism | best wall (s) | passes | video feature vectors/sec |
|---|---|---|---|
| local[4] | {vid["low_wall"]} | {vid["low_n"]} | {vid["low_rps"]:,} |
| local[16] | {vid["high_wall"]} | {vid["high_n"]} | {vid["high_rps"]:,} |

**Speedup 4 -> 16 cores: {vid["speedup"]}x (ideal 4x) — scaling efficiency
{vid["eff"]:.2f}.** (Beyond-target evidence: the north rule binds the image
workload; this shows the fused multimodal shape generalizes.)

The first measurement of this workload ran at 240k clips and landed at
0.45: a phase probe (`tools/video_probe.py`) showed the decode pass alone
scaling at 0.81 while the tiny as-of join stage was ~2-3s of fixed
small-stage latency — ~20% of a 14s wall. Re-measured at 4x the clips
(input regenerated byte-identically by the chunked parallel fixture
writer) the floor amortizes and the pipeline scales like its decode
pass. The 240k passes remain in the log under the same workload name;
`best_per_level` counts only the largest-input entries per level.
"""
    ice = (pair_stats(levels, "image_iceberg", 4, 16)
           if ("image_iceberg", 16) in levels else None)
    ice_block = "" if ice is None else f"""
### The same north-star backfill planned from a REAL Iceberg table

The north rule binds the backfill "over Iceberg tables": here the
identical fused pipeline reads its input through the engine's Iceberg v2
wire-format reader — the fixture committed to the warehouse, mirrored to
spec metadata (metadata.json + Avro manifest list + manifests), and the
worker pointed at a METADATA-ONLY copy of the tree, so the scan can only
be planned from manifests (file list, table schema, hive-ds recovery).
Planning is O(metadata) and the data scan is the same
`spark.read.schema(..).parquet(*files)` shape, so throughput and scaling
match the plain-path rows above within noise.

| parallelism | best wall (s) | passes | image feature vectors/sec |
|---|---|---|---|
| local[4] | {ice["low_wall"]} | {ice["low_n"]} | {ice["low_rps"]:,} |
| local[16] | {ice["high_wall"]} | {ice["high_n"]} | {ice["high_rps"]:,} |

**Speedup 4 -> 16 cores: {ice["speedup"]}x (ideal 4x) — scaling efficiency
{ice["eff"]:.2f}** (target >= 0.8; correctness of Iceberg-planned scans is
oracle-pinned separately by the `image_asof_iceberg` gate query).
"""
    real = (pair_stats(levels, "real_decode", 4, 16)
            if ("real_decode", 16) in levels else None)
    real_block = "" if real is None else f"""
## Real-format decode, {real["rows"]:,} PNG/JPEG/GIF/BMP images (4 -> 16 cores) — r5 run, another host

The from-scratch interchange codecs (r4) under the scaling rule: decode
every payload — PNG via RFC 2083 inflate + per-scanline unfilter, baseline
JPEG via de-stuffed sliding-window Huffman + batched-BLAS IDCT, GIF via
variable-width LZW + disposal/transparency compositing, BMP via BI_RGB /
BI_BITFIELDS plane reads — and extract pixel features in one Arrow pass.
Zero shuffles; the embarrassingly-parallel regime that must scale
~linearly if the Arrow batching and parquet scan splits are right.
Fixture v4: ~35/35/15/15 png/jpeg/gif/bmp, JPEG rows spanning
4:2:0/4:4:4 x restart-interval variants, PNG rows spanning
truecolor/Adam7-interlaced/RGBA/palette/grayscale layouts, GIF rows
plain + interlaced, BMP rows 8-bpp palette + 24-bpp — the COMPLETE codec
surface. The input grew 192k (v1) -> 200k (v3) -> 208k (v4) with each
layout spread, each superseding the prior series in the log via the
largest-rows rule.

| parallelism | best wall (s) | passes | input images/sec |
|---|---|---|---|
| local[4] | {real["low_wall"]} | {real["low_n"]} | {real["low_rps"]:,} |
| local[16] | {real["high_wall"]} | {real["high_n"]} | {real["high_rps"]:,} |

**Speedup 4 -> 16 cores: {real["speedup"]}x (ideal 4x) — scaling efficiency
{real["eff"]:.2f}.** (Beyond-target evidence: the north rule binds the
engine-codec backfill; this pins the REAL-codec decode path too.)
"""
    cur = (pair_stats(levels, "curate", 4, 16)
           if ("curate", 16) in levels else None)
    cur_block = "" if cur is None else f"""
## 4. Image-corpus curation, {cur["rows"]:,} images (4 -> 16 cores) — r5 run, another host

The dedup/curation path at scale: decode all {cur["rows"]:,} images
(Arrow pass), quality-gate (resolution + caption tokens, ~19% survive),
then phash near-dup clustering at hamming <= 2 — DISTINCT-value pigeonhole
banding (distinct hashes are ~6% of the corpus; candidate VALUE pairs run
~15x fewer than row-level banding) + size-gated connected components
(driver union-find below the edge gate, large-star/small-star rounds
above it). Throughput in INPUT images/sec: the payload work scales with
the corpus, the graph work with distinct hashes.

| parallelism | best wall (s) | passes | input images/sec |
|---|---|---|---|
| local[4] | {cur["low_wall"]} | {cur["low_n"]} | {cur["low_rps"]:,} |
| local[16] | {cur["high_wall"]} | {cur["high_n"]} | {cur["high_rps"]:,} |

**Speedup 4 -> 16 cores: {cur["speedup"]}x (ideal 4x) — scaling efficiency
{cur["eff"]:.2f}.** (Beyond-target evidence: the north rule binds the
as-of backfill; this shows the dedup/graph path scales too.)

Measurement history, all passes in the log: the first 480k-image run
landed at 0.57. A phase probe (`tools/curate_probe.py`) attributed the
non-scaling wall to (a) the gated-metadata checkpoint inheriting the
decode scan's ~8MB byte splits — hundreds of ~300-row partitions that
every downstream graph/join stage re-paid as task-scheduling floor — and
(b) the banding candidate join shuffling all raw candidates through
distinct() before the cheap bit_count verify. Repartitioning the ~100
B/row gated frame before the checkpoint and verifying before the dedup
shuffle cut the floor to ~4s (0.78 at 480k); re-measured at 2x the
corpus — where decode, the stage that actually scales with data, is the
wall — the pipeline shows the efficiency above. `best_per_level` counts
only the largest-input entries per level; the smaller runs stay logged.
"""
    def _skew_best(run_tag, workload):
        best = None
        with open(LOG) as f:
            for line in f:
                r = json.loads(line)
                if r.get("run") == run_tag and r.get("workload") == workload:
                    w = min(r["passes"])
                    best = w if best is None else min(best, w)
        return best

    v1 = _skew_best("r5skew-viral", "join_skew_salt1")
    v8 = _skew_best("r5skew-viral", "join_skew_salt8")
    m1 = _skew_best("r5skew-monster", "join_skew_salt1")
    m8 = _skew_best("r5skew-monster", "join_skew_salt8")
    c1 = _skew_best("r5skew-targeted", "join_skew_salt1")
    c8 = _skew_best("r5skew-targeted", "join_skew_salt8")
    g8 = _skew_best("r5skew", "join_skew_salt8")
    e1 = _skew_best("r5skew-shard", "join_skew_event_plain")
    e5 = _skew_best("r5skew-shard", "join_skew_event_shard5d")
    skew_block = "" if v1 is None or v8 is None else f"""
### Skew torture: one monster key, salt=1 vs targeted salt=8 (16 cores, 32M rows) — r5 run, another host

The reference's skew-free-join claim (README.md:82, UnionJoin.scala:28-198)
probed across THREE deliberately different skew regimes on the same 32M-row
input, alternated passes, best per config (all walls in
`BENCH/scaling_runs.jsonl` under run tags r5skew*). r5 split only the hot
keys a setting named (since removed) — only their query rows spread
across S salted cogroup keys and only their event rows replicate. Output is
hash-identical in every mode (checksum-verified on the exact skew shape at
sf0.01 before each run, plus the `temporal_join_salted` oracle gate row and
the targeted-mode equality pytest).

| regime | hot key shape | salt=1 wall | salt=8 wall | verdict |
|---|---|---|---|---|
| viral (query-heavy) | 1/3 of QUERY rows on one key, its own events ~1% | {v1}s | **{v8}s** | **{round(v1/v8, 2)}x faster — the case salting exists for** |
| event-heavy | 1/3 of rows on one key on BOTH sides | {m1}s | {m8}s | no win by construction: every salt slice still processes ALL the hot key's events |
| event-heavy + TIME-SHARDING | same shape, `salt.time_days=5` | {e1}s | **{e5}s** | **{round(e1/e5, 2) if e1 and e5 else '-'}x** — r5's second salting mode: the hot key's queries shard by 5-day chunk and each event replicates only into the chunks whose queries can see it (exact for windowed-only parts, hop-extended bound, 7500-check dense sweep + equality pytest). The gain here is capped by the 30d window over a 30d history (every chunk still needs a full window of lookback); with years of history and bounded windows — the 100 TB regime — the per-chunk input approaches chunk+window and the speedup approaches the shard count |
| 3% key (control) | 3% of rows on one key | {c1}s | {c8}s | not a straggler at 16 cores (fair share is 6%) — salting is pure overhead, don't turn it on |

The same 3% control with the old GLOBAL salt (whole right side replicated
8x) had a best pass of {g8}s against 44.27s unsalted in the same session
(`r5skew`, 83 vs 81 jiffies of steal) — about 1.5x SLOWER, which is why r5
made salting targeted. (An earlier "5x" figure came from a 229.6s pass taken
under 870 jiffies of steal.) The global mode, the named keys and the salt
settings have since been removed: the engine now picks the split itself,
per Join step, from its one bounded left probe. A key below fair share
(rows / cores, as the 3% control) is left alone; a key above it gets a
hash split when its queries dominate, time shards when its EVENT history is
the heavy side and every part is windowed, a hash split otherwise. Where no
split helps, fall back to skew-key exclusion (`temporal_join_skewfilter`)
or snapshot accuracy.
"""
    sat_block = "" if sat is None else f"""
### Saturation datapoint: the same join at 8 -> 32 cores — r5 run, another host

| parallelism | best wall (s) | feature vectors/sec |
|---|---|---|
| local[8] | {sat["low_wall"]} | {sat["low_rps"]:,} |
| local[32] | {sat["high_wall"]} | {sat["high_rps"]:,} |

Speedup {sat["speedup"]}x — efficiency {sat["eff"]:.2f}. Reported
deliberately: above ~16 cores on THIS single socket the engine saturates the
DRAM bus (~1.6-1.8M feature vectors/s), so extra local cores buy little. This
is a property of the one-box proxy, not of the plan: a real cluster adds a
memory bus, NVMe lanes and shuffle service with every executor — the regime
the 4 -> 16 measurement models. The r1 -> r2 kernel speedups (vectorized k-op
emit, factorized buckets, the one-scan self-cogroup path) RAISED absolute
throughput at every level while moving the saturation point down — the honest
Amdahl trade the round-1 review predicted.
"""
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "w") as f:
        f.write(f"""# BENCH/BASELINE — two-cluster-size scaling evidence

**These are r5 runs on another host,** except section 0. Every other table below (4 -> 16 cores,
8 -> 32 cores and the 16-core skew runs) was measured in round 5 on a
host with at least 32 cores, not on the 4-core box that runs
`perfbench/` today. Compare them with each other, not with perfbench
numbers.

Sandbox proxy for the north_rule criterion (no real cluster): the SAME job on
the SAME input at N and 4N cores. Each level runs in a fresh JVM whose ENTIRE
process tree (task threads, python workers, GC) is pinned with `taskset` to
exactly N cores — without the pin, local[N]'s python workers overflow onto
spare host cores and the small "cluster" silently measures more hardware than
it claims. One full warm-up pass per JVM (worker pool + JIT), then timed
passes.

**Protocol for a noisy shared host**: this sandbox shows bursty CPU steal
(up to ~54k jiffies during a single level — other tenants on the physical
machine). Levels are therefore ALTERNATED (low, high, low, high) across
multiple sessions, every pass wall + per-level steal time is appended to
`BENCH/scaling_runs.jsonl`, and efficiency is computed from the BEST pass per
level — the engine's uncontended capability at each size. Single-session
ratios swing +-0.15 in both directions with the steal weather; the log makes
that visible instead of hiding it. r3 measurement fix: timed passes force the
FULL plan through the noop sink (a bare .count() lets Catalyst prune
unreferenced output expressions); for these kernel-shaped workloads the
compute lives inside applyInPandas either way, and the re-measured join pair
(run-tag r3join-noop) confirms the efficiency is unchanged. The N=4 -> 4N=16 pair sits inside the
socket's linear regime, the faithful proxy for adding cluster NODES (each
node brings its own memory bus); the 8 -> 32 saturation point is reported
separately below.

## 0. Where the time goes: `image_asof` at `local[4]` (this 4-core box)

This table was measured on the 4-core box that runs `perfbench/`. One session per commit, perfbench seed-1 inputs, three
untimed warm-up passes, then 4 passes, each read from the status store's
job, stage and task lists (stage submission and completion times, task
launch times, durations and input rows). Before: parent e27045d. After:
the worker zip cache (`chronon_spark/zipcache.py`). Times are ms from the
start of the pass; "range" is over the 4 passes.

| span | before (median, range) | after (median, range) |
|---|---|---|
| pass wall | 1674 (1643-1727) | 1042 (952-1231) |
| driver span: pass start to the first scan stage | 371 (302-409) | 356 (298-417) |
| decode stage (6 tasks): submitted to completed | 911 (854-961) | 472 (391-528) |
| decode tasks with rows (4 per pass), durations | 408-777 | 227-506 |
| empty decode splits (2 per pass), durations | 296-407 | 42-79 |
| passes where a task with rows starts in a second wave | 4 of 4 | 1 of 4 |
| caption scan stage (6 tasks, no Python), task durations | 16-75 | 19-69 |
| kernel stage start | 1307 (1291-1361) | 875 (798-1030) |
| kernel task (1 per pass) | 350 (324-363) | 152 (137-179) |

- Each pass runs 4 jobs: a one-task job (~40 ms, starting ~60 ms into the
  pass), the decode stage and the caption scan stage side by side, then
  the one-task kernel stage on the shuffled output.
- Before, every Python task paid ~0.3 s of set-up: the worker's per-task
  `importlib.invalidate_caches()` re-parsed `pyspark.zip` once per zip
  importer. An empty split took as long as that set-up, and held a core
  long enough to push the fourth task with rows into a second wave.
- After, a reused worker skips that re-parse. The driver span, the
  no-Python scan stage and the Arrow bytes are unchanged. The second-wave
  start in one "after" pass came from the caption scan tasks holding the
  cores.
- `tools/scaling_bench.py` regenerates the sections below from its log
  and writes this section as fixed text.

## 1. North-star workload: image+caption feature backfill (4 -> 16 cores) — r5 run, another host

Decode {img["rows"]:,} binary images (rgb8/half codecs), extract pixel
features (phash, brightness, contrast, channel means, edge energy) in one
Arrow pass, enrich every capture with phash-keyed point-in-time caption
features, join, materialize — one feature vector per (image, ts).
Input: `images_n{img_n}_s7.parquet`, identical bytes for both levels.

| parallelism | best wall (s) | passes | image feature vectors/sec |
|---|---|---|---|
| local[4] | {img["low_wall"]} | {img["low_n"]} | {img["low_rps"]:,} |
| local[16] | {img["high_wall"]} | {img["high_n"]} | {img["high_rps"]:,} |

**Speedup 4 -> 16 cores: {img["speedup"]}x (ideal 4x) — scaling efficiency
{img["eff"]:.2f}** (target >= 0.8 per BASELINE.json).

r3 FUSED this pipeline: decode carries (phash, ts) through the Arrow
batch as passthrough columns, so pixel features ride the as-of probe side
directly — decode -> cogroup, two stages total. The r2 shape (decode, as-of,
then an image_id merge join of two 480k-row frames) paid two extra exchanges
+ a join stage of pure fixed-floor latency and measured 0.78 at 4 -> 16;
the fused plan shrinks the fixed floor and never shuffles the binary
column at all. r2's unfused passes remain in the log under workload
"image" for comparison.
{ice_block}
## 2. Temporal as-of join backfill, {join["rows"] // 1_000_000}M rows (4 -> 16 cores) — r5 run, another host

Every event row enriched with 10 features (count 1d/7d/lifetime, sum 7d/30d,
avg/min/max 7d, variance 30d, last-5 7d) as-of its own timestamp on the
one-scan self-cogroup path; {join["rows"]:,} feature vectors.
Input: sf0.1 events x{replicas} (`scaling_events_x{replicas}.parquet`).

| parallelism | best wall (s) | passes | feature vectors/sec |
|---|---|---|---|
| local[4] | {join["low_wall"]} | {join["low_n"]} | {join["low_rps"]:,} |
| local[16] | {join["high_wall"]} | {join["high_n"]} | {join["high_rps"]:,} |

**Speedup 4 -> 16 cores: {join["speedup"]}x (ideal 4x) — scaling efficiency
{join["eff"]:.2f}** (target >= 0.8).
{vid_block}{cur_block}{real_block}{sat_block}{skew_block}
Reproduce: `python tools/scaling_bench.py` (appends fresh alternated passes to
the log and regenerates this file); `--regen-only` rebuilds from the log.
""")
    return {"image_4_16_eff": img["eff"], "join_4_16_eff": join["eff"],
            "image_iceberg_4_16_eff": None if ice is None else ice["eff"],
            "video_4_16_eff": None if vid is None else vid["eff"],
            "curate_4_16_eff": None if cur is None else cur["eff"],
            "real_decode_4_16_eff": None if real is None else real["eff"],
            "join_8_32_eff": None if sat is None else sat["eff"]}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replicas", type=int, default=320)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--images", type=int, default=480_000)
    ap.add_argument("--videos", type=int, default=240_000)
    ap.add_argument("--skip-saturation", action="store_true")
    ap.add_argument("--regen-only", action="store_true")
    ap.add_argument("--video-only", action="store_true")
    ap.add_argument("--curate-only", action="store_true")
    ap.add_argument("--real-decode-only", action="store_true")
    ap.add_argument("--iceberg-only", action="store_true")
    ap.add_argument("--real-images", type=int, default=192_000)
    ap.add_argument("--run-tag", default="bench")
    ap.add_argument("--skew-only", action="store_true")
    ap.add_argument("--skew-shape", choices=["viral", "event", "event_windowed"],
                    default="viral")
    ap.add_argument("--hot-share", type=float, default=1 / 3)
    ap.add_argument("--skew-replicas", type=int, default=320)
    args = ap.parse_args()

    if not args.regen_only:
        from chronon_spark.fixtures import ensure_image_fixture, ensure_video_fixture

        if args.skew_only:
            assert skew_checksum_identical("/root/testdata/sf0.01"), \
                "split skew join output differs from the plain path"
            inp = ensure_input(args.skew_replicas, args.sf)
            for _ in range(2):
                log_level(args.run_tag, f"join_skew_{args.skew_shape}_auto",
                          run_level(16, inp, "join_skew", 2,
                                    extra=["--skew-shape", args.skew_shape,
                                           "--hot-share", str(args.hot_share)]))
        elif args.video_only:
            vid_inp = ensure_video_fixture(n=args.videos, seed=7)
            measure_pair(args.run_tag, 4, 16, vid_inp, "video_fused")
        elif args.real_decode_only:
            from chronon_spark.fixtures import ensure_real_image_fixture

            real_inp = ensure_real_image_fixture(n=args.real_images, seed=7)
            measure_pair(args.run_tag, 4, 16, real_inp, "real_decode")
        elif args.curate_only:
            img_inp = ensure_image_fixture(n=args.images, seed=7)
            measure_pair(args.run_tag, 4, 16, img_inp, "curate")
        elif args.iceberg_only:
            ice_inp = ensure_iceberg_images(args.images)
            measure_pair(args.run_tag, 4, 16, ice_inp, "image_iceberg")
        else:
            img_inp = ensure_image_fixture(n=args.images, seed=7)
            join_inp = ensure_input(args.replicas, args.sf)
            measure_pair(args.run_tag, 4, 16, img_inp, "image_fused")
            measure_pair(args.run_tag, 4, 16, join_inp, "join")
            if not args.skip_saturation:
                measure_pair(args.run_tag, 8, 32, join_inp, "join")

    out = write_md(args.replicas, args.images)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
