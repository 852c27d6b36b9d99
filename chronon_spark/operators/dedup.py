"""Deduplication operators for training-data pipelines: exact, n-gram
Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.

Scale design (100TB corpus):
  * exact: one shuffle on a 64-bit-ish fingerprint of the dedup key, not
    the full text — groupBy(fp) + min_by keeps the canonical row.
  * n-gram Jaccard: inverted-index self-join on shingles, with a
    document-frequency cap (`max_df`) so stopword-shingles don't blow the
    join up quadratically.
  * MinHash LSH: per-doc signature (H hashes, Spark-native array exprs over
    shingle fingerprints — no Python), banded into B buckets; only
    same-bucket pairs are candidates, then exact-Jaccard verified. The
    candidate join is |buckets| * avg_bucket^2, NOT |docs|^2.
  * SimHash: vectorized pandas UDF (numpy bit ops per Arrow batch);
    pigeonhole banding over 16-bit chunks for hamming<=3 candidates.
  * embedding cosine: brute force for small query sets; random-hyperplane
    LSH bucketing as the billion-row path (similarity.py).

All deterministic: hash = polynomial rolling hash mod 1e9+7 (text.py),
permutations pi_i(x) = (A_i x + B_i) mod P with fixed constants.
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from chronon_spark.operators.text import FP_BASE, FP_MOD, fingerprint

MINHASH_P = 2_147_483_647  # 2^31 - 1


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------
def exact_dedup(
    df: DataFrame,
    dedup_cols: Sequence[str],
    order_col: str,
    keep: str = "first",
) -> DataFrame:
    """Keep one row per distinct `dedup_cols` value: the min (keep='first')
    or max (keep='last') `order_col`. Adds `dup_count`.

    One shuffle; map-side combine via min_by/max_by partials.
    """
    pick = F.min_by if keep == "first" else F.max_by
    others = [c for c in df.columns if c not in dedup_cols]
    aggs = [pick(F.col(c), F.col(order_col)).alias(c) for c in others]
    aggs.append(F.count(F.lit(1)).alias("dup_count"))
    return df.groupBy(*dedup_cols).agg(*aggs)


# ---------------------------------------------------------------------------
# shingling + exact n-gram jaccard
# ---------------------------------------------------------------------------
def char_shingles(col: Column, n: int = 3) -> Column:
    """Distinct character n-grams (native: sequence + substring + distinct)."""
    t = col
    return F.when(
        F.length(t) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(t) - (n - 1)),
                lambda i: F.substring(t, i, n),
            )
        ),
    ).otherwise(F.array(t))


def shingle_fps(col: Column, n: int = 3) -> Column:
    """Fingerprints of distinct n-gram shingles — the dedup working set."""
    return F.array_distinct(
        F.transform(char_shingles(col, n), lambda s: _fp_expr(s))
    )


def _fp_expr(s: Column) -> Column:
    return F.aggregate(
        F.split(s, ""),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * FP_BASE + F.ascii(ch)) % FP_MOD,
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_df: Optional[int] = None,
) -> DataFrame:
    """Exact Jaccard-similar pairs (id_a < id_b, jaccard >= threshold) via
    an inverted-index self-join on shingle fingerprints.

    `max_df` drops shingles appearing in more than that many docs before
    the join (recall tradeoff documented at call sites).
    """
    # cache: the inverted index self-joins (a x b) — without it the Arrow
    # shingle pass executes once per join side
    docs = with_shingle_fps_arrow(df, id_col, text_col, n).withColumn(
        "sz", F.size("sh")
    ).cache()
    inv = docs.select("id", "sz", F.explode("sh").alias("s"))
    if max_df is not None:
        hot = inv.groupBy("s").count().where(F.col("count") > max_df).select("s")
        inv = inv.join(F.broadcast(hot), "s", "left_anti")
    a, b = inv.alias("a"), inv.alias("b")
    co = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sz_a"), F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        co.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round(F.col("jaccard") + 1e-9, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# vectorized (Arrow/numpy) shingling — same fingerprint values as the
# Catalyst expressions above, but computed as one sliding-window matmul per
# document instead of per-char interpreted lambdas (HigherOrderFunction
# lambdas are NOT whole-stage-codegen'd; at 1000 shingles/doc the
# interpreted path is ~50x slower than Arrow+numpy).
# ---------------------------------------------------------------------------
def shingle_fps_np(text: Optional[str], n: int) -> np.ndarray:
    """Distinct n-gram fingerprints, numpy-vectorized. Bit-identical to
    `shingle_fps` (verified by tests): polynomial value fits int64
    (255 * (131^n - 1)/130 < 2^63 for n <= 8), so one mod at the end
    equals the per-char running mod."""
    if not text:
        return np.array([0], dtype=np.int64)
    codes = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    if len(codes) < n:
        w = FP_BASE ** np.arange(len(codes) - 1, -1, -1, dtype=np.int64)
        return np.array([int(codes @ w) % FP_MOD], dtype=np.int64)
    windows = np.lib.stride_tricks.sliding_window_view(codes, n)
    if n <= 8:
        weights = FP_BASE ** np.arange(n - 1, -1, -1, dtype=np.int64)
        return np.unique((windows @ weights) % FP_MOD)
    # n > 8: 131^n overflows int64, so run the mod per column instead of
    # one dot product — n vectorized passes, intermediates < 2^38
    h = np.zeros(len(windows), dtype=np.int64)
    for j in range(n):
        h = (h * FP_BASE + windows[:, j]) % FP_MOD
    return np.unique(h)


def with_shingles_and_signature(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
) -> DataFrame:
    """(id, sh: array<long>, sig: array<long>) in ONE Arrow pass per doc."""
    from pyspark.sql.functions import pandas_udf

    consts = _perm_consts(num_hashes)
    A = np.array([c[0] for c in consts], dtype=np.int64)[:, None]
    B = np.array([c[1] for c in consts], dtype=np.int64)[:, None]

    @pandas_udf("struct<sh: array<long>, sig: array<long>>")
    def _both(s: pd.Series) -> pd.DataFrame:
        shs, sigs = [], []
        for t in s:
            fps = shingle_fps_np(t, n)
            shs.append(fps)
            sigs.append(((A * fps[None, :] + B) % MINHASH_P).min(axis=1))
        return pd.DataFrame({"sh": shs, "sig": sigs})

    return df.select(
        F.col(id_col).alias("id"), _both(F.col(text_col)).alias("x")
    ).select("id", "x.sh", "x.sig")


def with_shingle_fps_arrow(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, sh) via the vectorized path — for exact-Jaccard at scale."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def _sh(s: pd.Series) -> pd.Series:
        return s.map(lambda t: shingle_fps_np(t, n))

    return df.select(F.col(id_col).alias("id"), _sh(F.col(text_col)).alias("sh"))


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------
def _perm_consts(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (A_i, B_i) for pi_i(x) = (A_i x + B_i) mod P."""
    return [(2 * i + 1, (9973 * i + 12345) % MINHASH_P) for i in range(num_hashes)]


def _auto_bands(num_hashes: int, threshold: float) -> int:
    """Fewest bands (largest r = rows per band) whose banding still
    catches a pair at exactly `threshold` Jaccard with probability
    >= 0.95 — so default banding always delivers the recall the
    `threshold` parameter promises. P(candidate) = 1-(1-t^r)^(n/r);
    only divisors of num_hashes are considered. A fixed bands=16 at
    threshold=0.3 would surface only ~12% of threshold-Jaccard pairs;
    this picks bands=32 (r=2, ~95%) there and the classic 16 (r=4,
    >0.999) at the 0.8 default."""
    for r in range(num_hashes, 0, -1):
        if num_hashes % r:
            continue
        if 1.0 - (1.0 - threshold ** r) ** (num_hashes // r) >= 0.95:
            return num_hashes // r
    return num_hashes


def _check_bands(num_hashes: int, bands: int) -> int:
    """rows_per_band, validated: a non-divisor silently ignores trailing
    signature slots, and bands > num_hashes degenerates every band key to
    an empty slice — ALL docs then share every key and the candidate
    self-join goes quadratic."""
    if bands < 1 or bands > num_hashes or num_hashes % bands:
        raise ValueError(
            f"bands={bands} must be a divisor of num_hashes={num_hashes} "
            "(a non-divisor drops trailing signature slots; bands > "
            "num_hashes makes every band key an empty slice and the "
            "candidate join all-pairs)"
        )
    return num_hashes // bands


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: Optional[int] = None,
    threshold: float = 0.8,
    verify: bool = True,
    max_bucket: Optional[int] = 200,
) -> DataFrame:
    """Near-dup pairs via banded MinHash: docs agreeing on any band of
    r = num_hashes/bands consecutive signature slots become candidates;
    candidates are (optionally) verified with exact shingle Jaccard.

    P(candidate) = 1 - (1 - j^r)^bands. `bands=None` (default) derives
    the banding FROM the threshold so recall at threshold-Jaccard is
    >= 0.95 (see _auto_bands) — with 64 hashes that is the classic 16
    bands (r=4, p > 0.999) at threshold 0.8 but 32 bands (r=2) at 0.3,
    where 16 bands would silently miss ~88% of threshold pairs.

    `max_bucket` drops band buckets holding more than that many docs —
    the standard LSH-dedup guard: a bucket of size m contributes m^2
    candidate pairs, so template-heavy corpora otherwise go quadratic.
    Pairs inside dropped buckets are still found through their other
    bands unless they collide on every hot band.
    """
    if bands is None:
        bands = _auto_bands(num_hashes, threshold)
    rows_per_band = _check_bands(num_hashes, bands)
    docs = with_shingles_and_signature(df, id_col, text_col, n, num_hashes).cache()
    banded = docs.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.slice("sig", b * rows_per_band + 1, rows_per_band).alias("key"),
                )
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select("id", "bk.band", "bk.key")
    if max_bucket is not None:
        sizes = banded.groupBy("band", "key").count()
        hot = sizes.where(F.col("count") > max_bucket).select("band", "key")
        banded = banded.join(F.broadcast(hot), ["band", "key"], "left_anti")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    if not verify:
        return cand
    da = docs.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    db = docs.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    verified = (
        cand.join(da, "id_a").join(db, "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.size("sh_a") + F.size("sh_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return verified.select("id_a", "id_b", F.round(F.col("jaccard") + 1e-9, 6).alias("jaccard"))


# ---------------------------------------------------------------------------
# SimHash (vectorized pandas UDF)
# ---------------------------------------------------------------------------
def simhash64_py(text: str, n: int = 3) -> int:
    """Python reference: 64-bit SimHash over character n-gram shingles."""
    if text is None:
        return 0
    sh = {text[i : i + n] for i in range(max(len(text) - n + 1, 1))}
    shifts = np.arange(64, dtype=np.uint64)
    acc = np.zeros(64, dtype=np.int64)
    for s in sh:
        h = 0
        for ch in s:
            h = (h * FP_BASE + ord(ch)) % FP_MOD
        # expand 30-bit fp to 64 bits with two mix rounds (deterministic)
        h64 = (h * 2654435761 + 0x9E3779B9) & 0xFFFFFFFFFFFFFFFF
        h64 ^= ((h64 >> 29) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        bits = (np.uint64(h64) >> shifts) & np.uint64(1)
        acc += np.where(bits == 1, 1, -1)
    out = int(((acc > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64))
    return out - (1 << 64) if out >= (1 << 63) else out


def simhash64_np(text: Optional[str], n: int = 3) -> int:
    """Vectorized SimHash, bit-identical to `simhash64_py` (pinned by
    tests over random unicode): the shingle dedup runs on the WINDOW
    CONTENT (np.unique axis=0), not on fingerprints, so a theoretical
    fp collision between distinct shingles still contributes twice —
    exactly like the python set-of-strings reference and the DuckDB
    oracle. The rolling hash, the 64-bit mix, and the bit accumulation
    are all whole-array numpy ops (the python path hashes every char of
    every shingle in the interpreter — the dominant cost)."""
    if text is None:
        return 0
    codes = (
        np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
        if text else np.zeros(0, dtype=np.int64)
    )
    if len(codes) < n:
        # single shingle = the whole text ('' hashes to 0, matching the
        # python path's {''} set)
        if len(codes) == 0:
            fps = np.zeros(1, dtype=np.int64)
        else:
            w = FP_BASE ** np.arange(len(codes) - 1, -1, -1, dtype=np.int64)
            fps = np.array([int(codes @ w) % FP_MOD], dtype=np.int64)
    else:
        windows = np.lib.stride_tricks.sliding_window_view(codes, n)
        uniq = np.unique(windows, axis=0)
        if n <= 8:
            w = FP_BASE ** np.arange(n - 1, -1, -1, dtype=np.int64)
            fps = (uniq @ w) % FP_MOD
        else:
            fps = np.zeros(len(uniq), dtype=np.int64)
            for j in range(n):
                fps = (fps * FP_BASE + uniq[:, j]) % FP_MOD
    h64 = fps.astype(np.uint64) * np.uint64(2654435761) + np.uint64(0x9E3779B9)
    h64 ^= (h64 >> np.uint64(29)) * np.uint64(0xBF58476D1CE4E5B9)
    shifts = np.arange(64, dtype=np.uint64)
    bits = ((h64[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
    acc = (2 * bits - 1).sum(axis=0)
    out = int(((acc > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64))
    return out - (1 << 64) if out >= (1 << 63) else out


def with_simhash(df: DataFrame, text_col: str, n: int = 3) -> DataFrame:
    """Adds `simhash` (bigint). Arrow-batched pandas UDF over the
    fully-vectorized `simhash64_np` kernel (bit-identical to the
    `simhash64_py` reference)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _simhash(s: pd.Series) -> pd.Series:
        return s.map(lambda t: simhash64_np(t, n))

    return df.withColumn("simhash", _simhash(F.col(text_col)))


def hamming_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
    max_bucket: Optional[int] = None,
) -> DataFrame:
    """Pairs of rows whose 64-bit `hash_col` values are within
    `max_hamming`, found by pigeonhole banding: split 64 bits into
    (max_hamming+1) chunks — any pair within distance must agree exactly
    on >= 1 chunk, so banding has recall 1 while the candidate join is
    sum over buckets of |bucket|^2, not |rows|^2.

    `max_bucket` (optional) drops band buckets larger than the cap before
    the self-join — the guard for degenerate hash populations (e.g. a
    constant-content cluster) whose bucket self-join would go quadratic.
    With a cap the recall-1 guarantee becomes conditional, same trade as
    minhash's bucket cap; leave it None when an exact pair set is needed
    (the driver oracle does)."""
    chunks = max_hamming + 1
    width = 64 // chunks

    def _chunk_key(c: int) -> Column:
        shifted = F.shiftrightunsigned(F.col("__h"), c * width)
        if width >= 64:  # single chunk = whole word, mask would overflow long
            return shifted
        return shifted.bitwiseAND(F.lit((1 << width) - 1))

    src = df.select(F.col(id_col).alias("id"), F.col(hash_col).alias("__h"))
    banded = src.select(
        "id", "__h",
        F.explode(
            F.array(*[
                F.struct(F.lit(c).alias("chunk"), _chunk_key(c).alias("key"))
                for c in range(chunks)
            ])
        ).alias("bk"),
    ).select("id", "__h", "bk.chunk", "bk.key")
    if max_bucket is not None:
        counts = banded.groupBy("chunk", "key").agg(
            F.count(F.lit(1)).alias("__bn")
        )
        banded = (
            banded.join(F.broadcast(counts.where(F.col("__bn") > max_bucket)),
                        ["chunk", "key"], "left_anti")
        )
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(F.col("a.__h").bitwiseXOR(F.col("b.__h")))
    # Verify (bit_count, a cheap codegen expr) INSIDE the candidate join's
    # select, BEFORE the dedup shuffle: a pair surfacing in k chunks is
    # emitted k times, but the survivors of the hamming filter are orders
    # of magnitude fewer than the raw candidates (130k from 14M on the
    # 480k-image corpus), so distinct() shuffles the verified tail, not
    # the candidate flood.
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .where(ham <= max_hamming)
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            ham.alias("hamming"),
        )
        .distinct()
    )


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming (pigeonhole
    banding via hamming_pairs, recall exactly 1)."""
    sh = with_simhash(df.select(F.col(id_col).alias("id"), text_col), text_col)
    return hamming_pairs(sh, "id", "simhash", max_hamming)


def image_phash_neardup_pairs(
    images: DataFrame, max_hamming: int = 2,
    max_bucket: Optional[int] = None,
) -> DataFrame:
    """Image near-duplicate pairs by perceptual-hash hamming distance —
    the image-payload analog of simhash dedup (re-captures, re-encodes
    and lossy-codec copies land within a few phash bits).

    The hash is recomputed FROM DECODED PIXELS (multimodal
    with_image_features, Arrow-batched decode), not read from the stored
    `phash` column — so the pair set exercises the full decode -> hash ->
    band -> join path; the stored column only serves the oracle, which is
    valid because image_pixel_features pins phash_check == phash.

    Perceptual hashes of structured content are heavily correlated (low-
    frequency images share block patterns), so band buckets skew much
    harder than simhash's — at corpus scale pass `max_bucket` to cap the
    degenerate buckets, accepting conditional recall."""
    from chronon_spark.operators.multimodal import with_image_features

    feats = with_image_features(images).select(
        "image_id", F.col("phash_check").alias("__phash")
    )
    return hamming_pairs(feats, "image_id", "__phash", max_hamming, max_bucket)


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------
def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    planes: int = 16,
    dim: Optional[int] = None,
    max_bucket: Optional[int] = 10_000,
) -> DataFrame:
    """Pairs with cosine >= threshold. Random-hyperplane LSH bucket join
    (sign-bit sketch, Arrow matmul) prunes candidates; exact cosine
    verifies.

    Pass `dim` explicitly at scale (falls back to a one-row probe).
    `max_bucket` drops degenerate sketch buckets (e.g. a zero-vector
    cluster) whose self-join would go quadratic — same guard as minhash's
    bucket cap. Deterministic hyperplanes: pseudo-random from a fixed LCG
    per (plane, dim) — reproducible across runs/engines.
    """
    from chronon_spark.operators.similarity import cosine_expr, hyperplane_bits

    docs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if dim is None:
        # Probe a non-null vector; an empty frame (or all-null vectors)
        # has no pairs by definition — return the empty result instead
        # of crashing at plan-build time.
        probe = docs.where(F.col("v").isNotNull()).select("v").first()
        if probe is None:
            id_t = dict(df.dtypes)[id_col]
            return docs.sparkSession.createDataFrame(
                [], f"id_a {id_t}, id_b {id_t}, cosine double"
            )
        dim = len(probe["v"])
    # cache: the bucket self-join (a x b) would otherwise run the Arrow
    # sketch matmul once per side (plus once for the bucket-size cap)
    sketch = docs.withColumn(
        "bits", hyperplane_bits(F.col("v"), dim, planes)
    ).cache()
    if max_bucket is not None:
        hot = (
            sketch.groupBy("bits").count()
            .where(F.col("count") > max_bucket).select("bits")
        )
        sketch = sketch.join(F.broadcast(hot), "bits", "left_anti")
    a, b = sketch.alias("a"), sketch.alias("b")
    cand = a.join(
        b,
        (F.col("a.bits") == F.col("b.bits")) & (F.col("a.id") < F.col("b.id")),
    )
    cos = cosine_expr(F.col("a.v"), F.col("b.v"))
    return (
        cand.select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.round(cos + 1e-9, 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution: near-dup PAIRS -> connected components ->
# one canonical document per cluster. This is the step every training-data
# dedup pipeline runs after pair generation (the reference stops at
# dropDuplicates; pair->cluster->canonical is the engine extension the
# MinHash/SimHash/embedding pair producers above feed).
# ---------------------------------------------------------------------------


def _local_components(edges_pdf, id_a: str, id_b: str):
    """Driver-side connected components over a small edge list: numpy
    min-label propagation + pointer jumping (vectorized; converges in
    O(log n) rounds, ~ms at the gated sizes). Returns a pandas frame
    (id, cluster_id) with cluster_id = MIN id of the component —
    identical contract to the distributed star rounds. np.unique sorts,
    so factor-index order == id order and index-space minima ARE
    id-space minima (byte order matches Spark's for the ASCII/int ids
    this engine produces)."""
    a = edges_pdf[id_a].to_numpy()
    b = edges_pdf[id_b].to_numpy()
    uniq, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ea, eb = inv[: len(a)], inv[len(a):]
    labels = np.arange(len(uniq))
    while True:
        m = np.minimum(labels[ea], labels[eb])
        before = labels.copy()
        np.minimum.at(labels, ea, m)
        np.minimum.at(labels, eb, m)
        while True:  # pointer jumping: contract label chains
            nl = labels[labels]
            if np.array_equal(nl, labels):
                break
            labels = nl
        if np.array_equal(before, labels):
            break
    return pd.DataFrame({"id": uniq, "cluster_id": uniq[labels]})


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
    local_threshold: int = 2_000_000,
) -> DataFrame:
    """(id, cluster_id) for every id appearing in `pairs`, where
    cluster_id = MIN id of the connected component.

    Size-gated two-tier design: a `LIMIT local_threshold+1` probe pulls
    the edge list; if it fits (the common case whenever pairs come from
    the DISTINCT-value contraction in hamming_clusters — the value graph
    is orders of magnitude smaller than the corpus), components are
    solved on the driver in one vectorized numpy pass and returned as a
    broadcast-sized labels frame — zero iterative Spark rounds. The limit
    probe early-stops, so the "too big" branch pays one bounded scan.

    Above the gate: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond") — each round rewires
    edges toward local minima, converging to per-component star graphs
    rooted at the component MIN in O(log^2 n) rounds, independent of
    graph DIAMETER (min-label propagation needs diameter rounds: 20 on
    the 48k image fixture's chained phash component vs 6 here). Each
    half-round is one groupBy + one join on the (shrinking) edge frame;
    lazy `localCheckpoint` truncates lineage and materializes fused with
    the single-job symmetric-difference convergence probe.
    """
    if local_threshold and local_threshold > 0:
        probe = (
            pairs.select(id_a, id_b).limit(local_threshold + 1).toPandas()
        )
        if len(probe) <= local_threshold:
            spark = pairs.sparkSession
            id_type = dict(pairs.dtypes)[id_a]
            schema = f"id {id_type}, cluster_id {id_type}"
            if len(probe) == 0:
                return spark.createDataFrame([], schema)
            out = _local_components(probe, id_a, id_b)
            return spark.createDataFrame(out).select(
                F.col("id").cast(id_type).alias("id"),
                F.col("cluster_id").cast(id_type).alias("cluster_id"),
            )

    def canon(df: DataFrame) -> DataFrame:
        return df.select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        ).where(F.col("a") != F.col("b")).distinct()

    def large_star(e: DataFrame) -> DataFrame:
        # every node u: m = min(neighbors ∪ {u}); re-attach each neighbor
        # v > u to m
        nbrs = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        mins = nbrs.groupBy("u").agg(F.min("v").alias("mv"))
        mins = mins.select("u", F.least("mv", "u").alias("m"))
        return canon(
            nbrs.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
        )

    def small_star(e: DataFrame) -> DataFrame:
        # directed u -> smaller neighbors v; m = min(N(u)); re-attach
        # every v in (N ∪ {u}) \ {m} to m
        d = e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        mins = d.groupBy("u").agg(F.min("v").alias("m"))
        re_v = (
            d.join(mins, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
        )
        re_u = mins.select(F.col("u").alias("a"), F.col("m").alias("b"))
        return canon(re_v.unionByName(re_u))

    nodes = (
        pairs.select(F.col(id_a).alias("id"))
        .unionByName(pairs.select(F.col(id_b).alias("id")))
        .distinct()
        .persist()
    )
    edges = canon(
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    ).localCheckpoint()
    for _ in range(max_iterations):
        new_edges = small_star(large_star(edges)).localCheckpoint(eager=False)
        # converged when the edge set is a fixed point. ONE bounded job
        # per round: the limit-1 symmetric-difference probe materializes
        # the lazy checkpoint as a side effect (2 actions/round -> 1).
        changed = (
            new_edges.exceptAll(edges)
            .unionByName(edges.exceptAll(new_edges))
            .limit(1)
            .count()
        )
        edges = new_edges
        if changed == 0:
            break
    # converged edges form stars rooted at each component's min; the
    # groupBy guards the (max_iterations-capped, unconverged) case where a
    # node still carries two edges
    roots = edges.groupBy(F.col("b").alias("id")).agg(F.min("a").alias("root"))
    labels = nodes.join(roots, "id", "left").select(
        "id", F.coalesce("root", "id").alias("cluster_id")
    )
    nodes.unpersist()
    return labels


def hamming_clusters(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 2,
    max_bucket: Optional[int] = None,
) -> DataFrame:
    """(id, cluster_id, is_canonical) for every row, clustering rows whose
    64-bit hashes are within `max_hamming` (transitively); canonical =
    MIN id of the cluster — same output contract as
    resolve_duplicate_clusters(df, hamming_pairs(...)) but WITHOUT ever
    materializing row-level pairs.

    Scale shape: perceptual hashes repeat heavily on real corpora (exact
    re-encodes, recaptures) and correlate across distinct values, so
    row-level banding explodes quadratically inside hot buckets (measured
    on the 48k synthetic image fixture: 203M row-level candidate pairs vs
    6.3M over the 17k DISTINCT values — 32x). This path:

      1. bands/joins over DISTINCT hash values only (one extra groupBy);
      2. runs min-label connected components on the VALUE graph (nodes =
         distinct hashes, not rows);
      3. expands back: rows sharing a hash are hamming-0 siblings by
         construction, so cluster_id = min row id over the value
         component — one groupBy + one broadcast-friendly join.

    `max_bucket` caps value-level band buckets (conditional recall, see
    hamming_pairs)."""
    src = df.select(F.col(id_col).alias("id"), F.col(hash_col).alias("__h"))
    vals = src.select("__h").distinct()
    vpairs = hamming_pairs(vals, "__h", "__h", max_hamming, max_bucket)
    vcomp = connected_components(vpairs)  # (__h=id, cluster label = min hash)
    labeled = (
        src.join(vcomp.withColumnRenamed("id", "__h"), "__h", "left")
        .select(
            "id",
            F.coalesce("cluster_id", F.col("__h")).alias("__vcluster"),
        )
    )
    canon = labeled.groupBy("__vcluster").agg(F.min("id").alias("cluster_id"))
    return (
        labeled.join(canon, "__vcluster")
        .select(
            F.col("id").alias(id_col),
            "cluster_id",
            (F.col("id") == F.col("cluster_id")).alias("is_canonical"),
        )
    )


def resolve_duplicate_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Attach (cluster_id, is_canonical) to every row of `df`.

    Rows in no pair are their own singleton cluster. The canonical member
    is the MIN id of the cluster (deterministic; swap the keep-rule by
    post-filtering). `SELECT * WHERE is_canonical` IS the deduped corpus.
    """
    comp = connected_components(pairs, id_a, id_b)
    out = (
        df.join(comp.withColumnRenamed("id", id_col), id_col, "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col(id_col)))
        .withColumn("is_canonical", F.col("cluster_id") == F.col(id_col))
    )
    return out


# ---------------------------------------------------------------------------
# Eval-set decontamination
# ---------------------------------------------------------------------------
def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_overlap: int = 1,
    eval_text_col: Optional[str] = None,
) -> DataFrame:
    """Flag training docs sharing >= `min_overlap` distinct n-gram shingles
    with ANY eval document — the standard benchmark-contamination sweep a
    corpus runs before training.

    Returns every train row + (eval_overlap, contaminated); filter on
    `NOT contaminated` to drop. Shape at 100 TB: the eval side is tiny by
    nature (benchmarks are thousands of docs), so its DISTINCT shingle set
    is collected into a broadcast inner join against the train side's
    exploded distinct shingles — train is touched scan-wise once, the only
    shuffle is the per-doc overlap count on doc id. Shingles reuse the
    engine's cross-engine rolling-hash fingerprints (dedup bookkeeping
    ids), so an external engine can re-verify the sweep bit-for-bit.
    """
    etext = eval_text_col or text_col
    train_sh = with_shingle_fps_arrow(train, id_col, text_col, n)
    eval_sh = (
        with_shingle_fps_arrow(eval_df, id_col, etext, n)
        .select(F.explode("sh").alias("s"))
        .distinct()
    )
    hits = (
        train_sh.select("id", F.explode("sh").alias("s"))
        .join(F.broadcast(eval_sh), "s")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("eval_overlap"))
    )
    return (
        train.join(
            hits.withColumnRenamed("id", id_col), id_col, "left"
        )
        .withColumn("eval_overlap", F.coalesce("eval_overlap", F.lit(0)))
        .withColumn("contaminated", F.col("eval_overlap") >= min_overlap)
    )


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs indexed corpus
# ---------------------------------------------------------------------------
def signature_index(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, num_hashes: int = 64
) -> DataFrame:
    """The persistable dedup index of a corpus: (id, sh, sig) — shingle
    fingerprints + MinHash signature, one Arrow pass per doc. At 100 TB
    you compute this ONCE, write it to the warehouse next to the corpus,
    and every daily ingest probes against it instead of re-hashing
    petabytes (the index is ~num_hashes longs + the distinct-shingle set
    per doc, text never read again)."""
    return with_shingles_and_signature(df, id_col, text_col, n, num_hashes)


def _banded(docs: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    return docs.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.slice("sig", b * rows_per_band + 1, rows_per_band).alias("key"),
                )
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select("id", "bk.band", "bk.key")


def minhash_lsh_pairs_incremental(
    new_df: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: Optional[int] = None,
    threshold: float = 0.8,
    max_bucket: Optional[int] = 200,
    corpus_is_index: bool = False,
) -> DataFrame:
    """Near-dup pairs between an INCOMING batch and an existing corpus —
    the daily-ingest shape: the corpus is only ever touched through its
    (pre-computable) signature index, never re-shingled per batch.

    Returns (new_id, corpus_id, jaccard >= threshold), exact-verified.
    Cost: |new| banding (tiny) joined against the corpus banding; the
    corpus side of the join prunes to buckets the new batch actually
    probes (bucket keys from a small batch are a sparse subset), and
    `max_bucket` caps template-heavy corpus buckets exactly like the
    self-join path. Dedup WITHIN the batch is `minhash_lsh_pairs(new)`.

    Pass `corpus_is_index=True` when `corpus` is a persisted
    `signature_index` output (columns id, sh, sig) to skip re-hashing.
    `bands=None` derives the banding from `threshold` exactly like
    `minhash_lsh_pairs` (recall >= 0.95 at threshold-Jaccard).
    """
    if bands is None:
        bands = _auto_bands(num_hashes, threshold)
    rows_per_band = _check_bands(num_hashes, bands)
    new_docs = with_shingles_and_signature(
        new_df, id_col, text_col, n, num_hashes
    ).cache()
    if corpus_is_index:
        # A persisted index built with a DIFFERENT num_hashes would make
        # F.slice run past the signature end: every band key degenerates
        # to the same short/empty array on both sides and the band join
        # silently tends toward all-pairs. Probe one row and fail loudly.
        probe = corpus.select(F.size("sig").alias("m")).limit(1).collect()
        if probe and probe[0]["m"] != num_hashes:
            raise ValueError(
                f"persisted signature index has {probe[0]['m']} hashes per "
                f"signature but num_hashes={num_hashes}; rebuild the index "
                "or pass the matching num_hashes/bands"
            )
        corpus_docs = corpus.cache()
    else:
        corpus_docs = with_shingles_and_signature(
            corpus, id_col, text_col, n, num_hashes
        ).cache()

    nb = _banded(new_docs, bands, rows_per_band)
    cb = _banded(corpus_docs, bands, rows_per_band)
    if max_bucket is not None:
        hot = (
            cb.groupBy("band", "key").count()
            .where(F.col("count") > max_bucket).select("band", "key")
        )
        cb = cb.join(F.broadcast(hot), ["band", "key"], "left_anti")
    cand = (
        nb.alias("a")
        .join(cb.alias("b"), ["band", "key"])
        .select(F.col("a.id").alias("new_id"), F.col("b.id").alias("corpus_id"))
        .where(F.col("new_id") != F.col("corpus_id"))
        .distinct()
    )
    da = new_docs.select(F.col("id").alias("new_id"), F.col("sh").alias("sh_a"))
    db = corpus_docs.select(F.col("id").alias("corpus_id"), F.col("sh").alias("sh_b"))
    return (
        cand.join(da, "new_id").join(db, "corpus_id")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.size("sh_a") + F.size("sh_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id",
                F.round(F.col("jaccard") + 1e-9, 6).alias("jaccard"))
    )


def hamming_pairs_incremental(
    new_df: DataFrame,
    corpus: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
    max_bucket: Optional[int] = None,
) -> DataFrame:
    """Incremental image near-dup: an incoming batch probed against the
    existing corpus by pigeonhole banding on the 64-bit hash (phash /
    simhash). Same recall-1 guarantee as `hamming_pairs` (any pair within
    distance agrees on >= 1 chunk); the join is batch-banding x
    corpus-banding, so the corpus is only touched through its (tiny,
    persistable) (id, hash) projection — the daily-ingest shape for an
    image corpus. Returns (new_id, corpus_id, hamming)."""
    chunks = max_hamming + 1
    width = 64 // chunks

    def _banded64(df: DataFrame) -> DataFrame:
        def _chunk_key(c: int) -> Column:
            shifted = F.shiftrightunsigned(F.col("__h"), c * width)
            if width >= 64:
                return shifted
            return shifted.bitwiseAND(F.lit((1 << width) - 1))

        src = df.select(F.col(id_col).alias("id"), F.col(hash_col).alias("__h"))
        return src.select(
            "id", "__h",
            F.explode(
                F.array(*[
                    F.struct(F.lit(c).alias("chunk"), _chunk_key(c).alias("key"))
                    for c in range(chunks)
                ])
            ).alias("bk"),
        ).select("id", "__h", "bk.chunk", "bk.key")

    nb = _banded64(new_df)
    cb = _banded64(corpus)
    if max_bucket is not None:
        counts = cb.groupBy("chunk", "key").agg(F.count(F.lit(1)).alias("__bn"))
        cb = cb.join(
            F.broadcast(counts.where(F.col("__bn") > max_bucket)),
            ["chunk", "key"], "left_anti",
        )
    a = nb.alias("a")
    b = cb.alias("b")
    ham = F.bit_count(F.col("a.__h").bitwiseXOR(F.col("b.__h")))
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .where(ham <= max_hamming)
        .select(
            F.col("a.id").alias("new_id"), F.col("b.id").alias("corpus_id"),
            ham.alias("hamming"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# Exact substring dedup (duplicated-span detection)
# ---------------------------------------------------------------------------
FP_MOD2 = 1_000_000_009  # second independent modulus for the packed hash


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 50,
    min_count: int = 2,
    keep_first: bool = False,
) -> DataFrame:
    """Exact substring dedup (the Lee et al. 2022 'Deduplicating Training
    Data' primitive): every position whose n-gram occurs >= `min_count`
    times ANYWHERE in the corpus, merged into maximal per-document spans
    [span_start, span_end) (1-based, end-exclusive). Cutting the spans
    out of the training text removes verbatim boilerplate/quotation
    duplication that document-level near-dup misses.

    Shape at 100 TB: one Arrow pass emits (id, pos, gram_fp) — ~len(text)
    rows per doc, the op's intrinsic cost; one shuffle counts gram
    occurrences; the dup-gram join is shuffle-on-fp (AQE may broadcast
    the usually-tiny dup set); the interval merge is a native window per
    doc. No per-row Python anywhere.
    """
    from typing import Iterator

    from pyspark.sql.window import Window as W

    def part(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        # whole-batch vectorization: hash the CONCATENATION of all docs in
        # one strided pass and mask windows that cross doc boundaries —
        # per-doc numpy calls would drown in per-array overhead (tiny
        # docs x n loop iterations), this runs the n-column mod loop once
        # over millions of windows instead.
        for pdf in batches:
            texts = [t if t else "" for t in pdf["txt"]]
            doc_ids = pdf["id"].to_numpy()
            lens = np.array([len(t) for t in texts], dtype=np.int64)
            total = int(lens.sum())
            if total < n:
                continue
            codes = np.frombuffer(
                "".join(texts).encode("utf-32-le"), dtype=np.uint32
            ).astype(np.int64)
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            windows = np.lib.stride_tricks.sliding_window_view(codes, n)
            h1 = np.zeros(len(windows), dtype=np.int64)
            h2 = np.zeros(len(windows), dtype=np.int64)
            for j in range(n):
                col = windows[:, j]
                h1 = (h1 * FP_BASE + col) % FP_MOD
                h2 = (h2 * FP_BASE + col) % FP_MOD2
            gidx = np.arange(len(windows), dtype=np.int64)
            doc = np.searchsorted(starts, gidx, side="right") - 1
            off = gidx - starts[doc]
            valid = off <= lens[doc] - n
            if not valid.any():
                continue
            yield pd.DataFrame({
                "id": doc_ids[doc[valid]],
                "pos": off[valid] + 1,
                "g": (h1 * (1 << 31) + h2)[valid],
            })

    # Preserve the caller's id type — hardcoding `id long` turns string
    # document ids (e.g. 'img_0001') into an Arrow conversion failure.
    id_t = df.schema[id_col].dataType.simpleString()
    grams = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("txt")
    ).mapInPandas(part, schema=f"id {id_t}, pos long, g long")
    if keep_first:
        # the Lee et al. removal policy: the globally FIRST occurrence of
        # each duplicated gram (by (id, pos)) stays clean; only later
        # occurrences are marked for cutting. One extra window over the
        # gram groups.
        gw = W.partitionBy("g").orderBy("id", "pos")
        ranked = grams.withColumn("rn", F.row_number().over(gw)).withColumn(
            "cnt", F.count(F.lit(1)).over(W.partitionBy("g"))
        )
        hits = ranked.where(
            (F.col("cnt") >= min_count) & (F.col("rn") > 1)
        ).select("id", "pos")
    else:
        # count-over-window instead of groupBy+join-back: ONE scan of the
        # gram pass and ONE shuffle on the gram hash (the join shape would
        # re-run the Arrow hashing pass for the probe side and shuffle the
        # gram table twice)
        hits = (
            grams.withColumn(
                "cnt", F.count(F.lit(1)).over(W.partitionBy("g"))
            )
            .where(F.col("cnt") >= min_count)
            .select("id", "pos")
        )

    w = W.partitionBy("id").orderBy("pos")
    prev_max_end = F.max(F.col("pos") + n).over(
        w.rowsBetween(W.unboundedPreceding, -1)
    )
    spans = (
        hits.withColumn(
            "new_span",
            (prev_max_end.isNull() | (F.col("pos") > prev_max_end)).cast("int"),
        )
        .withColumn("span_id", F.sum("new_span").over(w))
        .groupBy("id", "span_id")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + n).alias("span_end"),
            F.count(F.lit(1)).alias("dup_grams"),
        )
        .select(
            F.col("id").alias(id_col), "span_start", "span_end", "dup_grams"
        )
    )
    return spans


def remove_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Apply substring-dedup surgery: cut every [span_start, span_end)
    range (1-based, end-exclusive — duplicate_spans output) out of the
    document text. Returns all original rows with `text` rewritten and
    `removed_chars` counted; docs with no spans pass through untouched.

    One shuffle groups a doc's spans into an array (spans per doc are
    few — bounded by len/n); the cut itself is a native aggregate over
    substring slices, no Python in the path.
    """
    agg = spans.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("_spans")
    )
    joined = df.join(agg, id_col, "left")
    # fold the sorted spans: keep [cursor, start) slices, jump to end
    init = F.struct(
        F.lit(1).cast("long").alias("cursor"), F.lit("").alias("acc")
    )
    step = lambda acc, sp: F.struct(  # noqa: E731
        sp["span_end"].cast("long").alias("cursor"),
        F.concat(
            acc["acc"],
            F.substring(
                F.col(text_col),
                acc["cursor"].cast("int"),
                F.greatest(
                    (sp["span_start"] - acc["cursor"]).cast("int"), F.lit(0)
                ),
            ),
        ).alias("acc"),
    )
    folded = F.aggregate(
        F.col("_spans"),
        init,
        step,
        lambda acc: F.concat(
            acc["acc"],
            F.col(text_col).substr(
                acc["cursor"].cast("int"),
                F.length(text_col) - acc["cursor"].cast("int") + 1,
            ),
        ),
    )
    cleaned = F.when(F.col("_spans").isNull(), F.col(text_col)).otherwise(folded)
    return (
        joined.withColumn(
            "removed_chars", F.length(text_col) - F.length(cleaned)
        )
        .withColumn(text_col, cleaned)
        .drop("_spans")
    )
