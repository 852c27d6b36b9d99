"""Image fixture + multimodal operator tests — the input_hint invariants:
decoded-pixel parity (PSNR >= 40dB for the lossy format), caption
equality, phash integrity, Arrow-batched feature extraction.
"""

import numpy as np
import pytest

from chronon_spark.fixtures import (
    decode_image,
    encode_image,
    gen_caption,
    gen_image_rows,
    gen_pixels,
    ensure_image_fixture,
    phash64,
)
from chronon_spark.operators.multimodal import (
    extract_pixel_features,
    psnr,
    resize_images,
    with_image_features,
)


def test_rgb8_roundtrip_lossless():
    rng = np.random.default_rng(1)
    pix = gen_pixels(rng, 64, 48)
    assert np.array_equal(decode_image(encode_image(pix, "rgb8"), 64, 48, "rgb8"), pix)


def test_half_codec_psnr_above_40db():
    """The lossy format must stay above the input_hint's 40dB bar on the
    synthetic (smooth) content."""
    for i in range(20):
        rng = np.random.default_rng(100 + i)
        pix = gen_pixels(rng, 64, 48)
        dec = decode_image(encode_image(pix, "half"), 64, 48, "half")
        assert psnr(pix, dec) >= 40.0, f"image {i}: {psnr(pix, dec):.1f}dB"


def test_fixture_determinism_and_captions():
    a = gen_image_rows(30, seed=7)
    b = gen_image_rows(30, seed=7)
    for ra, rb in zip(a, b):
        assert ra["caption"] == rb["caption"]  # captions exact
        assert ra["bytes"] == rb["bytes"]
        assert ra["phash"] == rb["phash"]


def test_fixture_has_duplicate_phashes():
    rows = gen_image_rows(200, seed=42)
    phashes = [r["phash"] for r in rows]
    assert len(set(phashes)) < len(phashes)  # re-captures share phash


def test_phash_robust_to_lossy_encode():
    rng = np.random.default_rng(5)
    pix = gen_pixels(rng, 64, 48)
    dec = decode_image(encode_image(pix, "half"), 64, 48, "half")
    a, b = phash64(pix), phash64(dec)
    assert bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1") <= 4


def test_extract_pixel_features_matches_numpy(spark):
    path = ensure_image_fixture(n=60, seed=9, out_dir="/tmp/chronon_fixtures_test")
    df = spark.read.parquet(path)
    feats = {r["image_id"]: r for r in extract_pixel_features(df).collect()}
    rows = gen_image_rows(60, seed=9)
    assert len(feats) == 60
    for r in rows[:10]:
        pix = decode_image(r["bytes"], r["w"], r["h"], r["fmt"])
        f = feats[r["image_id"]]
        assert f["decode_ok"]
        assert f["phash_check"] == r["phash"]
        assert f["brightness"] == pytest.approx(pix.astype(np.float64).mean(), rel=1e-9)
        assert f["r_mean"] == pytest.approx(pix[:, :, 0].mean(), rel=1e-9)


def _phash_ref(g):
    """The per-image phash formula: 8x8 block means of the grayscale,
    thresholded at their mean, bit i = block i."""
    h, w = g.shape
    bh, bw = h // 8, w // 8
    blocks = g[: bh * 8, : bw * 8].reshape(8, bh, 8, bw).mean(axis=(1, 3))
    bits = (blocks > blocks.mean()).astype(np.uint64).ravel()
    val = int((bits << np.arange(64, dtype=np.uint64)).sum(dtype=np.uint64))
    return val - (1 << 64) if val >= (1 << 63) else val


def _features_ref(data, w, h, fmt):
    """Per-image decode and feature formulas, or None if the row must not
    decode. rgb8/half are decoded here independently of the engine."""
    from chronon_spark.codecs import decode_png

    if data is None or fmt not in ("rgb8", "half", "png"):
        return None
    if fmt == "png":
        try:
            pix = decode_png(data)
        except ValueError:  # corrupt
            return None
    else:
        sw, sh = (w, h) if fmt == "rgb8" else (w // 2, h // 2)
        if len(data) != sw * sh * 3:
            return None
        pix = np.frombuffer(data, dtype=np.uint8).reshape(sh, sw, 3)
        if fmt == "half":
            pix = np.repeat(np.repeat(pix, 2, axis=0), 2, axis=1)
    g = pix.astype(np.float64).mean(axis=2)
    gy, gx = np.gradient(g)
    return {
        "phash_check": _phash_ref(g), "brightness": g.mean(), "contrast": g.std(),
        "r_mean": pix[:, :, 0].mean(), "g_mean": pix[:, :, 1].mean(),
        "b_mean": pix[:, :, 2].mean(), "edge_energy": np.hypot(gx, gy).mean(),
        "aspect": w / h,
    }


# images under 8x8 have no phash blocks: their empty means warn
@pytest.mark.filterwarnings("ignore::RuntimeWarning")
@pytest.mark.parametrize("stack_pixels", [1 << 20, 700])
@pytest.mark.parametrize("seed", [1, 2])
def test_pixel_feature_batch_matches_per_image(seed, stack_pixels, monkeypatch):
    """The stacked batch function against the per-image formulas: random
    sizes (odd sides, sides that are not multiples of 8, a 4x4 image),
    rgb8 and half rows sharing (fmt, w, h) groups with wrong-length, NULL
    and unknown-codec rows, plus png rows. A small stack budget splits the
    groups into many stacks."""
    import pandas as pd

    from chronon_spark.operators import multimodal

    monkeypatch.setattr(multimodal, "_STACK_PIXELS", stack_pixels)
    rng = np.random.default_rng(seed)
    sizes = [(4, 4), (8, 8), (16, 9)] + [
        (int(rng.integers(4, 40)), int(rng.integers(4, 40))) for _ in range(5)]
    rows = []
    for w, h in sizes:
        for fmt in ("rgb8", "half"):
            for _ in range(int(rng.integers(1, 5))):
                rows.append((encode_image(gen_pixels(rng, w, h), fmt), w, h, fmt))
            good = rows[-1][0]
            rows += [(good[:-3], w, h, fmt), (good + b"\0", w, h, fmt),
                     (None, w, h, fmt), (good, w, h, "heic")]
        rows += [(encode_image(gen_pixels(rng, w, h), "png"), w, h, "png")
                 for _ in range(2)]
    rows.append((b"\x89PNG-corrupt", 8, 8, "png"))
    order = rng.permutation(len(rows))
    rows = [rows[i] for i in order]
    pdf = pd.DataFrame({
        "image_id": [f"i{i}" for i in range(len(rows))],
        "bytes": [r[0] for r in rows],
        "w": np.array([r[1] for r in rows], dtype=np.int32),
        "h": np.array([r[2] for r in rows], dtype=np.int32),
        "fmt": [r[3] for r in rows],
    })
    out = multimodal.pixel_feature_batch(pdf)
    assert list(out.columns) == [
        f.split()[0] for f in multimodal.PIXEL_FEATURE_SCHEMA.split(", ")]
    assert list(out["image_id"]) == list(pdf["image_id"])
    n_ok = 0
    for i, r in enumerate(rows):
        want = _features_ref(*r)
        got = out.iloc[i]
        assert bool(got["decode_ok"]) == (want is not None), (i, r[1:])
        if want is None:
            assert pd.isna(got["phash_check"]) and np.isnan(got["brightness"])
            assert np.isnan(got["aspect"])
            continue
        n_ok += 1
        assert int(got["phash_check"]) == want["phash_check"], (i, r[1:])
        for c in ("brightness", "contrast", "r_mean", "g_mean", "b_mean", "aspect"):
            assert got[c] == want[c], (i, r[1:], c)
        assert got["edge_energy"] == pytest.approx(want["edge_energy"], rel=1e-12)
    assert n_ok > len(sizes) * 3


@pytest.mark.filterwarnings("ignore::RuntimeWarning")
def test_phash64_matches_per_image_formula():
    """phash64 (a 1-image stack) is bit-identical to the per-image formula
    the stored fixture phashes were made with."""
    rng = np.random.default_rng(3)
    for _ in range(40):
        w, h = int(rng.integers(4, 90)), int(rng.integers(4, 90))
        pix = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        for p in (pix, gen_pixels(rng, w, h)):
            assert phash64(p) == _phash_ref(p.astype(np.float64).mean(axis=2))
    for r in gen_image_rows(40, seed=1):
        assert phash64(decode_image(r["bytes"], r["w"], r["h"], r["fmt"])) == r["phash"]


def test_unknown_codec_yields_decode_failed_row(spark):
    df = spark.createDataFrame(
        [("x", bytearray(b"\xff\xd8\xff"), 10, 10, "jpeg")],
        "image_id string, bytes binary, w int, h int, fmt string",
    )
    row = extract_pixel_features(df).collect()[0]
    assert row["decode_ok"] is False and row["brightness"] is None


def test_resize_shapes(spark):
    path = ensure_image_fixture(n=10, seed=9, out_dir="/tmp/chronon_fixtures_test")
    df = spark.read.parquet(path)
    out = resize_images(df, 16, 16).collect()
    for r in out:
        assert r["w"] == 16 and r["h"] == 16
        assert len(r["bytes"]) == 16 * 16 * 3


def test_with_image_features_join(spark):
    path = ensure_image_fixture(n=40, seed=9, out_dir="/tmp/chronon_fixtures_test")
    df = spark.read.parquet(path)
    out = with_image_features(df)
    assert out.count() == 40
    assert out.where("phash_check = phash").count() == 40  # integrity


# ---------------------------------------------------------------------------
# Video ('vraw') + audio ('pcm16') — round-trip, sampling, fused features
# ---------------------------------------------------------------------------

def test_vraw_roundtrip_and_motion():
    from chronon_spark.fixtures import (
        decode_video, encode_video, video_motion_energy,
    )

    rng = np.random.default_rng(2)
    base = gen_pixels(rng, 16, 16)
    frames = np.stack([np.roll(base, 2 * f, axis=1) for f in range(5)])
    data = encode_video(frames)
    dec = decode_video(data, 16, 16, 5)
    assert np.array_equal(dec, frames)
    assert video_motion_energy(dec) > 0
    assert video_motion_energy(dec[:1]) == 0.0


def test_sample_frames_explodes_to_frame_rows(spark):
    from chronon_spark.fixtures import decode_video, gen_video_rows
    from chronon_spark.operators.multimodal import sample_frames

    rows = gen_video_rows(12, seed=9)
    df = spark.createDataFrame(
        [(r["video_id"], r["bytes"], r["w"], r["h"], r["n_frames"], r["fmt"])
         for r in rows],
        "video_id string, bytes binary, w int, h int, n_frames int, fmt string",
    )
    out = sample_frames(df, every_n=2).collect()
    by_vid = {}
    for r in out:
        by_vid.setdefault(r["video_id"], []).append(r)
    for src in rows:
        got = sorted(by_vid[src["video_id"]], key=lambda r: r["frame_idx"])
        expect_idx = list(range(0, src["n_frames"], 2))
        assert [r["frame_idx"] for r in got] == expect_idx
        frames = decode_video(src["bytes"], src["w"], src["h"], src["n_frames"])
        for r in got:
            assert bytes(r["bytes"]) == frames[r["frame_idx"]].tobytes()
            assert r["fmt"] == "rgb8" and r["decode_ok"]


def test_sample_frames_composes_with_image_features(spark):
    """Sampled frames are a plain image table — the image feature
    extractor runs on them unchanged."""
    from chronon_spark.fixtures import gen_video_rows
    from chronon_spark.operators.multimodal import sample_frames
    import pyspark.sql.functions as F

    rows = gen_video_rows(5, seed=11)
    df = spark.createDataFrame(
        [(r["video_id"], r["bytes"], r["w"], r["h"], r["n_frames"], r["fmt"])
         for r in rows],
        "video_id string, bytes binary, w int, h int, n_frames int, fmt string",
    )
    frames = sample_frames(df, every_n=3).where("decode_ok").select(
        F.concat_ws("#", "video_id", "frame_idx").alias("image_id"),
        "bytes", "w", "h", "fmt",
    )
    feats = extract_pixel_features(frames).collect()
    assert len(feats) == sum(len(range(0, r["n_frames"], 3)) for r in rows)
    assert all(f["decode_ok"] for f in feats)


def test_extract_video_features_matches_naive(spark):
    from chronon_spark.fixtures import decode_video, gen_video_rows, phash64
    from chronon_spark.operators.multimodal import extract_video_features

    rows = gen_video_rows(10, seed=13)
    df = spark.createDataFrame(
        [(r["video_id"], r["bytes"], r["w"], r["h"], r["n_frames"], r["fmt"])
         for r in rows],
        "video_id string, bytes binary, w int, h int, n_frames int, fmt string",
    )
    got = {r["video_id"]: r for r in extract_video_features(df, every_n=2).collect()}
    for src in rows:
        frames = decode_video(src["bytes"], src["w"], src["h"], src["n_frames"])
        sampled = frames[::2].astype(np.float64)
        r = got[src["video_id"]]
        assert r["phash0_check"] == phash64(frames[0])
        assert r["n_frames_read"] == len(sampled)
        assert r["brightness"] == pytest.approx(sampled.mean())
        expect_motion = (
            float(np.abs(np.diff(sampled, axis=0)).mean()) if len(sampled) > 1 else 0.0
        )
        assert r["motion_energy"] == pytest.approx(expect_motion)


def test_video_fixture_sidecars_reproducible(spark):
    """The fixture's sidecar columns ARE what the engine computes from
    bytes alone — the driver-oracle contract."""
    from chronon_spark.fixtures import ensure_video_fixture
    from chronon_spark.operators.multimodal import extract_video_features

    path = ensure_video_fixture(n=40, seed=91)
    vids = spark.read.parquet(path)
    feats = extract_video_features(vids, every_n=1)
    joined = feats.join(vids.select("video_id", "phash", "brightness", "motion"),
                        "video_id").collect()
    assert len(joined) == 40
    for r in joined:
        assert r["phash0_check"] == r["phash"]
        assert r["brightness"] == pytest.approx(r["brightness"], abs=1e-9)
        assert r["motion_energy"] == pytest.approx(r["motion"], abs=1e-9)


def test_external_video_codec_stub(spark):
    from chronon_spark.operators.multimodal import sample_frames

    df = spark.createDataFrame(
        [("v0", b"\x00\x01", 16, 16, 4, "h264")],
        "video_id string, bytes binary, w int, h int, n_frames int, fmt string",
    )
    out = sample_frames(df).collect()
    assert len(out) == 1 and out[0]["decode_ok"] is False


def test_pcm16_roundtrip_and_features():
    from chronon_spark.fixtures import (
        audio_features_np, decode_pcm16, encode_pcm16,
    )

    t = np.arange(8000) / 8000.0
    x = 0.4 * np.sin(2 * np.pi * 440 * t)
    dec = decode_pcm16(encode_pcm16(x))
    assert np.abs(dec - x).max() < 1e-4  # int16 quantization only
    feats = audio_features_np(dec, 8000)
    assert feats["rms"] == pytest.approx(0.4 / np.sqrt(2), rel=1e-3)
    # a pure 440 Hz tone centroids near 440
    assert 400 < feats["spectral_centroid_hz"] < 480
    assert feats["duration_s"] == pytest.approx(1.0)


def test_extract_audio_features_matches_sidecars(spark):
    from chronon_spark.fixtures import ensure_audio_fixture
    from chronon_spark.operators.multimodal import extract_audio_features

    path = ensure_audio_fixture(n=50, seed=92)
    aud = spark.read.parquet(path)
    feats = extract_audio_features(aud)
    joined = feats.join(
        aud.select("audio_id",
                   aud["rms"].alias("rms_exp"),
                   aud["zcr"].alias("zcr_exp"),
                   aud["spectral_centroid_hz"].alias("cen_exp")),
        "audio_id").collect()
    assert len(joined) == 50
    for r in joined:
        assert r["decode_ok"]
        assert r["rms"] == pytest.approx(r["rms_exp"], abs=1e-12)
        assert r["zcr"] == pytest.approx(r["zcr_exp"], abs=1e-12)
        assert r["spectral_centroid_hz"] == pytest.approx(r["cen_exp"], abs=1e-9)


def test_external_audio_codec_stub(spark):
    from chronon_spark.operators.multimodal import extract_audio_features

    df = spark.createDataFrame(
        [("a0", b"\x00\x01", 44100, "mp3")],
        "audio_id string, bytes binary, sr int, fmt string",
    )
    out = extract_audio_features(df).collect()
    assert len(out) == 1 and out[0]["decode_ok"] is False and out[0]["rms"] is None


def test_extract_video_features_passthrough(spark):
    from chronon_spark.fixtures import gen_video_rows
    from chronon_spark.operators.multimodal import extract_video_features

    rows = gen_video_rows(6, seed=15)
    df = spark.createDataFrame(
        [(r["video_id"], r["bytes"], r["w"], r["h"], r["n_frames"], r["fmt"],
          r["phash"], r["ts"]) for r in rows],
        "video_id string, bytes binary, w int, h int, n_frames int, fmt string, "
        "phash long, ts long",
    )
    out = {r["video_id"]: r for r in
           extract_video_features(df, every_n=2, passthrough=("phash", "ts")).collect()}
    for src in rows:
        r = out[src["video_id"]]
        assert r["phash"] == src["phash"] and r["ts"] == src["ts"]
        assert r["phash0_check"] == src["phash"]


def test_image_phash_neardup_matches_bruteforce(spark):
    """Banded hamming pairs over DECODED-pixel hashes == numpy all-pairs
    over the stored phash (the fixture generator wrote phash from the
    same decode), at several radii incl. one where banding uses 21-bit
    chunks over heavily-correlated hashes."""
    from chronon_spark.fixtures import gen_image_rows
    from chronon_spark.operators.dedup import image_phash_neardup_pairs

    rows = gen_image_rows(80, seed=9)
    df = spark.createDataFrame(
        [(r["image_id"], r["bytes"], r["w"], r["h"], r["fmt"], r["caption"],
          r["phash"], r["ts"]) for r in rows],
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long, ts long",
    )
    ph = {r["image_id"]: r["phash"] for r in rows}
    ids = sorted(ph)
    for max_h in (0, 2, 3):
        expect = {
            (a, b, bin((ph[a] ^ ph[b]) & (2**64 - 1)).count("1"))
            for i, a in enumerate(ids) for b in ids[i + 1:]
            if bin((ph[a] ^ ph[b]) & (2**64 - 1)).count("1") <= max_h
        }
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in image_phash_neardup_pairs(df, max_hamming=max_h).collect()
        }
        assert got == expect, f"radius {max_h}"
    assert expect, "fixture must contain near-dup pairs at radius 3"


def test_hamming_pairs_bucket_cap_drops_hot_buckets(spark):
    """max_bucket prunes band buckets above the cap BEFORE the self-join:
    a constant-hash cluster (every band bucket size n) yields no pairs
    under a small cap, while distinct near hashes survive."""
    from chronon_spark.operators.dedup import hamming_pairs

    rows = [(f"c{i}", 0) for i in range(20)] + [("x1", 1 << 40), ("x2", (1 << 40) | 1)]
    df = spark.createDataFrame(rows, "id string, h long")
    capped = hamming_pairs(df, "id", "h", max_hamming=1, max_bucket=10).collect()
    assert {(r["id_a"], r["id_b"]) for r in capped} == {("x1", "x2")}
    uncapped = hamming_pairs(df, "id", "h", max_hamming=1).collect()
    # 190 within-cluster pairs + x1-x2 + 20 cluster-x1 pairs (hamming 1)
    assert len(uncapped) == 20 * 19 // 2 + 1 + 20


def test_curate_images_gates_and_clusters(spark):
    """Quality gates drop low-res / short-caption / undecodable rows;
    survivors cluster on decoded-phash hamming with min-id canonicals."""
    from chronon_spark.fixtures import encode_image, gen_pixels, phash64
    import numpy as np
    from chronon_spark.operators.multimodal import curate_images

    rng = np.random.default_rng(3)
    pix = gen_pixels(rng, 64, 48)
    near = pix.copy()
    near[0, 0] = 255 - near[0, 0]  # tiny perturbation, phash-equal or near
    rows = [
        ("a", encode_image(pix, "rgb8"), 64, 48, "rgb8", "one two three four"),
        ("b", encode_image(near, "rgb8"), 64, 48, "rgb8", "one two three four"),
        ("lowres", encode_image(gen_pixels(rng, 16, 16), "rgb8"), 16, 16,
         "rgb8", "one two three four"),
        ("shortcap", encode_image(gen_pixels(rng, 64, 48), "rgb8"), 64, 48,
         "rgb8", "hi"),
        ("broken", b"\x00\x01", 64, 48, "jpeg", "one two three four"),
    ]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string, caption string"
    )
    out = {r["image_id"]: r for r in curate_images(
        df, min_w=32, min_h=32, min_caption_tokens=4, max_hamming=4
    ).collect()}
    assert set(out) == {"a", "b"}
    ham = bin(phash64(pix) ^ phash64(near)).count("1")
    assert ham <= 4, "perturbation must stay within the test radius"
    assert out["a"]["cluster_id"] == "a" and out["a"]["is_canonical"]
    assert out["b"]["cluster_id"] == "a" and not out["b"]["is_canonical"]
