"""Deterministic synthetic image+caption fixture — the BASELINE.json
`input_hint` table, synthesized at small scale for tests/benchmarks:

  (image_id: string, bytes: binary, w: int32, h: int32, fmt: string,
   caption: string, phash: int64, ts: long, ds: string)

Two engine-decodable formats (no image libs in this container):
  * 'rgb8'  — raw interleaved RGB uint8, lossless.
  * 'half'  — 2x2 block-mean downsample stored at half resolution; decode
    upsamples by pixel replication. A deterministic stand-in for a lossy
    codec: smooth synthetic content keeps PSNR >= 40dB (asserted in tests),
    matching the input_hint's lossy-format bar.

Content is smooth gradients + low-frequency sinusoids parameterized by a
seeded RNG per image — fully reproducible from (seed, index).
"""

from __future__ import annotations

import os
from typing import Optional

import numpy as np

# generated fixtures go to `.fixtures/` in the checkout this package is in
FIXTURE_DIR = os.path.abspath(os.path.join(__file__, "..", "..", ".fixtures"))
DAY_MS = 86_400_000
BASE_TS = 1704067200000  # 2024-01-01 UTC

CAPTION_SUBJECTS = ["a red fox", "two boats", "a mountain trail", "an old clock",
                    "the night sky", "a paper lantern", "a stone bridge", "wild horses"]
CAPTION_VERBS = ["resting near", "crossing", "overlooking", "floating above",
                 "hidden behind", "circling"]
CAPTION_PLACES = ["the river delta", "a quiet harbor", "the autumn forest",
                  "snowy peaks", "an empty plaza", "rolling dunes"]


def gen_pixels(rng: np.random.Generator, w: int, h: int) -> np.ndarray:
    """Smooth deterministic content: per-channel gradient + sinusoid."""
    y, x = np.mgrid[0:h, 0:w].astype(np.float64)
    img = np.zeros((h, w, 3))
    for c in range(3):
        a, b, fx, fy, ph = rng.uniform(0, 1, 5)
        img[:, :, c] = (
            96 + 64 * (a * x / w + (1 - a) * y / h)
            + 48 * b * np.sin(2 * np.pi * (fx * x / w + fy * y / h) + ph * 6.28)
        )
    return np.clip(img, 0, 255).astype(np.uint8)


def encode_image(pix: np.ndarray, fmt: str) -> bytes:
    h, w, _ = pix.shape
    if fmt == "rgb8":
        return pix.tobytes()
    if fmt == "half":
        ph = pix[: h - h % 2, : w - w % 2].astype(np.float64)
        small = (
            ph.reshape(h // 2, 2, w // 2, 2, 3).mean(axis=(1, 3))
        )
        return np.round(small).astype(np.uint8).tobytes()
    if fmt == "png":
        from chronon_spark.codecs import encode_png

        return encode_png(pix)
    if fmt == "jpeg":
        from chronon_spark.codecs import encode_jpeg

        return encode_jpeg(pix, quality=92)
    if fmt == "gif":
        from chronon_spark.codecs import encode_gif

        return encode_gif(pix)  # caller quantizes to <= 256 colors
    if fmt == "bmp":
        from chronon_spark.codecs import encode_bmp

        return encode_bmp(pix)
    if fmt == "tiff":
        from chronon_spark.tiff_codec import encode_tiff

        return encode_tiff(pix, compression="lzw", predictor=True)
    if fmt == "webp":
        from chronon_spark.webp_codec import encode_webp

        return encode_webp(pix)
    raise ValueError(f"unknown fmt {fmt}")


def decode_image(data: bytes, w: int, h: int, fmt: str) -> np.ndarray:
    """Decode to (h, w, 3) uint8: the synthetic layouts (rgb8/half) plus
    the REAL interchange formats (png/jpeg/gif/bmp/tiff/webp — all
    from-scratch spec implementations, incl. lossy VP8 WebP)."""
    if fmt in SYNTHETIC_FORMATS:
        return decode_synthetic([data], w, h, fmt)[0]
    if fmt == "png":
        from chronon_spark.codecs import decode_png

        return decode_png(data)
    if fmt == "jpeg":
        from chronon_spark.codecs import decode_jpeg

        return decode_jpeg(data)
    if fmt == "gif":
        from chronon_spark.codecs import decode_gif

        return decode_gif(data)
    if fmt == "bmp":
        from chronon_spark.codecs import decode_bmp

        return decode_bmp(data)
    if fmt == "tiff":
        from chronon_spark.tiff_codec import decode_tiff

        return decode_tiff(data)
    if fmt == "webp":
        from chronon_spark.webp_codec import decode_webp

        return decode_webp(data)
    raise ValueError(f"unknown fmt {fmt}")


SYNTHETIC_FORMATS = ("rgb8", "half")


def synthetic_payload_len(w: int, h: int, fmt: str) -> int:
    """Byte length of a valid rgb8/half payload for a w x h image."""
    return w * h * 3 if fmt == "rgb8" else (w // 2) * (h // 2) * 3


def decode_synthetic(payloads, w: int, h: int, fmt: str) -> np.ndarray:
    """Decode same-size rgb8/half payloads to one (n, h, w, 3) uint8 stack
    with a single frombuffer. 'half' is upsampled 2x by repetition, so odd
    sizes come back cropped to even. A payload of the wrong length raises
    ValueError, a NULL one TypeError."""
    n = len(payloads)
    raw = np.frombuffer(b"".join(payloads), dtype=np.uint8)
    if fmt == "rgb8":
        return raw.reshape(n, h, w, 3)
    small = raw.reshape(n, h // 2, w // 2, 3)
    return np.repeat(np.repeat(small, 2, axis=1), 2, axis=2)


def gray_mean(pix: np.ndarray) -> np.ndarray:
    """Channel mean of (..., C) pixels as float64. The channels are added
    one by one, which is bit-identical to pix.astype(float64).mean(-1)
    without materializing the float64 copy of every channel."""
    g = pix[..., 0].astype(np.float64)
    for c in range(1, pix.shape[-1]):
        g += pix[..., c]
    g /= pix.shape[-1]
    return g


def phash64_gray(g: np.ndarray) -> np.ndarray:
    """64-bit perceptual hashes of an (n, h, w) float64 grayscale stack:
    8x8 block-mean, thresholded at the mean of the 64 blocks
    (deterministic, library-free). Returns int64 (the hash bits as a
    signed long)."""
    n, h, w = g.shape
    bh, bw = h // 8, w // 8
    blocks = g[:, : bh * 8, : bw * 8].reshape(n, 8, bh, 8, bw).mean(axis=(2, 4))
    blocks = blocks.reshape(n, 64)
    bits = (blocks > blocks.mean(axis=1)[:, None]).astype(np.uint64)
    shifted = bits << np.arange(64, dtype=np.uint64)
    return shifted.sum(axis=1, dtype=np.uint64).view(np.int64)


def phash64(pix: np.ndarray) -> int:
    """phash64_gray of one (h, w, C) image, as a 1-image stack."""
    return int(phash64_gray(gray_mean(pix)[None])[0])


def gen_caption(rng: np.random.Generator) -> str:
    s = CAPTION_SUBJECTS[int(rng.integers(0, len(CAPTION_SUBJECTS)))]
    v = CAPTION_VERBS[int(rng.integers(0, len(CAPTION_VERBS)))]
    p = CAPTION_PLACES[int(rng.integers(0, len(CAPTION_PLACES)))]
    return f"{s} {v} {p}"


def gen_image_rows(n: int, seed: int = 42, span_days: int = 30, offset: int = 0):
    """Rows [offset, offset+n). ~15% of images are re-captured duplicates
    of an earlier image (same pixels/phash, later ts) — the dedup
    scenario. Each row's RNG is seeded by its ABSOLUTE index (and a
    re-capture regenerates its source from the source's absolute index),
    so chunked/parallel generation produces byte-identical rows."""
    sizes = [(32, 32), (64, 48), (48, 64), (80, 60)]
    rows = []
    for i in range(offset, offset + n):
        rng = np.random.default_rng(seed * 1_000_003 + i)
        if i > 10 and rng.random() < 0.15:
            src = int(rng.integers(0, i))
            srng = np.random.default_rng(seed * 1_000_003 + src)
            w, h = sizes[int(srng.integers(0, len(sizes)))]
            pix = gen_pixels(srng, w, h)
            caption = gen_caption(srng)
        else:
            w, h = sizes[int(rng.integers(0, len(sizes)))]
            pix = gen_pixels(rng, w, h)
            caption = gen_caption(rng)
        fmt = "rgb8" if rng.random() < 0.5 else "half"
        data = encode_image(pix, fmt)
        ts = BASE_TS + int(rng.integers(0, span_days * DAY_MS))
        rows.append({
            "image_id": f"img_{i:08d}",
            "bytes": data,
            "w": int(w),
            "h": int(h),
            "fmt": fmt,
            "caption": caption,
            "phash": phash64(decode_image(data, w, h, fmt)),
            "ts": ts,
        })
    return rows


# Binary-payload fixtures MUST be written in bounded row groups: parquet
# splits scans at row-group boundaries, so a single-row-group multi-GB file
# is one unsplittable task — the scan (and any shuffle write fused into it)
# runs serial no matter the core count. 1024 rows x ~6KB payload ≈ 6MB per
# group: with spark.sql.files.maxPartitionBytes=8m the scan fans out to
# ≥32 tasks from 48k rows up, WITHOUT any repartition of the binary rows
# (round-robin repartition sorts each partition by the full serialized row
# first — pathological on multi-KB payloads).
FIXTURE_ROW_GROUP = 1024


def _image_rows_table(rows):
    import pyarrow as pa

    ds = [
        __import__("datetime").datetime.utcfromtimestamp(r["ts"] / 1000).strftime("%Y-%m-%d")
        for r in rows
    ]
    return pa.table({
        "image_id": [r["image_id"] for r in rows],
        "bytes": pa.array([r["bytes"] for r in rows], type=pa.binary()),
        "w": pa.array([r["w"] for r in rows], type=pa.int32()),
        "h": pa.array([r["h"] for r in rows], type=pa.int32()),
        "fmt": [r["fmt"] for r in rows],
        "caption": [r["caption"] for r in rows],
        "phash": pa.array([r["phash"] for r in rows], type=pa.int64()),
        "ts": pa.array([r["ts"] for r in rows], type=pa.int64()),
        "ds": ds,
    })


def _image_chunk_writer(task):
    """(dir_path, seed, chunk_idx, lo, count) -> writes one part file."""
    import pyarrow.parquet as pq

    dir_path, seed, chunk_idx, lo, count = task
    part = os.path.join(dir_path, f"part-{chunk_idx:05d}.parquet")
    rows = gen_image_rows(count, seed, offset=lo)
    pq.write_table(_image_rows_table(rows), part, row_group_size=FIXTURE_ROW_GROUP)
    return part


def ensure_image_fixture(
    n: int = 500, seed: int = 42, out_dir: str = FIXTURE_DIR,
    n_jobs: int | None = None,
) -> str:
    """Write the fixture parquet once; return the path. Idempotent on
    (n, seed). Large n (>= 100k) is generated in parallel as a DIRECTORY
    of part parquets on fixed 30k-row chunk boundaries — per-row RNG is
    seeded by absolute row index, so the bytes are identical regardless
    of worker count or chunking."""
    path = os.path.join(out_dir, f"images_n{n}_s{seed}.parquet")
    if os.path.exists(path):
        return path
    os.makedirs(out_dir, exist_ok=True)
    import pyarrow.parquet as pq

    if n >= 100_000:
        chunk = 30_000
        tmp_dir = path + ".tmp"
        os.makedirs(tmp_dir, exist_ok=True)
        tasks = [
            (tmp_dir, seed, ci, lo, min(chunk, n - lo))
            for ci, lo in enumerate(range(0, n, chunk))
        ]
        import multiprocessing as mp

        jobs = n_jobs or min(16, mp.cpu_count())
        with mp.get_context("spawn").Pool(jobs) as pool:
            pool.map(_image_chunk_writer, tasks)
        os.replace(tmp_dir, path)
        return path

    rows = gen_image_rows(n, seed)
    tmp = path + ".tmp"
    pq.write_table(_image_rows_table(rows), tmp, row_group_size=FIXTURE_ROW_GROUP)
    os.replace(tmp, path)
    return path


def _quantize_to_palette(pix: np.ndarray, max_colors: int = 256) -> np.ndarray:
    """Deterministically coarsen until <= max_colors distinct colors
    (GIF / 8-bit-BMP palette bound)."""
    for step in (32, 64, 128):
        q = (pix // step) * step
        if len(np.unique(q.reshape(-1, 3), axis=0)) <= max_colors:
            return q
    return (pix // 128) * 128  # 8 colors max; always fits


def gen_real_image_rows(n: int, seed: int = 42, span_days: int = 30,
                        offset: int = 0):
    """Real-interchange-format rows (PNG / baseline JPEG / GIF / BMP
    bytes from chronon_spark.codecs). Same (seed, index)-determinism as
    gen_image_rows, plus two sidecars derived at generation time:

      dec_brightness — round(mean gray of the DECODED pixels, 2): the
        engine must reproduce it from the bytes alone (exact pin —
        lossless for png, decode-deterministic for jpeg);
      psnr_db       — PSNR of decoded vs pre-encode pixels, capped at
        99.0 for the lossless case. The oracle pins psnr_db >= 40 for
        every row, making the input_hint's lossy-format bar part of the
        correctness hash.
    """
    from chronon_spark.operators import multimodal  # psnr, no cycle: lazy

    sizes = [(32, 32), (64, 48), (48, 64), (80, 60)]
    rows = []
    for i in range(offset, offset + n):
        rng = np.random.default_rng(seed * 2_000_003 + i)
        w, h = sizes[int(rng.integers(0, len(sizes)))]
        pix = gen_pixels(rng, w, h)
        fv = rng.random()
        fmt = ("png" if fv < 0.3 else "jpeg" if fv < 0.6
               else "gif" if fv < 0.72 else "bmp" if fv < 0.8
               else "tiff" if fv < 0.9 else "webp")
        if fmt == "tiff":
            # baseline-surface spread: none/LZW/PackBits x predictor x
            # strips x byte order; gray-mode rows transform pix FIRST so
            # the round trip stays lossless (sidecars follow, like GIF)
            from chronon_spark.tiff_codec import encode_tiff

            tv = rng.random()
            if tv < 0.3:
                data = encode_tiff(pix, compression="lzw", predictor=True,
                                   rows_per_strip=16)
            elif tv < 0.5:
                data = encode_tiff(pix, compression="packbits",
                                   byte_order="MM")
            elif tv < 0.7:
                data = encode_tiff(pix, compression="none")
            elif tv < 0.85:
                pix = _quantize_to_palette(pix)
                data = encode_tiff(pix, compression="lzw", mode="palette")
            else:
                g = np.round(pix.astype(np.float64).mean(axis=2)).astype(
                    np.uint8)
                pix = np.repeat(g[:, :, None], 3, axis=2)
                data = encode_tiff(pix, compression="lzw", mode="gray",
                                   predictor=True)
        elif fmt == "webp":
            # webp rows split three ways: our literal-subset lossless
            # encoder, the REAL system encoder's lossless output (which
            # uses predictor/cross-color transforms, color cache and
            # meta-prefix groups our encoder never emits), and REAL
            # lossy VP8 at qualities 88/94 (above the 40 dB oracle
            # floor) — so the gate decodes genuine foreign bitstreams
            # on both webp paths. Falls back to our encoder where
            # libwebp is absent (sidecars stay generation-time truth).
            wv = rng.random()
            data = None
            if wv < 0.4:
                data = _encode_webp_lossy_system(
                    pix, 88.0 if rng.random() < 0.5 else 94.0)
            elif wv < 0.7:
                data = _encode_webp_lossless_system(pix)
            if data is None:
                from chronon_spark.webp_codec import encode_webp

                data = encode_webp(pix)
        elif fmt == "gif":
            # GIF is palette-limited: quantize first (sidecars follow the
            # quantized pixels — the round trip itself is lossless). The
            # step is adaptive: smooth gradient content at //32 usually
            # lands well under 256 colors, but large rows can exceed it,
            # so coarsen deterministically until the palette fits.
            from chronon_spark.codecs import encode_gif

            pix = _quantize_to_palette(pix)
            data = encode_gif(pix, interlace=bool(rng.random() < 0.4))
        elif fmt == "bmp":
            from chronon_spark.codecs import encode_bmp

            if rng.random() < 0.3:  # 8-bit palette layout needs <= 256 colors
                pix = _quantize_to_palette(pix)
                data = encode_bmp(pix, bpp=8)
            else:
                data = encode_bmp(pix, bpp=24)
        elif fmt == "jpeg":
            # cover the real-world layout spread: 4:2:0 vs 4:4:4, with and
            # without restart intervals — all must clear the 40dB bar
            from chronon_spark.codecs import encode_jpeg

            sub = "420" if rng.random() < 0.5 else "444"
            ri = 2 if rng.random() < 0.5 else 0
            data = encode_jpeg(pix, quality=92, subsampling=sub,
                               restart_interval=ri)
        else:
            # PNG layout spread: truecolor / Adam7-interlaced / RGBA
            # (opaque) / palette / grayscale — all lossless round trips
            from chronon_spark.codecs import encode_png

            v = rng.random()
            if v < 0.35:
                data = encode_png(pix)
            elif v < 0.55:
                data = encode_png(pix, interlace=True)
            elif v < 0.7:
                data = encode_png(pix, color_type=6)
            elif v < 0.85:
                pix = (pix // 32) * 32  # <= 256 colors; sidecars follow
                data = encode_png(pix, color_type=3)
            else:
                pix = np.repeat(pix[:, :, :1], 3, axis=2)
                data = encode_png(pix, color_type=0, interlace=bool(v > 0.93))
        decoded = decode_image(data, w, h, fmt)
        p = multimodal.psnr(pix, decoded)
        ts = BASE_TS + int(rng.integers(0, span_days * DAY_MS))
        rows.append({
            "image_id": f"rimg_{i:08d}",
            "bytes": data,
            "w": int(w),
            "h": int(h),
            "fmt": fmt,
            "caption": gen_caption(rng),
            "phash": phash64(decoded),
            "ts": ts,
            "dec_brightness": round(
                float(decoded.astype(np.float64).mean()), 2
            ),
            "psnr_db": min(99.0, round(p, 2)),
        })
    return rows


def _real_rows_table(rows):
    import pyarrow as pa

    return _image_rows_table(rows).append_column(
        "dec_brightness",
        pa.array([r["dec_brightness"] for r in rows], type=pa.float64()),
    ).append_column(
        "psnr_db", pa.array([r["psnr_db"] for r in rows], type=pa.float64())
    )


def _real_chunk_writer(task):
    """(dir_path, seed, chunk_idx, lo, count) -> writes one part file."""
    import pyarrow.parquet as pq

    dir_path, seed, chunk_idx, lo, count = task
    part = os.path.join(dir_path, f"part-{chunk_idx:05d}.parquet")
    rows = gen_real_image_rows(count, seed, offset=lo)
    pq.write_table(_real_rows_table(rows), part, row_group_size=FIXTURE_ROW_GROUP)
    return part


def _libwebp_enc_handle():
    """ctypes handle to the system libwebp encoder, cached; None when
    the shared library is unavailable."""
    import ctypes
    import ctypes.util

    global _LIBWEBP_ENC
    try:
        return _LIBWEBP_ENC
    except NameError:
        pass
    lib = None
    for name in ("libwebp.so.7", "libwebp.so",
                 ctypes.util.find_library("webp")):
        if not name:
            continue
        try:
            lib = ctypes.CDLL(name)
            lib.WebPEncodeRGB.restype = ctypes.c_size_t
            lib.WebPEncodeRGB.argtypes = [
                ctypes.c_char_p, ctypes.c_int, ctypes.c_int,
                ctypes.c_int, ctypes.c_float,
                ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8))]
            lib.WebPEncodeLosslessRGB.restype = ctypes.c_size_t
            lib.WebPEncodeLosslessRGB.argtypes = [
                ctypes.c_char_p, ctypes.c_int, ctypes.c_int,
                ctypes.c_int,
                ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8))]
            lib.WebPFree.restype = None
            lib.WebPFree.argtypes = [ctypes.c_void_p]
            break
        except OSError:
            lib = None
    _LIBWEBP_ENC = lib
    return lib


def _encode_webp_lossless_system(pix: "np.ndarray"):
    """Real VP8L lossless bytes from the SYSTEM libwebp (transforms,
    color cache, meta-prefix — streams our subset encoder never
    produces), or None when unavailable."""
    import ctypes

    lib = _libwebp_enc_handle()
    if lib is None:
        return None
    h, w = pix.shape[:2]
    out = ctypes.POINTER(ctypes.c_uint8)()
    n = lib.WebPEncodeLosslessRGB(
        np.ascontiguousarray(pix).tobytes(), w, h, w * 3, ctypes.byref(out))
    if n == 0:
        return None
    data = ctypes.string_at(out, n)
    lib.WebPFree(out)
    return data


def _encode_webp_lossy_system(pix: "np.ndarray", quality: float):
    """Real lossy VP8 bytes from the SYSTEM libwebp via ctypes, or None
    when the shared library is unavailable. Fixture-generation tooling
    only — the engine's decode path never touches external codecs."""
    import ctypes

    lib = _libwebp_enc_handle()
    if lib is None:
        return None
    h, w = pix.shape[:2]
    out = ctypes.POINTER(ctypes.c_uint8)()
    n = lib.WebPEncodeRGB(np.ascontiguousarray(pix).tobytes(), w, h, w * 3,
                          ctypes.c_float(quality), ctypes.byref(out))
    if n == 0:
        return None
    data = ctypes.string_at(out, n)
    lib.WebPFree(out)
    return data


def ensure_real_image_fixture(
    n: int = 200, seed: int = 42, out_dir: str = FIXTURE_DIR,
    n_jobs: int | None = None,
) -> str:
    """Write the real-codec (png/jpeg) fixture parquet once; idempotent
    on (n, seed). The pure-python JPEG ENCODER costs ~7ms/row, so large
    n is generated in parallel as a directory of part parquets on fixed
    2k-row chunk boundaries — per-row RNG seeds on the absolute row
    index, so bytes are identical regardless of worker count."""
    # v3: jpeg rows sample 4:2:0/4:4:4 x restart-interval variants and png
    # rows sample truecolor/interlaced/RGBA/palette/grayscale layouts (the
    # r4 codec completion); v4 adds GIF (LZW, plain + interlaced) and BMP
    # (24-bit + 8-bit palette) rows; v5 adds TIFF (none/LZW/PackBits x
    # predictor x strips x byte order x rgb/palette/gray) and
    # WebP-lossless rows — the complete six-format surface; v6 makes
    # half the webp rows REAL LOSSY VP8 (system-encoder bitstreams,
    # decoded by the from-scratch vp8_codec). The version tag
    # invalidates caches whose bytes predate the layout spread.
    path = os.path.join(out_dir, f"images_real_v6_n{n}_s{seed}.parquet")
    if os.path.exists(path):
        return path
    os.makedirs(out_dir, exist_ok=True)
    import pyarrow.parquet as pq

    if n >= 2_000:
        chunk = 2_000
        tmp_dir = path + ".tmp"
        os.makedirs(tmp_dir, exist_ok=True)
        tasks = [
            (tmp_dir, seed, ci, lo, min(chunk, n - lo))
            for ci, lo in enumerate(range(0, n, chunk))
        ]
        import multiprocessing as mp

        jobs = n_jobs or min(16, mp.cpu_count())
        with mp.get_context("spawn").Pool(jobs) as pool:
            pool.map(_real_chunk_writer, tasks)
        os.replace(tmp_dir, path)
        return path

    rows = gen_real_image_rows(n, seed)
    tmp = path + ".tmp"
    pq.write_table(_real_rows_table(rows), tmp, row_group_size=FIXTURE_ROW_GROUP)
    os.replace(tmp, path)
    return path


# ---------------------------------------------------------------------------
# Video fixture: engine-native 'vraw' codec = n_frames rgb8 frames
# concatenated ((n, h, w, 3) uint8). Motion = horizontal roll per frame, so
# per-video motion energy is non-trivial but brightness stays flat.
# Sidecar columns (phash of frame 0, brightness, motion) are computed from
# the DECODED bytes at generation time — the driver oracle reads them and
# the engine must reproduce them from the binary payload alone.
# ---------------------------------------------------------------------------

def encode_video(frames: np.ndarray) -> bytes:
    return np.ascontiguousarray(frames).tobytes()


def decode_video(data: bytes, w: int, h: int, n_frames: int) -> np.ndarray:
    """Decode 'vraw' to (n_frames, h, w, 3) uint8."""
    return np.frombuffer(data, dtype=np.uint8).reshape(n_frames, h, w, 3)


def video_motion_energy(frames: np.ndarray) -> float:
    """Mean |frame[i+1] - frame[i]| over consecutive frames (0.0 if <2)."""
    if len(frames) < 2:
        return 0.0
    d = np.abs(np.diff(frames.astype(np.float64), axis=0))
    return float(d.mean())


def gen_video_rows(n: int, seed: int = 77, span_days: int = 30, offset: int = 0):
    """Rows [offset, offset+n). Each row's RNG is seeded by its absolute
    index, so chunked/parallel generation produces byte-identical rows."""
    sizes = [(16, 16), (24, 16), (16, 24)]
    rows = []
    for i in range(offset, offset + n):
        rng = np.random.default_rng(seed * 1_000_003 + i)
        w, h = sizes[int(rng.integers(0, len(sizes)))]
        n_frames = int(rng.integers(4, 13))
        base = gen_pixels(rng, w, h)
        frames = np.stack(
            [np.roll(base, shift=2 * f, axis=1) for f in range(n_frames)]
        )
        data = encode_video(frames)
        ts = BASE_TS + int(rng.integers(0, span_days * DAY_MS))
        dec = decode_video(data, w, h, n_frames)
        rows.append({
            "video_id": f"vid_{i:08d}",
            "bytes": data,
            "w": int(w),
            "h": int(h),
            "n_frames": n_frames,
            "fps": 8,
            "fmt": "vraw",
            "caption": gen_caption(rng),
            "phash": phash64(dec[0]),
            "brightness": float(dec.astype(np.float64).mean()),
            "motion": video_motion_energy(dec),
            "ts": ts,
        })
    return rows


def _video_rows_table(rows):
    import pyarrow as pa

    return pa.table({
        "video_id": [r["video_id"] for r in rows],
        "bytes": pa.array([r["bytes"] for r in rows], type=pa.binary()),
        "w": pa.array([r["w"] for r in rows], type=pa.int32()),
        "h": pa.array([r["h"] for r in rows], type=pa.int32()),
        "n_frames": pa.array([r["n_frames"] for r in rows], type=pa.int32()),
        "fps": pa.array([r["fps"] for r in rows], type=pa.int32()),
        "fmt": [r["fmt"] for r in rows],
        "caption": [r["caption"] for r in rows],
        "phash": pa.array([r["phash"] for r in rows], type=pa.int64()),
        "brightness": pa.array([r["brightness"] for r in rows], type=pa.float64()),
        "motion": pa.array([r["motion"] for r in rows], type=pa.float64()),
        "ts": pa.array([r["ts"] for r in rows], type=pa.int64()),
    })


def _video_chunk_writer(task):
    """(dir_path, seed, chunk_idx, lo, count) -> writes one part file."""
    import pyarrow.parquet as pq

    dir_path, seed, chunk_idx, lo, count = task
    part = os.path.join(dir_path, f"part-{chunk_idx:05d}.parquet")
    rows = gen_video_rows(count, seed, offset=lo)
    pq.write_table(_video_rows_table(rows), part, row_group_size=FIXTURE_ROW_GROUP)
    return part


def ensure_video_fixture(
    n: int = 200, seed: int = 77, out_dir: str = FIXTURE_DIR,
    n_jobs: int | None = None,
) -> str:
    """Deterministic 'vraw' video table. Large n (>=100k) is generated in
    parallel as a DIRECTORY of part parquets on fixed 30k-row chunk
    boundaries — per-row RNG is seeded by absolute row index, so the
    bytes are identical regardless of worker count or chunking."""
    path = os.path.join(out_dir, f"videos_n{n}_s{seed}.parquet")
    if os.path.exists(path):
        return path
    os.makedirs(out_dir, exist_ok=True)
    import pyarrow.parquet as pq

    if n >= 100_000:
        chunk = 30_000
        tmp_dir = path + ".tmp"
        os.makedirs(tmp_dir, exist_ok=True)
        tasks = [
            (tmp_dir, seed, ci, lo, min(chunk, n - lo))
            for ci, lo in enumerate(range(0, n, chunk))
        ]
        import multiprocessing as mp

        jobs = n_jobs or min(16, mp.cpu_count())
        with mp.get_context("spawn").Pool(jobs) as pool:
            pool.map(_video_chunk_writer, tasks)
        os.replace(tmp_dir, path)
        return path

    rows = gen_video_rows(n, seed)
    tmp = path + ".tmp"
    pq.write_table(_video_rows_table(rows), tmp, row_group_size=FIXTURE_ROW_GROUP)
    os.replace(tmp, path)
    return path


# ---------------------------------------------------------------------------
# Audio fixture: engine-native 'pcm16' codec = int16 little-endian mono.
# Content: two deterministic sinusoids + seeded noise. Sidecar columns
# (rms, zcr, spectral_centroid_hz) computed from the int16-DECODED signal.
# ---------------------------------------------------------------------------

def encode_pcm16(x: np.ndarray) -> bytes:
    """x in [-1, 1] float -> int16 LE bytes."""
    return (
        np.clip(np.round(x * 32767.0), -32768, 32767)
        .astype("<i2")
        .tobytes()
    )


def decode_pcm16(data: bytes) -> np.ndarray:
    """int16 LE bytes -> float64 in [-1, 1]."""
    return np.frombuffer(data, dtype="<i2").astype(np.float64) / 32767.0


def audio_features_np(x: np.ndarray, sr: int) -> dict:
    """Reference feature formulas (shared by generator sidecars and the
    engine kernel — the check is that the ENGINE reproduces them from the
    binary payload via the Spark/Arrow path)."""
    rms = float(np.sqrt(np.mean(x * x))) if len(x) else 0.0
    zcr = (
        float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1])))
        if len(x) > 1 else 0.0
    )
    mag = np.abs(np.fft.rfft(x))
    freqs = np.fft.rfftfreq(len(x), d=1.0 / sr)
    denom = float(mag.sum())
    centroid = float((freqs * mag).sum() / denom) if denom > 0 else 0.0
    return {
        "rms": rms,
        "zcr": zcr,
        "spectral_centroid_hz": centroid,
        "duration_s": len(x) / float(sr),
    }


def gen_audio_rows(n: int, seed: int = 55, span_days: int = 30):
    rows = []
    for i in range(n):
        rng = np.random.default_rng(seed * 1_000_003 + i)
        sr = int(rng.choice([8000, 16000]))
        n_samples = int(rng.integers(2000, 8001))
        t = np.arange(n_samples) / sr
        f1, f2 = rng.uniform(80, 2000, 2)
        a1, a2 = rng.uniform(0.2, 0.45, 2)
        x = (
            a1 * np.sin(2 * np.pi * f1 * t)
            + a2 * np.sin(2 * np.pi * f2 * t)
            + 0.05 * rng.standard_normal(n_samples)
        )
        data = encode_pcm16(x)
        dec = decode_pcm16(data)
        feats = audio_features_np(dec, sr)
        ts = BASE_TS + int(rng.integers(0, span_days * DAY_MS))
        rows.append({
            "audio_id": f"aud_{i:08d}",
            "bytes": data,
            "sr": sr,
            "n_samples": n_samples,
            "fmt": "pcm16",
            "ts": ts,
            **feats,
        })
    return rows


def ensure_audio_fixture(
    n: int = 300, seed: int = 55, out_dir: str = FIXTURE_DIR
) -> str:
    path = os.path.join(out_dir, f"audio_n{n}_s{seed}.parquet")
    if os.path.exists(path):
        return path
    os.makedirs(out_dir, exist_ok=True)
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = gen_audio_rows(n, seed)
    table = pa.table({
        "audio_id": [r["audio_id"] for r in rows],
        "bytes": pa.array([r["bytes"] for r in rows], type=pa.binary()),
        "sr": pa.array([r["sr"] for r in rows], type=pa.int32()),
        "n_samples": pa.array([r["n_samples"] for r in rows], type=pa.int32()),
        "fmt": [r["fmt"] for r in rows],
        "rms": pa.array([r["rms"] for r in rows], type=pa.float64()),
        "zcr": pa.array([r["zcr"] for r in rows], type=pa.float64()),
        "spectral_centroid_hz": pa.array(
            [r["spectral_centroid_hz"] for r in rows], type=pa.float64()),
        "duration_s": pa.array([r["duration_s"] for r in rows], type=pa.float64()),
        "ts": pa.array([r["ts"] for r in rows], type=pa.int64()),
    })
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=FIXTURE_ROW_GROUP)
    os.replace(tmp, path)
    return path


# ---------------------------------------------------------------------------
# Real-format audio fixture: WAV/RIFF containers across the encoding
# matrix external encoders actually emit (integer PCM 8/16/24/32, IEEE
# float32/64, G.711 A-law/mu-law, WAVE_FORMAT_EXTENSIBLE headers, mono
# and stereo), plus raw pcm16 rows and deterministic corrupt rows.
# Sidecar features are computed from the DECODED payload (for stereo:
# the mean downmix the engine performs), so a value-hash match proves
# the engine's Arrow decode pass reproduces them from the bytes alone.
# ---------------------------------------------------------------------------

# (encoding, channels, extensible) cycle — raw-pcm16 and corrupt rows
# are interleaved on top of this by index arithmetic below.
_REAL_AUDIO_LAYOUTS = [
    ("pcm16", 1, False),
    ("pcm16", 2, False),
    ("pcm8", 1, False),
    ("pcm24", 1, False),
    ("pcm24", 2, True),
    ("pcm32", 1, False),
    ("float32", 1, False),
    ("float32", 2, True),
    ("float64", 1, False),
    ("ulaw", 1, False),
    ("ulaw", 1, True),
    ("alaw", 1, False),
    ("alaw", 2, False),
    ("pcm16", 2, True),
]


def gen_real_audio_rows(n: int, seed: int = 91, span_days: int = 30):
    from chronon_spark.audio_codecs import decode_wav, encode_wav

    rows = []
    for i in range(n):
        rng = np.random.default_rng(seed * 1_000_003 + i)
        sr = int(rng.choice([8000, 16000, 22050]))
        n_samples = int(rng.integers(2000, 8001))
        t = np.arange(n_samples) / sr
        f1, f2 = rng.uniform(80, 2000, 2)
        a1, a2 = rng.uniform(0.2, 0.45, 2)
        x = np.clip(
            a1 * np.sin(2 * np.pi * f1 * t)
            + a2 * np.sin(2 * np.pi * f2 * t)
            + 0.05 * rng.standard_normal(n_samples),
            -1.0, 1.0,
        )
        if i % 17 == 13:           # raw pcm16 row (legacy layout mixed in)
            fmt, enc_name = "pcm16", "raw"
            data = encode_pcm16(x)
            decoded, dec_sr = decode_pcm16(data), sr
        elif i % 4 == 1:           # v2: real COMPRESSED format (FLAC)
            from chronon_spark.flac_codec import decode_flac, encode_flac

            fmt = "flac"
            mode = ("mono", "independent", "mid_side")[i % 3]
            if mode == "mono":
                data = encode_flac(x, sr)
                enc_name = "flac_mono"
            else:
                y = np.clip(
                    0.8 * a1 * np.sin(2 * np.pi * f1 * t + 0.7)
                    + 1.1 * a2 * np.sin(2 * np.pi * f2 * t + 1.9)
                    + 0.05 * rng.standard_normal(n_samples),
                    -1.0, 1.0,
                )
                data = encode_flac(np.stack([x, y], axis=1), sr,
                                   stereo_mode=mode)
                enc_name = f"flac_{mode}"
            decoded, dec_sr = decode_flac(data)
        else:
            fmt = "wav"
            encoding, channels, ext = _REAL_AUDIO_LAYOUTS[
                i % len(_REAL_AUDIO_LAYOUTS)]
            enc_name = f"{encoding}x{channels}" + ("_ext" if ext else "")
            if channels == 2:
                # second channel: same tones, different phase + gain
                y = np.clip(
                    0.8 * a1 * np.sin(2 * np.pi * f1 * t + 0.7)
                    + 1.1 * a2 * np.sin(2 * np.pi * f2 * t + 1.9)
                    + 0.05 * rng.standard_normal(n_samples),
                    -1.0, 1.0,
                )
                sig = np.stack([x, y], axis=1)
            else:
                sig = x
            data = encode_wav(sig, sr, encoding, extensible=ext)
            decoded, dec_sr = decode_wav(data)

        corrupt = i % 23 == 7
        if corrupt:
            # two deterministic corruption modes, both guaranteed to raise:
            # truncation makes the data chunk declare bytes past EOF (and
            # breaks raw-pcm16 int16 alignment); tag clobber rewrites the
            # fmt chunk's format tag to ADPCM (0x0002), which the decoder
            # rejects. Sidecar features are NULL for these rows.
            if fmt == "flac" and i % 2 != 0:
                # flip a bit mid-frame: CRC-16 catches it on decode
                b = bytearray(data)
                b[len(b) // 2] ^= 0x10
                data = bytes(b)
            elif i % 2 == 0 or fmt == "pcm16":
                data = data[:len(data) - 3]
            else:
                data = data[:20] + b"\x02\x00" + data[22:]
            enc_name += "_corrupt"
            feats = {"rms": None, "zcr": None,
                     "spectral_centroid_hz": None, "duration_s": None}
        else:
            feats = audio_features_np(decoded, dec_sr)

        ts = BASE_TS + int(rng.integers(0, span_days * DAY_MS))
        rows.append({
            "audio_id": f"aud_{i:08d}",
            "bytes": data,
            "sr": sr,
            "n_samples": n_samples,
            "fmt": fmt,
            "enc": enc_name,
            "decode_ok": not corrupt,
            "ts": ts,
            **feats,
        })
    return rows


def ensure_real_audio_fixture(
    n: int = 300, seed: int = 91, out_dir: str = FIXTURE_DIR
) -> str:
    path = os.path.join(out_dir, f"audio_real_v2_n{n}_s{seed}.parquet")
    if os.path.exists(path):
        return path
    os.makedirs(out_dir, exist_ok=True)
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = gen_real_audio_rows(n, seed)
    table = pa.table({
        "audio_id": [r["audio_id"] for r in rows],
        "bytes": pa.array([r["bytes"] for r in rows], type=pa.binary()),
        "sr": pa.array([r["sr"] for r in rows], type=pa.int32()),
        "n_samples": pa.array([r["n_samples"] for r in rows], type=pa.int32()),
        "fmt": [r["fmt"] for r in rows],
        "enc": [r["enc"] for r in rows],
        "decode_ok": pa.array([r["decode_ok"] for r in rows], type=pa.bool_()),
        "rms": pa.array([r["rms"] for r in rows], type=pa.float64()),
        "zcr": pa.array([r["zcr"] for r in rows], type=pa.float64()),
        "spectral_centroid_hz": pa.array(
            [r["spectral_centroid_hz"] for r in rows], type=pa.float64()),
        "duration_s": pa.array([r["duration_s"] for r in rows], type=pa.float64()),
        "ts": pa.array([r["ts"] for r in rows], type=pa.int64()),
    })
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=FIXTURE_ROW_GROUP)
    os.replace(tmp, path)
    return path


# ---------------------------------------------------------------------------
# Real-format video fixture: animated GIF — the one real animation
# container a no-ffmpeg environment can decode, via the from-scratch
# LZW/compositing decoder in chronon_spark.codecs.  Frames roll a
# palette-quantized base pattern, so motion energy is non-trivial while
# the 256-color limit holds.  Sidecars (phash of frame 0, brightness,
# motion) come from the DECODED frames; deterministic corrupt rows carry
# NULL sidecars + decode_ok=false.
# ---------------------------------------------------------------------------

def gen_real_video_rows(n: int, seed: int = 83, span_days: int = 30):
    from chronon_spark.codecs import (
        decode_avi_frames,
        decode_gif_frames,
        encode_avi_mjpeg,
        encode_gif,
    )

    sizes = [(16, 16), (24, 16), (16, 24)]
    rows = []
    for i in range(n):
        rng = np.random.default_rng(seed * 1_000_003 + i)
        w, h = sizes[int(rng.integers(0, len(sizes)))]
        n_frames = int(rng.integers(4, 13))
        if i % 6 == 1:
            # v4: animated-WebP rows (VP8X/ANIM/ANMF over lossless VP8L)
            fmt = "webp"
            from chronon_spark.webp_codec import encode_webp_anim

            base = gen_pixels(rng, w, h)
            frames = np.stack(
                [np.roll(base, shift=2 * f, axis=1) for f in range(n_frames)]
            )
            data = encode_webp_anim(frames)
            layout = "webp_anim"
        elif i % 6 == 4:
            # v3: animated-PNG rows — the lossless truecolor container
            fmt = "apng"
            from chronon_spark.codecs import decode_apng_frames, encode_apng

            base = gen_pixels(rng, w, h)
            frames = np.stack(
                [np.roll(base, shift=2 * f, axis=1) for f in range(n_frames)]
            )
            data = encode_apng(frames)
            layout = "apng"
        elif i % 3 == 2:
            # v2: Motion-JPEG AVI rows — the LOSSY real container; the
            # sidecars come from the DECODED frames, so the engine must
            # reproduce the exact JPEG reconstruction per frame
            fmt = "avi"
            base = gen_pixels(rng, w, h)
            frames = np.stack(
                [np.roll(base, shift=2 * f, axis=1) for f in range(n_frames)]
            )
            data = encode_avi_mjpeg(frames, fps=8)
            layout = "avi_mjpeg"
        else:
            fmt = "gif"
            base = (gen_pixels(rng, w, h) // 32) * 32  # palette-limited
            frames = np.stack(
                [np.roll(base, shift=2 * f, axis=1) for f in range(n_frames)]
            )
            interlace = bool(rng.random() < 0.3)
            data = encode_gif(frames, interlace=interlace)
            layout = "gif_i" if interlace else "gif"

        corrupt = i % 19 == 11
        if corrupt:
            if fmt == "avi" and i % 2 == 0:
                # clobber the stream handler: decoder must reject non-MJPG
                data = data.replace(b"vidsMJPG", b"vidsXVID", 1)
            else:
                data = data[:len(data) - 5]  # truncated chunk/sub-block
            layout += "_corrupt"
            feats = {"phash": None, "brightness": None, "motion": None}
        else:
            if fmt == "avi":
                dec, _fps = decode_avi_frames(data)
            elif fmt == "apng":
                from chronon_spark.codecs import decode_apng_frames

                dec = decode_apng_frames(data)
            elif fmt == "webp":
                from chronon_spark.webp_codec import decode_webp_frames

                dec = decode_webp_frames(data)
            else:
                dec = decode_gif_frames(data)
            assert dec.shape == (n_frames, h, w, 3)
            feats = {
                "phash": phash64(dec[0]),
                "brightness": float(dec.astype(np.float64).mean()),
                "motion": video_motion_energy(dec),
            }
        ts = BASE_TS + int(rng.integers(0, span_days * DAY_MS))
        rows.append({
            "video_id": f"rvid_{i:08d}",
            "bytes": data,
            "w": int(w),
            "h": int(h),
            "n_frames": n_frames,
            "fps": 8,
            "fmt": fmt,
            "layout": layout,
            "decode_ok": not corrupt,
            "caption": gen_caption(rng),
            "ts": ts,
            **feats,
        })
    return rows


def ensure_real_video_fixture(
    n: int = 200, seed: int = 83, out_dir: str = FIXTURE_DIR
) -> str:
    path = os.path.join(out_dir, f"videos_real_v4_n{n}_s{seed}.parquet")
    if os.path.exists(path):
        return path
    os.makedirs(out_dir, exist_ok=True)
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = gen_real_video_rows(n, seed)
    table = pa.table({
        "video_id": [r["video_id"] for r in rows],
        "bytes": pa.array([r["bytes"] for r in rows], type=pa.binary()),
        "w": pa.array([r["w"] for r in rows], type=pa.int32()),
        "h": pa.array([r["h"] for r in rows], type=pa.int32()),
        "n_frames": pa.array([r["n_frames"] for r in rows], type=pa.int32()),
        "fps": pa.array([r["fps"] for r in rows], type=pa.int32()),
        "fmt": [r["fmt"] for r in rows],
        "layout": [r["layout"] for r in rows],
        "decode_ok": pa.array([r["decode_ok"] for r in rows], type=pa.bool_()),
        "caption": [r["caption"] for r in rows],
        "phash": pa.array([r["phash"] for r in rows], type=pa.int64()),
        "brightness": pa.array(
            [r["brightness"] for r in rows], type=pa.float64()),
        "motion": pa.array([r["motion"] for r in rows], type=pa.float64()),
        "ts": pa.array([r["ts"] for r in rows], type=pa.int64()),
    })
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=FIXTURE_ROW_GROUP)
    os.replace(tmp, path)
    return path


# ---------------------------------------------------------------------------
# EXIF-metadata fixture: real JPEG/PNG containers CARRYING EXIF blobs
# (exif_codec.encode_exif — both byte orders, GPS rationals, nested Exif
# IFD, PNG tEXt chunks), plus deterministic corrupt-EXIF rows (valid
# container, truncated TIFF) and EXIF-channel-free BMP rows. Sidecars
# x_* are the generation-time truth the engine must reproduce from the
# bytes alone; x_parse_ok=false marks the corrupt rows (engine must
# yield parse_ok=false, never crash).
# ---------------------------------------------------------------------------

_EXIF_MAKES = ["CanonX", "Nikorr", "PixelCam", "Fujix"]
_EXIF_MODELS = ["A100", "Z9-mini", "P7", "QV-2"]
_EXIF_ARTISTS = ["alice example", "bob b.", "carol c", "dave d"]


def gen_exif_image_rows(n: int, seed: int = 101, span_days: int = 30,
                        offset: int = 0):
    from chronon_spark import exif_codec
    from chronon_spark.codecs import encode_bmp, encode_jpeg, encode_png
    from chronon_spark.tiff_codec import encode_tiff

    sizes = [(32, 32), (48, 32), (32, 48)]
    rows = []
    for i in range(offset, offset + n):
        rng = np.random.default_rng(seed * 3_000_017 + i)
        w, h = sizes[int(rng.integers(0, len(sizes)))]
        pix = gen_pixels(rng, w, h)
        fv = rng.random()
        fmt = ("jpeg" if fv < 0.3 else "png" if fv < 0.6
               else "tiff" if fv < 0.78 else "webp" if fv < 0.92
               else "bmp")
        if fmt == "jpeg":
            data = encode_jpeg(pix, quality=92)
        elif fmt == "png":
            data = encode_png(pix)
        elif fmt == "webp":
            from chronon_spark.webp_codec import encode_webp

            data = encode_webp(pix)
        elif fmt == "tiff":
            # spread the baseline surface: compression x layout x strip
            # x byte order (decoded-pixel sidecars follow the gray/
            # palette transforms below)
            tv = rng.random()
            if tv < 0.25:
                data = encode_tiff(pix, compression="none")
            elif tv < 0.5:
                data = encode_tiff(pix, compression="lzw", predictor=True,
                                   rows_per_strip=8, byte_order="MM")
            elif tv < 0.7:
                data = encode_tiff(pix, compression="packbits",
                                   rows_per_strip=16)
            elif tv < 0.85:
                pix_q = (pix // 32) * 32
                data = encode_tiff(pix_q, compression="lzw",
                                   mode="palette")
            else:
                data = encode_tiff(pix, compression="lzw", mode="gray",
                                   predictor=True)
        else:
            data = encode_bmp(pix, bpp=24)

        x = {"x_has_exif": False, "x_orientation": None, "x_make": None,
             "x_model": None, "x_datetime": None,
             "x_artist": None, "x_gps": False, "x_lat": None, "x_lon": None,
             "x_txt": 0, "x_parse_ok": True}
        if fmt != "bmp" and rng.random() < 0.75:
            # TIFF metadata lives in the image's own IFD — a truncated
            # blob would corrupt the pixels too, so the corrupt-EXIF
            # class stays on the side-channel containers
            corrupt = fmt != "tiff" and rng.random() < 0.08
            fields = {
                "make": _EXIF_MAKES[int(rng.integers(0, 4))],
                "model": _EXIF_MODELS[int(rng.integers(0, 4))],
                "orientation": int(rng.integers(1, 9)),
                "datetime": "2026:08:%02d 12:00:00" % int(rng.integers(1, 29)),
            }
            if rng.random() < 0.4:
                fields["artist"] = _EXIF_ARTISTS[int(rng.integers(0, 4))]
            if rng.random() < 0.5:
                lat = float(np.round(rng.uniform(-80, 80), 5))
                lon = float(np.round(rng.uniform(-179, 179), 5))
                fields["gps"] = (lat, lon)
            bo = "II" if rng.random() < 0.5 else "MM"
            tiff = exif_codec.encode_exif(fields, byte_order=bo)
            if corrupt:
                # valid container, truncated TIFF: IFD walk must raise,
                # the row must become parse_ok=false (not a crash)
                tiff = tiff[:10]
                x = dict(x, x_parse_ok=False, x_has_exif=None, x_gps=None,
                         x_txt=None)
            else:
                x["x_has_exif"] = True
                x["x_orientation"] = fields["orientation"]
                x["x_make"] = fields["make"]
                x["x_model"] = fields["model"]
                x["x_datetime"] = fields["datetime"]
                x["x_artist"] = fields.get("artist")
                if "gps" in fields:
                    lat, lon = fields["gps"]
                    x["x_gps"] = True
                    # engine rounds decimal degrees to 6dp; DMS rationals
                    # quantize seconds at 1/10000 — recompute the exact
                    # value the decoder will produce
                    x["x_lat"] = exif_codec._dms_to_deg(
                        exif_codec._deg_to_dms(lat), "N" if lat >= 0 else "S")
                    x["x_lon"] = exif_codec._dms_to_deg(
                        exif_codec._deg_to_dms(lon), "E" if lon >= 0 else "W")
            if fmt == "jpeg":
                data = exif_codec.insert_jpeg_exif(data, tiff)
            elif fmt == "tiff":
                # metadata goes into the file's own IFD0 (rebuilt at EOF,
                # strips untouched); the file's byte order wins
                data = exif_codec.insert_tiff_exif(data, fields)
            elif fmt == "webp":
                # VP8X extended container with an EXIF chunk
                from chronon_spark.webp_codec import encode_webp

                data = encode_webp(pix, exif_tiff=tiff)
            else:
                texts = {}
                if rng.random() < 0.5:
                    texts = {"Author": "someone", "Software": "genpix"}
                    if x["x_txt"] is not None:
                        x["x_txt"] = len(texts)
                data = exif_codec.insert_png_exif(data, tiff, texts=texts)
        decoded = decode_image(data, w, h, fmt)
        ts = BASE_TS + int(rng.integers(0, span_days * DAY_MS))
        rows.append({
            "image_id": f"ximg_{i:08d}",
            "bytes": data, "w": int(w), "h": int(h), "fmt": fmt,
            "caption": gen_caption(rng), "phash": phash64(decoded),
            "ts": ts, **x,
        })
    return rows


def _exif_rows_table(rows):
    import pyarrow as pa

    base = _image_rows_table(rows)
    cols = {
        "x_has_exif": pa.bool_(), "x_orientation": pa.int32(),
        "x_make": pa.string(), "x_model": pa.string(),
        "x_datetime": pa.string(), "x_artist": pa.string(),
        "x_gps": pa.bool_(), "x_lat": pa.float64(), "x_lon": pa.float64(),
        "x_txt": pa.int32(), "x_parse_ok": pa.bool_(),
    }
    for name, typ in cols.items():
        base = base.append_column(
            name, pa.array([r[name] for r in rows], type=typ))
    return base


def _exif_chunk_writer(task):
    import pyarrow.parquet as pq

    tmp_dir, seed, ci, lo, cnt = task
    rows = gen_exif_image_rows(cnt, seed, offset=lo)
    pq.write_table(_exif_rows_table(rows),
                   os.path.join(tmp_dir, f"part-{ci:05d}.parquet"),
                   row_group_size=FIXTURE_ROW_GROUP)


def ensure_exif_fixture(
    n: int = 2_000, seed: int = 101, out_dir: str = FIXTURE_DIR,
    n_jobs: int | None = None,
) -> str:
    """Write the EXIF-bearing image fixture once; idempotent on (n, seed)."""
    path = os.path.join(out_dir, f"images_exif_v4_n{n}_s{seed}.parquet")
    if os.path.exists(path):
        return path
    os.makedirs(out_dir, exist_ok=True)
    import pyarrow.parquet as pq

    if n >= 4_000:
        chunk = 2_000
        tmp_dir = path + ".tmp"
        os.makedirs(tmp_dir, exist_ok=True)
        tasks = [(tmp_dir, seed, ci, lo, min(chunk, n - lo))
                 for ci, lo in enumerate(range(0, n, chunk))]
        import multiprocessing as mp

        jobs = n_jobs or min(16, mp.cpu_count())
        with mp.get_context("spawn").Pool(jobs) as pool:
            pool.map(_exif_chunk_writer, tasks)
        os.replace(tmp_dir, path)
        return path

    rows = gen_exif_image_rows(n, seed)
    tmp = path + ".tmp"
    pq.write_table(_exif_rows_table(rows), tmp,
                   row_group_size=FIXTURE_ROW_GROUP)
    os.replace(tmp, path)
    return path


# ---------------------------------------------------------------------------
# Image-quality fixture: content classes engineered to span the quality
# metric space (sharp noise / box-blurred / flat fill / gradient /
# saturated / exposure-clipped), each encoded losslessly (rgb8 or PNG) or
# as JPEG with sidecars computed on the DECODED pixels, plus
# deterministic corrupt rows. Sidecars q_* come from the SAME
# image_quality_np formulas the engine runs — the check is that the
# engine reproduces them from the payload bytes through Spark/Arrow.
# ---------------------------------------------------------------------------

def _box_blur(pix: np.ndarray, k: int) -> np.ndarray:
    f = np.ones((k, k), dtype=np.float64) / (k * k)
    out = np.empty_like(pix, dtype=np.float64)
    for c in range(3):
        p = np.pad(pix[:, :, c].astype(np.float64),
                   k // 2, mode="edge")
        s = np.cumsum(np.cumsum(p, axis=0), axis=1)
        s = np.pad(s, ((1, 0), (1, 0)))
        h, w = pix.shape[:2]
        out[:, :, c] = (
            s[k:k + h, k:k + w] - s[:h, k:k + w]
            - s[k:k + h, :w] + s[:h, :w]
        ) / (k * k)
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def gen_quality_image_rows(n: int, seed: int = 131, span_days: int = 30,
                           offset: int = 0):
    from chronon_spark.codecs import encode_jpeg, encode_png
    from chronon_spark.operators.multimodal import image_quality_np

    rows = []
    for i in range(offset, offset + n):
        rng = np.random.default_rng(seed * 5_000_011 + i)
        w, h = (32, 32) if rng.random() < 0.5 else (48, 32)
        cls = int(rng.integers(0, 6))
        if cls == 0:        # sharp noise: high laplacian + entropy
            pix = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        elif cls == 1:      # defocus blur
            pix = _box_blur(
                rng.integers(0, 256, (h, w, 3), dtype=np.uint8), 5)
        elif cls == 2:      # flat fill: entropy ~ 0
            pix = np.full((h, w, 3), int(rng.integers(30, 220)),
                          dtype=np.uint8)
        elif cls == 3:      # smooth gradient
            pix = gen_pixels(rng, w, h)
        elif cls == 4:      # saturated color blocks
            pix = np.zeros((h, w, 3), dtype=np.uint8)
            pix[:, : w // 2, 0] = 255
            pix[:, w // 2:, 2] = 255
        else:               # exposure-clipped
            pix = gen_pixels(rng, w, h).astype(np.int64)
            pix = np.clip(pix * 3 - 200, 0, 255).astype(np.uint8)
        fv = rng.random()
        corrupt = fv > 0.96
        if corrupt:
            fmt, data = "jpeg", b"\xff\xd8\x00broken"
            q = {k: None for k in ("laplacian_var", "entropy_bits",
                                   "colorfulness", "saturation",
                                   "clip_frac")}
            ok = False
        else:
            if fv < 0.4:
                fmt, data = "rgb8", encode_image(pix, "rgb8")
            elif fv < 0.7:
                fmt, data = "png", encode_png(pix)
            else:
                fmt, data = "jpeg", encode_jpeg(pix, quality=92)
            decoded = decode_image(data, w, h, fmt)
            q = image_quality_np(decoded)
            ok = True
        ts = BASE_TS + int(rng.integers(0, span_days * DAY_MS))
        rows.append({
            "image_id": f"qimg_{i:08d}", "bytes": data, "w": int(w),
            "h": int(h), "fmt": fmt, "caption": gen_caption(rng),
            "phash": 0 if corrupt else phash64(decoded), "ts": ts,
            "q_lap": q["laplacian_var"], "q_ent": q["entropy_bits"],
            "q_col": q["colorfulness"], "q_sat": q["saturation"],
            "q_clip": q["clip_frac"], "q_ok": ok,
        })
    return rows


def ensure_quality_fixture(
    n: int = 600, seed: int = 131, out_dir: str = FIXTURE_DIR,
) -> str:
    """Write the quality-metric image fixture once; idempotent on (n, seed)."""
    path = os.path.join(out_dir, f"images_quality_v1_n{n}_s{seed}.parquet")
    if os.path.exists(path):
        return path
    os.makedirs(out_dir, exist_ok=True)
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = gen_quality_image_rows(n, seed)
    base = _image_rows_table(rows)
    cols = {"q_lap": pa.float64(), "q_ent": pa.float64(),
            "q_col": pa.float64(), "q_sat": pa.float64(),
            "q_clip": pa.float64(), "q_ok": pa.bool_()}
    for name, typ in cols.items():
        base = base.append_column(
            name, pa.array([r[name] for r in rows], type=typ))
    tmp = path + ".tmp"
    pq.write_table(base, tmp, row_group_size=FIXTURE_ROW_GROUP)
    os.replace(tmp, path)
    return path


# ---------------------------------------------------------------------------
# BPE-tokenizer fixture: synthetic zipf-ish text with generation-time
# sidecars from the REFERENCE tokenizer path (learn_bpe + bpe_encode on
# exact local word counts). The gate row trains the model THROUGH SPARK
# (distributed word counts, deterministic top-V cut, Arrow apply) on the
# same fixture — a hash match proves the distributed plumbing reproduces
# the reference algorithm exactly.
# ---------------------------------------------------------------------------

BPE_MERGES, BPE_MAX_WORDS = 150, 2000


def gen_bpe_doc_rows(n: int, seed: int = 171):
    from chronon_spark.operators.tokenizer import bpe_encode, learn_bpe

    rng = np.random.default_rng(seed)
    # zipf-ish vocabulary of synthetic word shapes
    stems = ["lo", "low", "new", "wid", "light", "dark", "run", "jump",
             "est", "er", "ing", "ed", "over", "under", "out", "re"]
    vocab = []
    for i in range(400):
        a = stems[int(rng.integers(0, len(stems)))]
        b = stems[int(rng.integers(0, len(stems)))]
        vocab.append(a + b if rng.random() < 0.6 else a)
    probs = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    probs /= probs.sum()

    docs = []
    for i in range(n):
        drng = np.random.default_rng(seed * 7_000_003 + i)
        k = int(drng.integers(4, 40))
        words = [vocab[int(j)] for j in
                 drng.choice(len(vocab), size=k, p=probs)]
        docs.append((f"bdoc_{i:06d}", " ".join(words)))

    # reference path: exact word counts -> (cnt desc, word asc) top-V ->
    # learn -> encode (mirrors train_bpe/apply_bpe semantics exactly)
    wc: dict = {}
    for _id, text in docs:
        for w in text.lower().split():
            wc[w] = wc.get(w, 0) + 1
    top = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))[:BPE_MAX_WORDS]
    merges = learn_bpe(dict(top), BPE_MERGES)
    ranks = {tuple(p): idx for idx, p in enumerate(merges)}
    rows = []
    for _id, text in docs:
        toks = []
        for w in text.lower().split():
            toks.extend(bpe_encode(w, ranks))
        rows.append({"doc_id": _id, "text": text,
                     "x_n_tokens": len(toks),
                     "x_tokens_joined": "|".join(toks)})
    return rows


def ensure_bpe_fixture(
    n: int = 1_200, seed: int = 171, out_dir: str = FIXTURE_DIR,
) -> str:
    path = os.path.join(out_dir, f"bpe_docs_v1_n{n}_s{seed}.parquet")
    if os.path.exists(path):
        return path
    os.makedirs(out_dir, exist_ok=True)
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = gen_bpe_doc_rows(n, seed)
    table = pa.table({
        "doc_id": [r["doc_id"] for r in rows],
        "text": [r["text"] for r in rows],
        "x_n_tokens": pa.array([r["x_n_tokens"] for r in rows],
                               type=pa.int32()),
        "x_tokens_joined": [r["x_tokens_joined"] for r in rows],
    })
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=FIXTURE_ROW_GROUP)
    os.replace(tmp, path)
    return path
