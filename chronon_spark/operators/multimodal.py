"""Multimodal (image/audio/video) column operators.

Payload columns are opaque `binary` with typed metadata (w, h, fmt). All
decode / feature-extract / resize run as Arrow-batched pandas UDFs over
`mapInPandas` — binary never round-trips through Python row objects.
Pixel features are computed per batch, not per image: a batch's images
are stacked by shape (one frombuffer per stack for the synthetic
layouts) and every feature is one numpy call over the stack.

Decodable codecs: the synthetic layouts ('rgb8', 'half' — fixtures.py)
plus REAL interchange formats 'png' and 'jpeg' (chronon_spark/codecs.py,
from-scratch spec implementations — the container ships no PIL/libjpeg).
Remaining external codecs (webp/h264/mp3/...) stay honestly STUBBED
behind `NotImplementedError`; corrupt payloads of known formats raise
ValueError — both turn into decode_ok=false rows (the integrity gate),
never a failed job.

Scale notes: feature extraction is scan-shaped (no shuffle); Arrow batch
size is bounded via spark.sql.execution.arrow.maxRecordsPerBatch so a
batch of 4K images x ~12KB stays well inside executor memory. Downstream
GroupBys shuffle only the extracted scalar features, never the bytes.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chronon_spark.fixtures import decode_image as _decode_native
from chronon_spark.fixtures import decode_video as _decode_video_native
from chronon_spark.fixtures import (
    SYNTHETIC_FORMATS,
    decode_synthetic,
    gray_mean,
    phash64,
    phash64_gray,
    synthetic_payload_len,
)
from struct import error as struct_error

NATIVE_FORMATS = ("rgb8", "half", "png", "jpeg", "gif", "bmp", "tiff",
                  "webp")


def decode_image(data: bytes, w: int, h: int, fmt: str) -> np.ndarray:
    """Decode one image to (h, w, 3) uint8. 'png' and 'jpeg' are REAL
    interchange formats decoded by the from-scratch spec implementations
    in chronon_spark.codecs (stdlib zlib inflate for PNG; marker parse +
    Huffman + IDCT for baseline JPEG)."""
    if fmt in NATIVE_FORMATS:
        return _decode_native(data, w, h, fmt)
    # STUB: remaining codecs (heic, avif, jxl, ...) need an external
    # image library not present in this container (webp — lossless AND
    # lossy — is native now, webp_codec/vp8_codec). A real deployment
    # implements this branch with PIL.Image.open(io.BytesIO(data));
    # everything downstream is unchanged.
    raise NotImplementedError(
        f"codec '{fmt}' requires an external image library (PIL) — "
        f"not available in this environment"
    )


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 images."""
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)


PIXEL_FEATURE_SCHEMA = (
    "image_id string, phash_check long, brightness double, contrast double, "
    "r_mean double, g_mean double, b_mean double, edge_energy double, "
    "aspect double, decode_ok boolean"
)


_PIXEL_FEATURES = ("brightness", "contrast", "r_mean", "g_mean", "b_mean",
                   "edge_energy")
# pixels per feature stack: bounds a worker's float64 temporaries (about
# 40 bytes per pixel) to a few MB whatever the image size. Larger stacks
# were no faster and added ~100 MB of peak RSS across 5 workers (1M px).
_STACK_PIXELS = 1 << 16


def _pixel_stacks(pdf: pd.DataFrame) -> Iterator[tuple[np.ndarray, np.ndarray]]:
    """(row positions, pixel stack) for every decodable row of a batch, in
    stacks of one decoded shape and about _STACK_PIXELS pixels at most.

    Rows are grouped by (fmt, w, h). An rgb8/half group decodes with one
    frombuffer per stack over its rows whose payload has the right
    length. Real codecs decode row by row into per-shape stacks, which
    are flushed whenever the decoded images held reach the pixel budget.
    NULL, wrong-length, unknown-codec and corrupt rows yield nothing."""
    data = pdf["bytes"].to_numpy(dtype=object)
    meta = pd.DataFrame({"fmt": pdf["fmt"].to_numpy(dtype=object),
                         "w": pdf["w"].astype("float64").to_numpy(),
                         "h": pdf["h"].astype("float64").to_numpy()})
    pending: dict[tuple, tuple[list, list]] = {}  # shape -> (rows, images)

    def flush():
        for idx, pixes in pending.values():
            yield np.array(idx), np.stack(pixes)
        pending.clear()

    held = 0
    for (fmt, w, h), rows in meta.groupby(["fmt", "w", "h"], sort=False).indices.items():
        w, h = int(w), int(h)
        if fmt in SYNTHETIC_FORMATS:
            lens = np.array([-1 if d is None else len(d) for d in data[rows]])
            rows = rows[lens == synthetic_payload_len(w, h, fmt)]
            step = max(1, _STACK_PIXELS // max(w * h, 1))
            for c in range(0, len(rows), step):
                sel = rows[c:c + step]
                yield sel, decode_synthetic(data[sel], w, h, fmt)
            continue
        for i in rows:
            try:
                pix = decode_image(data[i], w, h, fmt)
            except (NotImplementedError, ValueError, TypeError):
                continue
            idx, pixes = pending.setdefault(pix.shape, ([], []))
            idx.append(i)
            pixes.append(pix)
            held += pix.shape[0] * pix.shape[1]
            if held >= _STACK_PIXELS:
                yield from flush()
                held = 0
    yield from flush()


def _stack_features(pix: np.ndarray) -> dict[str, np.ndarray]:
    """phash and pixel features of an (n, h, w, C) stack, one value per
    image: the per-image formulas evaluated along the stack axis."""
    n, h, w = pix.shape[:3]
    g = gray_mean(pix)
    flat = g.reshape(n, -1)
    gy, gx = np.gradient(g, axis=(1, 2))
    gx *= gx
    gy *= gy
    gx += gy
    np.sqrt(gx, out=gx)  # gradient magnitude
    out = {
        "phash_check": phash64_gray(g),
        "brightness": flat.mean(axis=1),
        "contrast": flat.std(axis=1),
        "edge_energy": gx.reshape(n, -1).mean(axis=1),
    }
    for c, name in enumerate(("r_mean", "g_mean", "b_mean")):
        # integer channel sums are exact, so this equals the float mean
        out[name] = pix[..., c].reshape(n, -1).sum(axis=1, dtype=np.int64) / (h * w)
    return out


def pixel_feature_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """One Arrow batch of (image_id, bytes, w, h, fmt) rows -> its
    PIXEL_FEATURE_SCHEMA rows, in input order. Features are computed per
    stack of same-shape images (`_pixel_stacks`), not per image; rows that
    do not decode get decode_ok=false and NULL features."""
    n = len(pdf)
    ok = np.zeros(n, dtype=bool)
    phash = np.zeros(n, dtype=np.int64)
    feats = {c: np.full(n, np.nan) for c in _PIXEL_FEATURES}
    for rows, pix in _pixel_stacks(pdf):
        res = _stack_features(pix)
        ok[rows] = True
        phash[rows] = res.pop("phash_check")
        for c, v in res.items():
            feats[c][rows] = v
    with np.errstate(divide="ignore", invalid="ignore"):
        aspect = pdf["w"].astype("float64").to_numpy() / pdf["h"].astype("float64").to_numpy()
    return pd.DataFrame({
        "image_id": pdf["image_id"].reset_index(drop=True),
        # nullable Int64: a float64 column would round 64-bit hashes
        "phash_check": pd.arrays.IntegerArray(phash, ~ok),
        **feats,
        "aspect": np.where(ok, aspect, np.nan),
        "decode_ok": ok,
    })


def extract_pixel_features(
    df: DataFrame, passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """Decode + pixel-derived features in one Arrow pass.

    Input columns: image_id, bytes, w, h, fmt. Output one row per image:
    recomputed phash (integrity check vs the stored column), brightness,
    per-channel means, contrast (grayscale std), edge energy (mean
    gradient magnitude), aspect ratio. Unknown codecs yield
    decode_ok=false rows instead of failing the job. Each batch runs
    `pixel_feature_batch`.

    `passthrough` columns of the input are carried through the Arrow
    batch unchanged (pandas column slice, no per-row work) and appended
    to the output. This FUSES the decode stage with downstream
    consumers: carrying (entity key, ts, payload) through decode lets
    the pixel features ride an as-of join's probe side directly —
    decode -> cogroup in two stages with no image_id merge join and no
    shuffle of the binary column at all.
    """
    pt_fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    pt_schema = "".join(f", `{c}` {pt_fields[c]}" for c in passthrough)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            res = pixel_feature_batch(pdf)
            for c in passthrough:
                res[c] = pdf[c].reset_index(drop=True)
            yield res

    in_cols = list(dict.fromkeys(
        ["image_id", "bytes", "w", "h", "fmt"] + list(passthrough)
    ))
    return df.select(*in_cols).mapInPandas(
        batches, schema=PIXEL_FEATURE_SCHEMA + pt_schema
    )


def _resize_nearest(pix: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    h, w = pix.shape[:2]
    yi = (np.arange(out_h) * h // out_h).astype(np.int64)
    xi = (np.arange(out_w) * w // out_w).astype(np.int64)
    return pix[yi][:, xi]


def _resize_bilinear(pix: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Half-pixel-center (align_corners=False) bilinear, the convention
    shared by PIL/OpenCV/torch interpolate. Separable gather + lerp,
    fully vectorized."""
    h, w = pix.shape[:2]
    p = pix.astype(np.float64)

    def axis_coords(n_in, n_out):
        c = (np.arange(n_out) + 0.5) * (n_in / n_out) - 0.5
        lo = np.floor(c).astype(np.int64)
        frac = c - lo
        lo0 = np.clip(lo, 0, n_in - 1)
        lo1 = np.clip(lo + 1, 0, n_in - 1)
        return lo0, lo1, frac

    y0, y1, fy = axis_coords(h, out_h)
    x0, x1, fx = axis_coords(w, out_w)
    top = p[y0][:, x0] * (1 - fx)[None, :, None] \
        + p[y0][:, x1] * fx[None, :, None]
    bot = p[y1][:, x0] * (1 - fx)[None, :, None] \
        + p[y1][:, x1] * fx[None, :, None]
    out = top * (1 - fy)[:, None, None] + bot * fy[:, None, None]
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def _resize_area(pix: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Exact area (box) average: each output pixel is the mean of its
    covering source interval, computed as Wy @ img @ Wx^T with sparse-ish
    overlap-weight matrices — the antialiasing-correct downscale (and
    for an exact integer 2:1 it reproduces the 'half' codec's block
    mean bit-for-bit before rounding)."""
    h, w = pix.shape[:2]

    def weights(n_in, n_out):
        W = np.zeros((n_out, n_in))
        scale = n_in / n_out
        for o in range(n_out):
            a, b = o * scale, (o + 1) * scale
            i0, i1 = int(np.floor(a)), int(np.ceil(b))
            for i in range(i0, min(i1, n_in)):
                W[o, i] = min(b, i + 1) - max(a, i)
        return W / scale

    Wy = weights(h, out_h)
    Wx = weights(w, out_w)
    p = pix.astype(np.float64)
    out = np.einsum("oi,ijc,pj->opc", Wy, p, Wx, optimize=True)
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


_RESIZE_KERNELS = {
    "nearest": _resize_nearest,
    "bilinear": _resize_bilinear,
    "area": _resize_area,
}


def resize_images(df: DataFrame, out_w: int, out_h: int,
                  method: str = "nearest") -> DataFrame:
    """Resize with a real resampling kernel ('nearest', 'bilinear' —
    half-pixel-center lerp, or 'area' — exact box average for
    antialiased downscale); emits re-encoded 'rgb8' bytes. Same
    mapInPandas shape a real resampler (PIL.resize) would use. Rows whose
    payload can't be decoded (corrupt/NULL bytes, stubbed codec) come back
    with bytes=NULL and decode_ok=false — one bad row never fails the
    job, matching the module-wide integrity-gate contract."""
    if method not in _RESIZE_KERNELS:
        raise ValueError(f"unknown resize method {method!r}")
    kernel = _RESIZE_KERNELS[method]
    schema = ("image_id string, bytes binary, w int, h int, fmt string, "
              "decode_ok boolean")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {"image_id": [], "bytes": [], "w": [], "h": [],
                    "fmt": [], "decode_ok": []}
            for iid, data, w, h, fmt in zip(
                pdf["image_id"], pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"]
            ):
                rows["image_id"].append(iid)
                try:
                    pix = decode_image(data, int(w), int(h), fmt)
                except (NotImplementedError, ValueError, TypeError):
                    rows["bytes"].append(None)
                    rows["w"].append(int(w))
                    rows["h"].append(int(h))
                    rows["fmt"].append(fmt)
                    rows["decode_ok"].append(False)
                    continue
                res = kernel(pix, out_w, out_h)
                rows["bytes"].append(res.tobytes())
                rows["w"].append(out_w)
                rows["h"].append(out_h)
                rows["fmt"].append("rgb8")
                rows["decode_ok"].append(True)
            yield pd.DataFrame(rows)

    return df.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        batches, schema=schema
    )


NATIVE_VIDEO_FORMATS = ("vraw", "gif", "avi", "apng", "webp")
NATIVE_AUDIO_FORMATS = ("pcm16", "wav", "flac")


def decode_video(data: bytes, w: int, h: int, n_frames: int, fmt: str) -> np.ndarray:
    """Decode one video to (n_frames, h, w, 3) uint8.  'gif' (LZW +
    disposal/transparency compositing), 'apng' (animated PNG — acTL/
    fcTL/fdAT over the ordinary PNG stream, lossless truecolor) and
    'avi' (RIFF Motion-JPEG — every frame a standalone baseline JPEG)
    and 'webp' (animated WebP — VP8X/ANIM/ANMF over lossless VP8L
    frames) are REAL containers decoded from scratch; 'vraw' is the
    synthetic engine layout.  The
    decoded geometry must match the metadata columns — drift raises so
    it becomes a decode_ok=false row, never silently mis-shaped
    frames."""
    if fmt in ("gif", "avi", "apng", "webp"):
        if fmt == "gif":
            from chronon_spark.codecs import decode_gif_frames

            frames = decode_gif_frames(data)
        elif fmt == "apng":
            from chronon_spark.codecs import decode_apng_frames

            frames = decode_apng_frames(data)
        elif fmt == "webp":
            from chronon_spark.webp_codec import decode_webp_frames

            frames = decode_webp_frames(data)
        else:
            from chronon_spark.codecs import decode_avi_frames

            frames, _fps = decode_avi_frames(data)
        if frames.shape != (n_frames, h, w, 3):
            raise ValueError(
                f"{fmt} decoded {frames.shape}, metadata says "
                f"({n_frames}, {h}, {w}, 3)")
        return frames
    if fmt in NATIVE_VIDEO_FORMATS:
        return _decode_video_native(data, w, h, n_frames)
    # STUB: real codecs (h264/vp9/...) need ffmpeg/pyav — not present in
    # this container. A real deployment implements this branch with
    # av.open(io.BytesIO(data)); everything downstream is unchanged.
    raise NotImplementedError(
        f"video codec '{fmt}' requires an external library (ffmpeg/pyav) — "
        f"not available in this environment"
    )


def sample_frames(df: DataFrame, every_n: int = 1) -> DataFrame:
    """Video frame sampling: one Arrow pass mapping each (video bytes)
    row to ceil(n_frames / every_n) rows of (frame_idx, rgb8 frame
    bytes) — frames 0, every_n, 2*every_n, ... The exploded output is a
    plain image table, so the whole image operator suite (pixel
    features, resize, dedup by phash) composes downstream.

    Scan-shaped: no shuffle, bytes never leave Arrow, output rows are
    sliced views of the decoded array. Unknown codecs yield a single
    decode_ok=false row per video instead of failing the job.

    Input columns: video_id, bytes, w, h, n_frames, fmt."""
    schema = ("video_id string, frame_idx int, bytes binary, w int, h int, "
              "fmt string, decode_ok boolean")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k: [] for k in ("video_id", "frame_idx", "bytes", "w",
                                    "h", "fmt", "decode_ok")}
            for vid, data, w, h, nf, fmt in zip(
                pdf["video_id"], pdf["bytes"], pdf["w"], pdf["h"],
                pdf["n_frames"], pdf["fmt"],
            ):
                try:
                    frames = decode_video(data, int(w), int(h), int(nf), fmt)
                except (NotImplementedError, ValueError, TypeError):
                    rows["video_id"].append(vid)
                    rows["frame_idx"].append(None)
                    rows["bytes"].append(None)
                    rows["w"].append(int(w))
                    rows["h"].append(int(h))
                    rows["fmt"].append(fmt)
                    rows["decode_ok"].append(False)
                    continue
                for f in range(0, int(nf), every_n):
                    rows["video_id"].append(vid)
                    rows["frame_idx"].append(f)
                    rows["bytes"].append(frames[f].tobytes())
                    rows["w"].append(int(w))
                    rows["h"].append(int(h))
                    rows["fmt"].append("rgb8")
                    rows["decode_ok"].append(True)
            yield pd.DataFrame(rows)

    return df.select("video_id", "bytes", "w", "h", "n_frames", "fmt").mapInPandas(
        batches, schema=schema
    )


VIDEO_FEATURE_SCHEMA = (
    "video_id string, phash0_check long, n_frames_read int, "
    "brightness double, motion_energy double, decode_ok boolean"
)


def extract_video_features(
    df: DataFrame, every_n: int = 1, passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """FUSED per-video features: decode once, sample every_n frames, and
    compute frame-0 phash (integrity check vs the stored column), mean
    brightness, and motion energy (mean |frame diff| over the sampled
    sequence) — all in ONE Arrow pass. The unfused shape (sample_frames
    -> extract_pixel_features -> groupBy video) pays an explode + a
    shuffle of frame bytes; this never materializes frame rows at all.

    Same fusion lesson as the image pipeline (see BENCH/BASELINE.md):
    multimodal chains should carry features through the decode pass, not
    join stages after it. `passthrough` columns ride the Arrow batch
    unchanged (pandas column slice) so per-video features can feed an
    as-of probe directly, with no video_id merge join."""
    pt_fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    pt_schema = "".join(f", `{c}` {pt_fields[c]}" for c in passthrough)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in ("video_id", "phash0_check", "n_frames_read",
                                   "brightness", "motion_energy", "decode_ok")}
            for vid, data, w, h, nf, fmt in zip(
                pdf["video_id"], pdf["bytes"], pdf["w"], pdf["h"],
                pdf["n_frames"], pdf["fmt"],
            ):
                out["video_id"].append(vid)
                try:
                    frames = decode_video(data, int(w), int(h), int(nf), fmt)
                except (NotImplementedError, ValueError, TypeError):
                    out["phash0_check"].append(None)
                    out["n_frames_read"].append(None)
                    out["brightness"].append(None)
                    out["motion_energy"].append(None)
                    out["decode_ok"].append(False)
                    continue
                sampled = frames[::every_n]
                fl = sampled.astype(np.float64)
                motion = float(np.abs(np.diff(fl, axis=0)).mean()) if len(fl) > 1 else 0.0
                out["phash0_check"].append(phash64(frames[0]))
                out["n_frames_read"].append(int(len(sampled)))
                out["brightness"].append(float(fl.mean()))
                out["motion_energy"].append(motion)
                out["decode_ok"].append(True)
            res = pd.DataFrame(out)
            # same float64-coercion hazard as the image path: a corrupt row
            # in the batch must not round the other rows' 64-bit hashes
            res["phash0_check"] = pd.array(out["phash0_check"], dtype="Int64")
            res["n_frames_read"] = pd.array(out["n_frames_read"], dtype="Int32")
            for c in passthrough:
                res[c] = pdf[c].reset_index(drop=True)
            yield res

    in_cols = list(dict.fromkeys(
        ["video_id", "bytes", "w", "h", "n_frames", "fmt"] + list(passthrough)
    ))
    return df.select(*in_cols).mapInPandas(
        batches, schema=VIDEO_FEATURE_SCHEMA + pt_schema
    )


AUDIO_FEATURE_SCHEMA = (
    "audio_id string, rms double, zcr double, spectral_centroid_hz double, "
    "duration_s double, decode_ok boolean"
)


def extract_audio_features(df: DataFrame) -> DataFrame:
    """Per-clip audio features in one Arrow pass: RMS level, zero-crossing
    rate, spectral centroid (rfft), duration. Native codecs: 'pcm16'
    (raw int16 LE mono) and 'wav' (real RIFF/WAVE container — integer
    PCM 8/16/24/32, IEEE float32/64, G.711 A-law/mu-law, extensible
    headers, multi-channel mean-downmix; audio_codecs.py) and 'flac'
    (real compressed FLAC — fixed/LPC subframes, rice/rice2 residuals,
    all four stereo decorrelations, CRC-verified frames; flac_codec.py).
    For container formats the sample rate comes from the header, not
    the column. Lossy codecs (mp3/ogg) are STUBBED — decode_ok=false —
    the container has no audio library; a real deployment drops
    soundfile/librosa into the decode branch.

    Input columns: audio_id, bytes, sr, fmt."""
    from chronon_spark.audio_codecs import decode_wav
    from chronon_spark.fixtures import audio_features_np, decode_pcm16
    from chronon_spark.flac_codec import decode_flac

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in ("audio_id", "rms", "zcr",
                                   "spectral_centroid_hz", "duration_s",
                                   "decode_ok")}
            for aid, data, sr, fmt in zip(
                pdf["audio_id"], pdf["bytes"], pdf["sr"], pdf["fmt"]
            ):
                out["audio_id"].append(aid)
                try:
                    if fmt not in NATIVE_AUDIO_FORMATS:
                        raise NotImplementedError(fmt)
                    # ValueError: truncated pcm16 (odd byte count) or
                    # corrupt WAV layout; TypeError: NULL payload bytes
                    if fmt == "wav":
                        samples, hdr_sr = decode_wav(data)
                        feats = audio_features_np(samples, hdr_sr)
                    elif fmt == "flac":
                        samples, hdr_sr = decode_flac(data)
                        feats = audio_features_np(samples, hdr_sr)
                    else:
                        feats = audio_features_np(decode_pcm16(data), int(sr))
                except (NotImplementedError, ValueError, TypeError):
                    for k in ("rms", "zcr", "spectral_centroid_hz", "duration_s"):
                        out[k].append(None)
                    out["decode_ok"].append(False)
                    continue
                out["rms"].append(feats["rms"])
                out["zcr"].append(feats["zcr"])
                out["spectral_centroid_hz"].append(feats["spectral_centroid_hz"])
                out["duration_s"].append(feats["duration_s"])
                out["decode_ok"].append(True)
            yield pd.DataFrame(out)

    return df.select("audio_id", "bytes", "sr", "fmt").mapInPandas(
        batches, schema=AUDIO_FEATURE_SCHEMA
    )


def with_image_features(images: DataFrame) -> DataFrame:
    """The image table enriched with pixel features — single scan-shaped
    stage: every non-payload input column is carried through the decode
    UDF as a passthrough, so there is NO image_id merge join and NO
    shuffle (the r2 version joined two 480k-row frames instead)."""
    extra = tuple(c for c in images.columns if c != "image_id")
    return extract_pixel_features(images, passthrough=extra)


def curate_images(
    images: DataFrame,
    min_w: int = 0,
    min_h: int = 0,
    min_caption_tokens: int = 0,
    max_hamming: int = 2,
    max_bucket: "int | None" = None,
) -> DataFrame:
    """End-to-end image-corpus curation — the composition a training-data
    pipeline runs before sampling: decode (integrity-gated), quality
    filters, then perceptual near-dup clustering among the survivors.

      1. one Arrow decode pass (extract_pixel_features) with quality
         metadata carried through — rows that fail to decode are dropped;
      2. quality gates: resolution >= (min_w, min_h) and caption token
         count >= min_caption_tokens (both native Catalyst predicates);
      3. phash clusters over the DECODED-pixel hash at hamming <=
         max_hamming (dedup.hamming_clusters: DISTINCT-value banding +
         value-graph connected components — row-level pairs are never
         materialized) -> cluster_id + is_canonical per surviving row.
         `WHERE is_canonical` IS the curated corpus.

    Scale shape: the only payload-bearing stage is the decode scan; the
    dedup graph runs on DISTINCT hash values (32x fewer candidate pairs
    than row-level banding on the 48k fixture — hamming_clusters
    docstring has the numbers). Pass max_bucket at corpus scale
    (perceptual hashes of structured content correlate heavily)."""
    from chronon_spark.operators.dedup import hamming_clusters
    from chronon_spark.operators.text import token_count

    has_caption = "caption" in images.columns
    if min_caption_tokens > 0 and not has_caption:
        raise ValueError(
            "min_caption_tokens > 0 requires a 'caption' column on the "
            "input images table"
        )
    pt = ("w", "h", "caption") if has_caption else ("w", "h")
    feats = extract_pixel_features(images, passthrough=pt)
    # NULL captions count as 0 tokens (token_count(NULL) is NULL, which
    # would silently drop decoded rows even at min_caption_tokens=0).
    caption_gate = (
        F.coalesce(token_count(F.col("caption")), F.lit(0)) >= min_caption_tokens
        if has_caption else F.lit(True)
    )
    kept = feats.where(
        F.col("decode_ok")
        & (F.col("w") >= min_w)
        & (F.col("h") >= min_h)
        & caption_gate
    ).select(
        "image_id",
        F.col("phash_check").alias("phash_decoded"),
        *(("w", "h", "caption") if has_caption else ("w", "h")),
        "brightness", "contrast",
    )
    # Materialize the gated metadata ONCE: downstream the clustering
    # (distinct -> banding -> iterative components) and the final join
    # each reference `kept` from independent subtrees — without this the
    # EXPENSIVE decode pass re-executes 4-5x (measured 5x wall at 480k
    # images). The checkpointed frame is payload-free (~100 B/row), so
    # this is the cheap side of the trade at any corpus size; a real
    # cluster run would persist it DISK-backed instead.
    #
    # Repartition BEFORE checkpointing: the gated frame otherwise inherits
    # the decode scan's byte-sized splits (one per ~8MB of BINARY input —
    # hundreds of ~300-row partitions at 480k images), and every
    # downstream graph/join stage pays that task-scheduling floor 3x over.
    # The shuffle itself moves only the ~100 B/row metadata; the decode
    # stage keeps its full input-split parallelism on the map side.
    sc = images.sparkSession.sparkContext
    kept = kept.repartition(max(sc.defaultParallelism, 8)).localCheckpoint()
    clusters = hamming_clusters(
        kept, "image_id", "phash_decoded", max_hamming, max_bucket
    )
    return kept.join(clusters, "image_id")


IMAGE_METADATA_SCHEMA = (
    "image_id string, has_exif boolean, orientation int, make string, "
    "model string, exif_datetime string, artist string, "
    "gps_present boolean, gps_lat double, gps_lon double, "
    "txt_chunks int, parse_ok boolean"
)


def image_metadata(
    df: DataFrame, passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """EXIF / container metadata as queryable columns — one Arrow pass
    over (image_id, bytes, fmt), the image-PII analog of
    operators/text.redact_pii's detection side (exif_codec.py is the
    from-scratch TIFF 6.0 / EXIF 2.32 walker; no image lib in the
    container). Camera make/model, orientation, capture datetime, artist
    and decimal-degree GPS become flat columns; PNG textual chunks /
    JPEG comments are counted in txt_chunks. Containers without an EXIF
    channel (gif/bmp) and EXIF-free files yield has_exif=false rows;
    structurally corrupt containers yield parse_ok=false rows (same
    integrity-gate contract as the decode pass — never a crash).

    Scale shape: scan-stage mapInPandas, binary column never shuffled;
    passthrough columns ride the Arrow batch exactly as in
    extract_pixel_features."""
    from chronon_spark import exif_codec

    pt_fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    pt_schema = "".join(f", `{c}` {pt_fields[c]}" for c in passthrough)
    cols = ("has_exif", "orientation", "make", "model", "exif_datetime",
            "artist", "gps_present", "gps_lat", "gps_lon", "txt_chunks")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in ("image_id",) + cols + ("parse_ok",)}
            for iid, data, fmt in zip(pdf["image_id"], pdf["bytes"],
                                      pdf["fmt"]):
                out["image_id"].append(iid)
                try:
                    if data is None:
                        raise ValueError("null payload")
                    m = exif_codec.extract_exif(bytes(data), fmt)
                except (ValueError, TypeError, struct_error):
                    for k in cols:
                        out[k].append(None)
                    out["parse_ok"].append(False)
                    continue
                out["has_exif"].append(bool(m["has_exif"]))
                out["orientation"].append(m["orientation"])
                out["make"].append(m["make"])
                out["model"].append(m["model"])
                out["exif_datetime"].append(m["datetime"])
                out["artist"].append(m["artist"])
                out["gps_present"].append(bool(m["gps_present"]))
                out["gps_lat"].append(m["gps_lat"])
                out["gps_lon"].append(m["gps_lon"])
                out["txt_chunks"].append(int(m["txt_chunks"]))
                out["parse_ok"].append(True)
            res = pd.DataFrame(out)
            res["orientation"] = pd.array(out["orientation"], dtype="Int32")
            res["txt_chunks"] = pd.array(out["txt_chunks"], dtype="Int32")
            for c in passthrough:
                res[c] = pdf[c].reset_index(drop=True)
            yield res

    in_cols = list(dict.fromkeys(["image_id", "bytes", "fmt"]
                                 + list(passthrough)))
    return df.select(*in_cols).mapInPandas(
        batches, schema=IMAGE_METADATA_SCHEMA + pt_schema
    )


def scrub_image_metadata(
    df: DataFrame, mode: str = "all", passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """Rewrite the bytes column with metadata removed — pixels untouched
    (JPEG entropy segments / PNG IDAT copied verbatim; exif_codec
    docstring has the per-mode contract). mode='all' drops every
    metadata segment; mode='gps' surgically zeroes only the GPS IFD so
    benign camera metadata survives at unchanged byte length. `changed`
    reports whether the payload differs; scrub_ok=false marks corrupt
    containers (bytes passed through unmodified so a quarantine branch
    can still route them)."""
    from chronon_spark import exif_codec

    pt_fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    pt_schema = "".join(f", `{c}` {pt_fields[c]}" for c in passthrough)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"image_id": [], "bytes": [], "changed": [], "scrub_ok": []}
            for iid, data, fmt in zip(pdf["image_id"], pdf["bytes"],
                                      pdf["fmt"]):
                out["image_id"].append(iid)
                try:
                    if data is None:
                        raise ValueError("null payload")
                    nb = exif_codec.scrub_metadata(bytes(data), fmt, mode)
                except (ValueError, TypeError, struct_error):
                    out["bytes"].append(data)
                    out["changed"].append(False)
                    out["scrub_ok"].append(False)
                    continue
                out["bytes"].append(nb)
                out["changed"].append(nb != bytes(data))
                out["scrub_ok"].append(True)
            res = pd.DataFrame(out)
            for c in passthrough:
                res[c] = pdf[c].reset_index(drop=True)
            yield res

    in_cols = list(dict.fromkeys(["image_id", "bytes", "fmt"]
                                 + list(passthrough)))
    return df.select(*in_cols).mapInPandas(
        batches,
        schema="image_id string, bytes binary, changed boolean, "
               "scrub_ok boolean" + pt_schema,
    )


def image_quality_np(pix: np.ndarray) -> dict:
    """Reference quality-metric formulas (shared by generator sidecars
    and the engine kernel — the oracle check is that the ENGINE
    reproduces them from the binary payload via the Spark/Arrow path).

    laplacian_var — variance of the 4-neighbour Laplacian of the gray
      plane: the classic no-reference blur score (sharp > ~100, defocus
      blur collapses toward 0).
    entropy_bits  — Shannon entropy of the 256-bin gray histogram:
      near-0 for flat/synthetic fills, ~8 for dense natural content.
    colorfulness  — Hasler & Süsstrunk (SPIE 2003) opponent-space
      metric: sqrt(var(rg)+var(yb)) + 0.3*sqrt(mean(rg)^2+mean(yb)^2).
    saturation    — mean HSV saturation ((max-min)/max per pixel).
    clip_frac     — fraction of gray pixels at the exposure rails
      (<=2 or >=253): over/under-exposure gate.
    """
    g = pix.astype(np.float64).mean(axis=2)
    lap = (np.roll(g, 1, 0) + np.roll(g, -1, 0) + np.roll(g, 1, 1)
           + np.roll(g, -1, 1) - 4.0 * g)[1:-1, 1:-1]
    lap_var = float(lap.var()) if lap.size else 0.0
    hist = np.bincount(
        np.clip(g, 0, 255).astype(np.int64).ravel(), minlength=256
    ).astype(np.float64)
    p = hist[hist > 0] / hist.sum()
    # + 0.0 canonicalizes IEEE -0.0 (a flat image yields -(1*log2(1)) =
    # -0.0, whose byte repr differs from +0.0 in a value-hash comparison)
    entropy = float(-(p * np.log2(p)).sum() + 0.0)
    rf = pix[:, :, 0].astype(np.float64)
    gf = pix[:, :, 1].astype(np.float64)
    bf = pix[:, :, 2].astype(np.float64)
    rg = rf - gf
    yb = 0.5 * (rf + gf) - bf
    colorfulness = float(
        np.sqrt(rg.var() + yb.var())
        + 0.3 * np.sqrt(rg.mean() ** 2 + yb.mean() ** 2)
    )
    mx = pix.max(axis=2).astype(np.float64)
    mn = pix.min(axis=2).astype(np.float64)
    sat = np.where(mx > 0, (mx - mn) / np.where(mx > 0, mx, 1.0), 0.0)
    clip = float(np.mean((g <= 2.0) | (g >= 253.0)))
    return {
        "laplacian_var": lap_var,
        "entropy_bits": entropy,
        "colorfulness": colorfulness,
        "saturation": float(sat.mean()),
        "clip_frac": clip,
    }


IMAGE_QUALITY_SCHEMA = (
    "image_id string, laplacian_var double, entropy_bits double, "
    "colorfulness double, saturation double, clip_frac double, "
    "decode_ok boolean"
)


def image_quality(
    df: DataFrame, passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """No-reference image quality metrics in one Arrow decode pass —
    the image-side analog of text.quality_score: blur (Laplacian
    variance), information content (gray entropy), colorfulness,
    saturation and exposure clipping become native columns a curation
    recipe can gate on (`WHERE laplacian_var >= t AND clip_frac <= c`).
    Corrupt payloads yield decode_ok=false rows with NULL metrics (the
    integrity-gate contract). Scale shape: scan-stage mapInPandas, the
    binary column is read once and never shuffled."""
    pt_fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    pt_schema = "".join(f", `{c}` {pt_fields[c]}" for c in passthrough)
    mcols = ("laplacian_var", "entropy_bits", "colorfulness",
             "saturation", "clip_frac")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in ("image_id",) + mcols + ("decode_ok",)}
            for iid, data, w, h, fmt in zip(
                pdf["image_id"], pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"]
            ):
                out["image_id"].append(iid)
                try:
                    pix = decode_image(data, int(w), int(h), fmt)
                except (NotImplementedError, ValueError, TypeError):
                    for k in mcols:
                        out[k].append(None)
                    out["decode_ok"].append(False)
                    continue
                m = image_quality_np(pix)
                out["laplacian_var"].append(m["laplacian_var"])
                out["entropy_bits"].append(m["entropy_bits"])
                out["colorfulness"].append(m["colorfulness"])
                out["saturation"].append(m["saturation"])
                out["clip_frac"].append(m["clip_frac"])
                out["decode_ok"].append(True)
            res = pd.DataFrame(out)
            for c in passthrough:
                res[c] = pdf[c].reset_index(drop=True)
            yield res

    in_cols = list(dict.fromkeys(["image_id", "bytes", "w", "h", "fmt"]
                                 + list(passthrough)))
    return df.select(*in_cols).mapInPandas(
        batches, schema=IMAGE_QUALITY_SCHEMA + pt_schema
    )


def letterbox_images(
    df: DataFrame,
    out_w: int,
    out_h: int,
    method: str = "bilinear",
    pad_rgb: tuple = (0, 0, 0),
) -> DataFrame:
    """Aspect-preserving resize + center pad to an exact (out_w, out_h)
    — the standard fixed-size model-input prep (a naive resize distorts
    geometry; letterboxing scales by min(out_w/w, out_h/h) and fills
    the margins with pad_rgb). Emits rgb8 plus the placement metadata
    (scale, pad offsets) downstream consumers need to map coordinates
    back to the source image. Same Arrow-pass shape and corrupt-row
    contract as resize_images."""
    import pandas as pd

    if method not in _RESIZE_KERNELS:
        raise ValueError(f"unknown resize method {method!r}")
    kernel = _RESIZE_KERNELS[method]
    pad = np.array(pad_rgb, dtype=np.uint8)
    schema = ("image_id string, bytes binary, w int, h int, fmt string, "
              "scale double, pad_x int, pad_y int, decode_ok boolean")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k: [] for k in ("image_id", "bytes", "w", "h", "fmt",
                                    "scale", "pad_x", "pad_y",
                                    "decode_ok")}
            for iid, data, w, h, fmt in zip(
                pdf["image_id"], pdf["bytes"], pdf["w"], pdf["h"],
                pdf["fmt"]
            ):
                rows["image_id"].append(iid)
                try:
                    pix = decode_image(data, int(w), int(h), fmt)
                except (NotImplementedError, ValueError, TypeError):
                    rows["bytes"].append(None)
                    rows["w"].append(int(w))
                    rows["h"].append(int(h))
                    rows["fmt"].append(fmt)
                    rows["scale"].append(None)
                    rows["pad_x"].append(None)
                    rows["pad_y"].append(None)
                    rows["decode_ok"].append(False)
                    continue
                scale = min(out_w / int(w), out_h / int(h))
                iw = max(1, int(round(int(w) * scale)))
                ih = max(1, int(round(int(h) * scale)))
                inner = kernel(pix, iw, ih)
                canvas = np.empty((out_h, out_w, 3), dtype=np.uint8)
                canvas[:, :] = pad
                px = (out_w - iw) // 2
                py = (out_h - ih) // 2
                canvas[py:py + ih, px:px + iw] = inner
                rows["bytes"].append(canvas.tobytes())
                rows["w"].append(out_w)
                rows["h"].append(out_h)
                rows["fmt"].append("rgb8")
                rows["scale"].append(float(scale))
                rows["pad_x"].append(px)
                rows["pad_y"].append(py)
                rows["decode_ok"].append(True)
            res = pd.DataFrame(rows)
            res["pad_x"] = pd.array(rows["pad_x"], dtype="Int32")
            res["pad_y"] = pd.array(rows["pad_y"], dtype="Int32")
            yield res

    return df.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        batches, schema=schema
    )
