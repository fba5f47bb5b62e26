"""Multimodal (image/audio/video) columns for large-scale training pipelines.

Convention (BASELINE.json north star): media travels as an opaque ``binary``
payload column plus a typed metadata struct; all per-item compute runs as
Arrow-batched ``mapInPandas`` stages so a 100 TB corpus streams through
executors batch-by-batch without ever materializing a row-per-Python-object
RDD.

What is REAL here (pure Python over bytes, no media libraries):

- container sniffing (magic bytes) for PNG/JPEG/GIF/BMP/WAV/MP4/WEBP;
- header parsing: PNG IHDR width/height/bit depth, GIF/BMP dimensions, WAV
  fmt-chunk channels/sample-rate/duration — straight struct reads.

Pixel decode (``decode_image``) is REAL for 8-bit non-interlaced PNG via
the pure-stdlib codec in ``functions/png.py`` (zlib inflate + scanline
unfilter), and for every Pillow-supported format when Pillow is
importable — including via the ``$SPARK_GRAFT_PIL`` site-dir escape
hatch, so a runtime with codecs gets real tensors with no code change.

What remains STUBBED (needs an entropy codec the container lacks):

- JPEG/WebP/GIF pixel decode without Pillow raises
  ``NotImplementedError`` with guidance; the ``fake=True`` paths keep a
  DETERMINISTIC digest-derived decode so digest-lineage plumbing is
  testable on any payload;
- likewise audio sample decode beyond PCM WAV and video frame extraction.

The Spark-side shapes — schemas, batch iteration, partition behavior,
column pruning — are real and tested either way; swapping the stub for a
codec is a one-function change inside the same ``mapInPandas`` stage.
"""

from __future__ import annotations

import hashlib
import math
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from harmonize_search_analyze_spark.functions.caching import checkpoint

MEDIA_META_SCHEMA = T.StructType([
    T.StructField("format", T.StringType()),        # png|jpeg|gif|bmp|wav|mp4|webp|unknown
    T.StructField("modality", T.StringType()),      # image|audio|video|unknown
    T.StructField("n_bytes", T.LongType()),
    T.StructField("width", T.IntegerType()),        # image/video, else null
    T.StructField("height", T.IntegerType()),
    T.StructField("bit_depth", T.IntegerType()),    # png only
    T.StructField("n_channels", T.IntegerType()),   # wav audio
    T.StructField("sample_rate", T.IntegerType()),  # wav audio
    T.StructField("duration_ms", T.LongType()),     # wav audio
    T.StructField("digest", T.StringType()),        # md5 of payload
])

_MAGIC = [
    (b"\x89PNG\r\n\x1a\n", "png", "image"),
    (b"\xff\xd8\xff", "jpeg", "image"),
    (b"GIF87a", "gif", "image"),
    (b"GIF89a", "gif", "image"),
    (b"BM", "bmp", "image"),
    (b"RIFF", "wav", "audio"),       # refined below (RIFF/WAVE vs RIFF/WEBP)
]


def sniff_media(payload: bytes | None) -> dict:
    """Identify container + parse what the headers give us. Pure bytes."""
    out = {
        "format": "unknown", "modality": "unknown",
        "n_bytes": len(payload) if payload is not None else 0,
        "width": None, "height": None, "bit_depth": None,
        "n_channels": None, "sample_rate": None, "duration_ms": None,
        "digest": hashlib.md5(payload).hexdigest() if payload else None,
    }
    if not payload or len(payload) < 12:
        return out
    fmt = mod = None
    for magic, f, m in _MAGIC:
        if payload.startswith(magic):
            fmt, mod = f, m
            break
    if fmt == "wav":
        riff_kind = payload[8:12]
        if riff_kind == b"WAVE":
            fmt, mod = "wav", "audio"
        elif riff_kind == b"WEBP":
            fmt, mod = "webp", "image"
        else:
            fmt, mod = "unknown", "unknown"
    if fmt is None and len(payload) >= 12 and payload[4:8] == b"ftyp":
        fmt, mod = "mp4", "video"
    if fmt is None:
        return out
    out["format"], out["modality"] = fmt, mod

    try:
        if fmt == "png" and len(payload) >= 29 and payload[12:16] == b"IHDR":
            w, h = struct.unpack(">II", payload[16:24])
            out["width"], out["height"] = int(w), int(h)
            out["bit_depth"] = int(payload[24])
        elif fmt == "gif":
            w, h = struct.unpack("<HH", payload[6:10])
            out["width"], out["height"] = int(w), int(h)
        elif fmt == "bmp" and len(payload) >= 26:
            w, h = struct.unpack("<ii", payload[18:26])
            out["width"], out["height"] = int(w), abs(int(h))
        elif fmt == "jpeg":
            # walk the segment chain to the first SOFn frame header
            # (precision, height, width, components) — public JFIF layout
            i = 2
            while i + 4 <= len(payload):
                if payload[i] != 0xFF:
                    break
                marker = payload[i + 1]
                if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                    i += 2
                    continue
                seg_len = struct.unpack(">H", payload[i + 2:i + 4])[0]
                if (
                    0xC0 <= marker <= 0xCF
                    and marker not in (0xC4, 0xC8, 0xCC)
                ):
                    if i + 10 <= len(payload):
                        out["bit_depth"] = int(payload[i + 4])
                        h, w = struct.unpack(">HH", payload[i + 5:i + 9])
                        out["height"], out["width"] = int(h), int(w)
                        out["n_channels"] = int(payload[i + 9])
                    break
                if seg_len < 2:
                    break
                i += 2 + seg_len
        elif fmt == "mp4":
            # moov/mvhd box: timescale + duration (v0/v1 layouts)
            idx = payload.find(b"mvhd")
            if idx >= 0 and idx + 32 <= len(payload):
                version = payload[idx + 4]
                if version == 0:
                    ts, dur = struct.unpack(
                        ">II", payload[idx + 16:idx + 24]
                    )
                elif idx + 40 <= len(payload):
                    ts = struct.unpack(">I", payload[idx + 24:idx + 28])[0]
                    dur = struct.unpack(">Q", payload[idx + 28:idx + 36])[0]
                else:
                    ts = dur = 0
                if ts:
                    out["duration_ms"] = int(dur * 1000 // ts)
        elif fmt == "wav" and len(payload) >= 44 and payload[12:16] == b"fmt ":
            n_ch, rate = struct.unpack("<HI", payload[22:28])
            bits = struct.unpack("<H", payload[34:36])[0]
            out["n_channels"], out["sample_rate"] = int(n_ch), int(rate)
            # locate the data chunk for duration
            idx = payload.find(b"data", 36)
            if idx >= 0 and idx + 8 <= len(payload) and rate and n_ch and bits:
                data_len = struct.unpack("<I", payload[idx + 4: idx + 8])[0]
                bytes_per_s = rate * n_ch * (bits // 8)
                if bytes_per_s:
                    out["duration_ms"] = int(data_len * 1000 // bytes_per_s)
    except (struct.error, IndexError):
        pass  # corrupt header: keep format, leave dims null
    return out


def attach_media_metadata(
    df: DataFrame, binary_col: str = "payload", out_col: str = "media"
) -> DataFrame:
    """Sniff + header-parse every payload into a ``MEDIA_META_SCHEMA`` struct
    column. Arrow-batched ``mapInPandas``; all other columns pass through, so
    Catalyst can still prune/push the surrounding plan."""
    fields = [f.name for f in MEDIA_META_SCHEMA.fields]
    out_schema = T.StructType(
        df.schema.fields + [T.StructField(out_col, MEDIA_META_SCHEMA)]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [sniff_media(p) for p in pdf[binary_col]]
            pdf = pdf.copy()
            pdf[out_col] = [tuple(m[f] for f in fields) for m in metas]
            yield pdf

    return df.mapInPandas(run, out_schema)


# -- decode (REAL for PNG via the stdlib codec; Pillow probe for the
#    long tail; deterministic fake paths remain for digest-lineage tests)


def _fake_pixels_stats(payload: bytes, digest: str) -> tuple[float, float]:
    """Deterministic stand-in for decoded-pixel statistics: two floats in
    [0, 1) derived from the digest. Replace with real decode stats when a
    codec is available."""
    h = int(digest[:15], 16) if digest else 0
    return (h % 10_000) / 10_000.0, ((h >> 16) % 10_000) / 10_000.0


IMAGE_FEATURES_SCHEMA = T.StructType([
    T.StructField("feat_mean", T.DoubleType()),
    T.StructField("feat_std", T.DoubleType()),
    T.StructField("embedding", T.ArrayType(T.DoubleType())),
])


def _probe_pil():
    """Pillow probe with the ``$SPARK_GRAFT_PIL`` escape hatch
    (mirroring ``$SPARK_GRAFT_AVRO_JAR`` in sources/ingest.py): a
    runtime that has Pillow importable — or points the env var at a
    site directory containing it — gets real decode for EVERY format
    with no code change. Returns the ``PIL.Image`` module or None."""
    import os
    import sys

    extra = os.environ.get("SPARK_GRAFT_PIL")
    if extra and extra not in sys.path:
        sys.path.insert(0, extra)
    try:
        from PIL import Image  # noqa: PLC0415

        return Image
    except ImportError:
        return None


def decode_image(payload: bytes):
    """Decode an image payload to ``(height, width, channels)`` uint8
    pixels. REAL for:

    - any Pillow-supported format when Pillow is importable (optionally
      via the ``$SPARK_GRAFT_PIL`` site-dir escape hatch), and
    - 8-bit non-interlaced PNG via the pure-stdlib codec in
      ``functions/png.py`` (chunk walk + zlib inflate + unfilter) —
      zero dependencies, works in this hermetic container.

    Other formats (JPEG entropy decode needs a real codec) raise
    ``NotImplementedError`` with guidance."""
    import numpy as np

    from harmonize_search_analyze_spark.functions.png import (
        PNG_SIGNATURE,
        png_decode,
    )

    Image = _probe_pil()
    if Image is not None:
        import io

        with Image.open(io.BytesIO(payload)) as im:
            if im.mode not in ("L", "LA", "RGB", "RGBA"):
                im = im.convert("RGB")
            arr = np.asarray(im, dtype=np.uint8)
        return arr[:, :, None] if arr.ndim == 2 else arr
    if payload[:8] == PNG_SIGNATURE:
        return png_decode(payload)
    raise NotImplementedError(
        "no codec for this image format in the environment: PNG decodes "
        "via the built-in stdlib codec; for JPEG/GIF/WebP install Pillow "
        "or point SPARK_GRAFT_PIL at a directory containing it"
    )


def extract_image_features(
    df: DataFrame,
    binary_col: str = "payload",
    dim: int = 16,
    fake: bool = True,
) -> DataFrame:
    """Per-image feature extraction as a ``mapInPandas`` stage: pixel-stat
    scalars + a ``dim``-float embedding. With ``fake=True`` features derive
    deterministically from the payload digest (identical bytes => identical
    features, the property dedup/similarity need); with ``fake=False`` the
    payload is DECODED (stdlib PNG codec or Pillow via the
    ``$SPARK_GRAFT_PIL`` hatch — see ``decode_image``) and the features
    are real pixel statistics: mean/std of the [0,1]-normalized pixels
    plus a ``dim``-bin average-pool of the grayscale plane."""
    out_schema = T.StructType(
        df.schema.fields
        + [T.StructField(f.name, f.dataType) for f in IMAGE_FEATURES_SCHEMA.fields]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            means, stds, embs = [], [], []
            for p in pdf[binary_col]:
                if p is None:
                    means.append(None); stds.append(None); embs.append(None)
                    continue
                if not fake:
                    arr = decode_image(p).astype("float64") / 255.0
                    means.append(float(arr.mean()))
                    stds.append(float(arr.std()))
                    plane = arr.mean(axis=2) if arr.ndim == 3 else arr
                    flat = plane.ravel()
                    embs.append([
                        float(b.mean()) if b.size else 0.0
                        for b in np.array_split(flat, dim)
                    ])
                    continue
                digest = hashlib.md5(p).hexdigest()
                m, s = _fake_pixels_stats(p, digest)
                means.append(m)
                stds.append(s)
                embs.append([
                    (int(digest[(4 * i) % 28: (4 * i) % 28 + 4], 16) % 1000)
                    / 1000.0
                    for i in range(dim)
                ])
            pdf = pdf.copy()
            pdf["feat_mean"], pdf["feat_std"], pdf["embedding"] = means, stds, embs
            yield pdf

    return df.mapInPandas(run, out_schema)


def resize_images(
    df: DataFrame,
    width: int,
    height: int,
    binary_col: str = "payload",
    fake: bool = True,
) -> DataFrame:
    """Image resize as a map-only ``mapInPandas`` stage: appends
    ``resized`` (binary) plus ``resized_width``/``resized_height``.

    The Spark plumbing — Arrow batch in/out, binary column handling,
    schema evolution, null passthrough — is real either way. With
    ``fake=True`` the resized payload is a deterministic digest-derived
    stand-in sized proportionally to ``width*height`` (identical input
    bytes => identical output bytes, preserving the dedup-by-digest
    property downstream stages rely on); with ``fake=False`` the
    payload is decoded (``decode_image``: stdlib PNG codec or Pillow
    via ``$SPARK_GRAFT_PIL``), nearest-neighbor resampled with numpy
    index arithmetic, and re-encoded as a real PNG."""
    if width < 1 or height < 1:
        raise ValueError("width and height must be >= 1")
    out_schema = T.StructType([
        *df.schema.fields,
        T.StructField("resized", T.BinaryType()),
        T.StructField("resized_width", T.IntegerType()),
        T.StructField("resized_height", T.IntegerType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, ws, hs = [], [], []
            for p in pdf[binary_col]:
                if p is None:
                    payloads.append(None); ws.append(None); hs.append(None)
                    continue
                if not fake:
                    import numpy as np

                    from harmonize_search_analyze_spark.functions.png import (
                        png_encode,
                    )

                    px = decode_image(p)
                    if px.ndim == 2:
                        px = px[:, :, None]
                    h0, w0 = px.shape[:2]
                    yi = np.arange(height) * h0 // height
                    xi = np.arange(width) * w0 // width
                    payloads.append(png_encode(px[yi][:, xi]))
                    ws.append(width)
                    hs.append(height)
                    continue
                digest = hashlib.md5(p).hexdigest().encode()
                # stand-in bitmap: digest repeated to ~3 bytes/pixel
                n = max(width * height * 3, 1)
                payloads.append((digest * (n // len(digest) + 1))[:n])
                ws.append(width)
                hs.append(height)
            pdf = pdf.copy()
            pdf["resized"] = payloads
            pdf["resized_width"] = ws
            pdf["resized_height"] = hs
            yield pdf

    return df.mapInPandas(run, out_schema)


def sample_frames(
    df: DataFrame,
    binary_col: str = "payload",
    every_ms: int = 1000,
    max_frames: int = 8,
) -> DataFrame:
    """Video frame sampling plan: emits one row per SELECTED frame index with
    its timestamp (decode of the actual frame bytes is stubbed — the frame
    payload column carries the deterministic digest-slice placeholder).

    Output explodes rows, so this runs as ``mapInPandas`` emitting a new
    frame-level frame: the correct shape for 'one input row -> N output
    rows' without a Python-row UDF."""
    out_schema = T.StructType([
        *df.schema.fields,
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_ts_ms", T.LongType()),
        T.StructField("frame_stub", T.StringType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                p = row[binary_col]
                meta = sniff_media(p)
                # without a demuxer, derive a pseudo-duration for videos from
                # payload size (stub; a real demuxer replaces this number)
                dur = meta["duration_ms"] or (meta["n_bytes"] or 0)
                n = min(max_frames, max(int(dur // every_ms), 1))
                for i in range(n):
                    r = row.to_dict()
                    r["frame_idx"] = i
                    r["frame_ts_ms"] = i * every_ms
                    r["frame_stub"] = (meta["digest"] or "")[:8] + f":{i}"
                    rows.append(r)
            if rows:
                yield pd.DataFrame(rows)

    return df.mapInPandas(run, out_schema)


def media_summary(df: DataFrame, meta_col: str = "media") -> DataFrame:
    """Corpus-level modality/format profile — a plain JVM-side aggregation
    over the sniffed struct (no Python): the dashboardable summary."""
    return (
        df.groupBy(
            F.col(f"{meta_col}.modality").alias("modality"),
            F.col(f"{meta_col}.format").alias("format"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col(f"{meta_col}.n_bytes")).alias("total_bytes"),
            F.round(F.avg(F.col(f"{meta_col}.width")), 2).alias("avg_width"),
            F.round(F.avg(F.col(f"{meta_col}.height")), 2).alias("avg_height"),
        )
        .orderBy("modality", "format")
    )


AUDIO_FEATURES_SCHEMA = T.StructType([
    T.StructField("n_samples", T.LongType()),
    T.StructField("duration_ms", T.LongType()),
    T.StructField("rms", T.DoubleType()),
    T.StructField("peak", T.DoubleType()),
])


def decode_wav_pcm(payload: bytes):
    """Decode a PCM RIFF/WAVE payload to (samples ndarray in [-1, 1],
    sample_rate, n_channels) — REAL decode, no codec library: PCM WAV is
    pure struct layout (the one mainstream audio format that is). Returns
    None for non-WAV, non-PCM (compressed) or truncated payloads."""
    import numpy as np
    import struct as _struct

    if (
        payload is None
        or len(payload) < 44
        or payload[:4] != b"RIFF"
        or payload[8:12] != b"WAVE"
        or payload[12:16] != b"fmt "
    ):
        return None
    try:
        audio_format, n_ch = _struct.unpack("<HH", payload[20:24])
        rate = _struct.unpack("<I", payload[24:28])[0]
        bits = _struct.unpack("<H", payload[34:36])[0]
        if audio_format != 1 or n_ch < 1 or rate == 0:
            return None  # compressed / malformed: needs a codec, gate out
        idx = payload.find(b"data", 36)
        if idx < 0 or idx + 8 > len(payload):
            return None
        data_len = _struct.unpack("<I", payload[idx + 4: idx + 8])[0]
        raw = payload[idx + 8: idx + 8 + data_len]
        if bits == 16:
            samples = np.frombuffer(
                raw[: len(raw) - (len(raw) % 2)], dtype="<i2"
            ).astype(np.float64) / 32768.0
        elif bits == 8:
            samples = (
                np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0
            ) / 128.0
        else:
            return None
        return samples, rate, n_ch
    except (ValueError, _struct.error):
        return None


def extract_audio_features(
    df: DataFrame, binary_col: str = "payload"
) -> DataFrame:
    """Per-payload audio features as an Arrow ``mapInPandas`` stage —
    REAL decode for PCM WAV (n_samples across channels interleaved,
    duration, RMS and peak of the normalized signal, rounded 6);
    non-PCM/non-WAV payloads yield NULL features (their decode needs a
    codec this environment doesn't ship — same gating contract as
    ``decode_image``, except the WAV path is genuinely implemented).

    Scale shape identical to ``extract_image_features``: map-only, Arrow
    batches, all other columns pass through so the surrounding plan still
    prunes and pushes."""
    import numpy as np

    out_schema = T.StructType(
        df.schema.fields
        + [T.StructField(f.name, f.dataType) for f in AUDIO_FEATURES_SCHEMA.fields]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ns, dur, rms, peak = [], [], [], []
            for p in pdf[binary_col]:
                decoded = decode_wav_pcm(p)
                if decoded is None:
                    ns.append(None); dur.append(None)
                    rms.append(None); peak.append(None)
                    continue
                samples, rate, n_ch = decoded
                n = len(samples)
                ns.append(n)
                dur.append(int(n // n_ch * 1000 // rate))
                if n:
                    # half-UP at 6 decimals (values are >= 0): Python's
                    # round() is banker's and disagrees with SQL ROUND at
                    # exact halves (e.g. 256/32768 = 0.0078125), which
                    # breaks cross-engine parity of downstream aggregates
                    _r6 = lambda x: math.floor(x * 1e6 + 0.5) / 1e6  # noqa: E731
                    rms.append(_r6(float(np.sqrt(np.mean(samples**2)))))
                    peak.append(_r6(float(np.max(np.abs(samples)))))
                else:
                    rms.append(0.0); peak.append(0.0)
            pdf = pdf.copy()
            pdf["n_samples"], pdf["duration_ms"] = ns, dur
            pdf["rms"], pdf["peak"] = rms, peak
            yield pdf

    return df.mapInPandas(run, out_schema)


# -- perceptual image hashing + near-duplicate detection ---------------------


def phash64(pixels, method: str = "dhash") -> int:
    """64-bit perceptual hash of a decoded ``(h, w, c)`` uint8 pixel
    array. ``dhash``: grayscale, nearest-neighbor downsample to 9x8,
    bit = right neighbor brighter (gradient sign — robust to global
    brightness/contrast shifts). ``ahash``: 8x8, bit = above the mean.
    Bits pack MSB-first into a SIGNED 64-bit int (two's complement —
    the same storage convention as the SimHash sketch, so the banded
    candidate machinery applies unchanged)."""
    import numpy as np

    arr = np.asarray(pixels, dtype=np.float64)
    plane = arr.mean(axis=2) if arr.ndim == 3 else arr
    h0, w0 = plane.shape

    def shrink(ph: int, pw: int):
        yi = np.arange(ph) * h0 // ph
        xi = np.arange(pw) * w0 // pw
        return plane[yi][:, xi]

    if method == "dhash":
        g = shrink(8, 9)
        bits = (g[:, 1:] > g[:, :-1]).ravel()
    elif method == "ahash":
        g = shrink(8, 8)
        bits = (g > g.mean()).ravel()
    else:
        raise ValueError(f"unknown phash method {method!r}")
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    return val - (1 << 64) if val >= (1 << 63) else val


def image_phash(
    df: DataFrame,
    binary_col: str = "payload",
    *,
    method: str = "dhash",
    skip_undecodable: bool = True,
) -> DataFrame:
    """Append a ``phash`` (BIGINT) column: perceptual hash of the
    DECODED image (``decode_image`` — stdlib PNG codec or Pillow via
    ``$SPARK_GRAFT_PIL``). Arrow ``mapInPandas``, map-only.
    ``skip_undecodable=True`` nulls the hash for payloads no codec
    handles (the operational choice mid-pipeline); False re-raises so
    a curation run fails loudly."""
    if method not in ("dhash", "ahash"):
        raise ValueError(f"unknown phash method {method!r}")
    out_schema = T.StructType(
        df.schema.fields + [T.StructField("phash", T.LongType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = []
            for p in pdf[binary_col]:
                if p is None:
                    hashes.append(None)
                    continue
                try:
                    hashes.append(phash64(decode_image(bytes(p)), method))
                except (NotImplementedError, ValueError):
                    if not skip_undecodable:
                        raise
                    hashes.append(None)
            pdf = pdf.copy()
            pdf["phash"] = pd.array(hashes, dtype="Int64")
            yield pdf

    return df.mapInPandas(run, out_schema)


def image_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    binary_col: str = "payload",
    *,
    max_hamming: int = 4,
    method: str = "dhash",
) -> DataFrame:
    """Perceptual-hash image near-duplicate pairs — the image analogue
    of ``dedup.simhash_near_dup_pairs_banded``, and it REUSES that
    machinery: the phash sketch frame feeds the same banded candidate
    join (pigeonhole-exact at ``max_hamming``) and bit_count-XOR
    verification, so the scale story is identical — one Arrow decode
    pass, band-key shuffle, verify only candidates, never all pairs.
    Returns (id1, id2, hamming)."""
    from harmonize_search_analyze_spark.operators.dedup import (
        hamming_sql,
        simhash_candidate_pairs,
    )

    sk = checkpoint(
        image_phash(
            df.select(id_col, binary_col), binary_col, method=method
        )
        .where(F.col("phash").isNotNull())
        .select(id_col, F.col("phash").alias("simhash"))
    )
    cands = simhash_candidate_pairs(
        sk, id_col, max_hamming=max_hamming, bits=64
    )
    ham = F.expr(hamming_sql("sh1", "sh2", "spark"))
    out = (
        cands.join(
            sk.select(
                F.col(id_col).alias("id1"), F.col("simhash").alias("sh1")
            ),
            "id1",
        )
        .join(
            sk.select(
                F.col(id_col).alias("id2"), F.col("simhash").alias("sh2")
            ),
            "id2",
        )
        .withColumn("hamming", ham.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("id1", "id2", "hamming")
    )
    return out


# -- audio fingerprinting + near-duplicate detection -------------------------


def audio_fingerprint64(samples, rate: int, n_channels: int = 1) -> int:
    """64-bit audio fingerprint from decoded PCM: mono-mix, split into
    65 equal frames, per-frame RMS energy, bit i = frame i+1 louder
    than frame i (energy-delta sign — the dHash idea on the time axis).
    Invariant to global gain (energy scales uniformly, delta signs
    don't) and to sample-rate-preserving container changes; a different
    waveform flips about half the bits. Packed two's-complement like
    the SimHash/phash sketches so the banded machinery applies."""
    import numpy as np

    x = np.asarray(samples, dtype=np.float64)
    if n_channels > 1:
        usable = len(x) - (len(x) % n_channels)
        x = x[:usable].reshape(-1, n_channels).mean(axis=1)
    n_frames = 65
    if len(x) < n_frames:
        x = np.pad(x, (0, n_frames - len(x)))
    bounds = (np.arange(n_frames + 1) * len(x)) // n_frames
    energy = np.array([
        float(np.sqrt(np.mean(np.square(x[bounds[i]:bounds[i + 1]]))))
        if bounds[i + 1] > bounds[i] else 0.0
        for i in range(n_frames)
    ])
    bits = energy[1:] > energy[:-1]
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    return val - (1 << 64) if val >= (1 << 63) else val


def audio_phash(
    df: DataFrame,
    binary_col: str = "payload",
    *,
    skip_undecodable: bool = True,
) -> DataFrame:
    """Append an ``aphash`` (BIGINT) column: energy-delta fingerprint of
    the decoded PCM (``decode_wav_pcm`` — real, stdlib-only). Arrow
    ``mapInPandas``, map-only. Non-PCM payloads null out (or raise via
    ``skip_undecodable=False``)."""
    out_schema = T.StructType(
        df.schema.fields + [T.StructField("aphash", T.LongType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = []
            for p in pdf[binary_col]:
                decoded = decode_wav_pcm(bytes(p)) if p is not None else None
                if decoded is None:
                    if p is not None and not skip_undecodable:
                        raise NotImplementedError(
                            "non-PCM audio needs a codec; only RIFF/WAVE "
                            "PCM decodes in this environment"
                        )
                    hashes.append(None)
                    continue
                samples, rate, n_ch = decoded
                hashes.append(audio_fingerprint64(samples, rate, n_ch))
            pdf = pdf.copy()
            pdf["aphash"] = pd.array(hashes, dtype="Int64")
            yield pdf

    return df.mapInPandas(run, out_schema)


def audio_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    binary_col: str = "payload",
    *,
    max_hamming: int = 4,
) -> DataFrame:
    """Audio near-duplicate pairs over the energy-delta fingerprint —
    same banded-candidates + bit_count-verify shape as
    ``image_near_dup_pairs`` (and the same 100 TB story: one Arrow
    decode pass, band-key shuffle, never all pairs). Returns
    (id1, id2, hamming)."""
    from harmonize_search_analyze_spark.operators.dedup import (
        hamming_sql,
        simhash_candidate_pairs,
    )

    sk = checkpoint(
        audio_phash(df.select(id_col, binary_col), binary_col)
        .where(F.col("aphash").isNotNull())
        .select(id_col, F.col("aphash").alias("simhash"))
    )
    cands = simhash_candidate_pairs(
        sk, id_col, max_hamming=max_hamming, bits=64
    )
    ham = F.expr(hamming_sql("sh1", "sh2", "spark"))
    out = (
        cands.join(
            sk.select(
                F.col(id_col).alias("id1"), F.col("simhash").alias("sh1")
            ),
            "id1",
        )
        .join(
            sk.select(
                F.col(id_col).alias("id2"), F.col("simhash").alias("sh2")
            ),
            "id2",
        )
        .withColumn("hamming", ham.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("id1", "id2", "hamming")
    )
    return out


# -- driver-gate media synthesis (deterministic, SQL-pinnable) ----------------
#
# The image/audio near-dup operators above decode REAL bytes, which a SQL
# oracle engine cannot do — so for external (DuckDB) verification we
# synthesize the media IN-PLAN from integer doc ids such that the decoded
# pixels/samples are a pure arithmetic function of the id.  The oracle then
# recomputes the perceptual sketch from the SAME formula in pure SQL and
# pins the whole encode -> decode -> sketch -> banded-join pipeline: any
# drift in the PNG codec, the WAV struct layout, the dhash bit order, or
# the Hamming verify shows up as a value mismatch.  This is the
# engine-native analog of the reference's geo_point dual-representation
# trick (SURVEY.md §1.2; reference `harmonizeCrimeIncidents.py` keeps a
# string AND a typed form of the same value so two consumers can verify
# each other) applied to opaque binary columns.
#
# Planted cluster structure (so the query output is non-trivial at every
# SF): docs come in runs of 4 consecutive ids; a run is a "duplicate
# cluster" iff (doc_id DIV 4) % 25 == 0 (~4% of docs).  Cluster members
# share the hash-seeded base image/waveform and each member perturbs ONE
# pixel/sample chosen so at most ONE sketch bit can flip per member —
# the image perturbation sits in dhash COLUMN 0 (pixel (r, 0) feeds only
# comparison (r, 0)); the audio perturbation sits in energy FRAME 0
# (feeds only delta bit 0).  Within-cluster pairs therefore sit at
# Hamming <= 2, inside the engine's production banding geometry
# (max_hamming = 3 -> four 16-bit bands, the config simhash_select_sql
# documents; d = 4 would force 12.8-bit bands whose buckets go
# birthday-quadratic at corpus scale — measured 257M candidates over
# 500k docs before this pin, 100x per decade).  Cross-cluster sketches
# are ~independent 64-bit values (P[Hamming <= 3] ~ 2.3e-15 per pair).
# Both engines compute identical sketches, so even a freak cross-pair
# collision stays in parity.

GATE_IMG_H, GATE_IMG_W = 8, 9  # dhash-native geometry: shrink(8, 9) = identity
GATE_WAV_SAMPLES = 130         # 65 energy frames x 2 samples, no edge padding
GATE_WAV_RATE = 8000


def gate_seed(doc_id: int) -> str:
    """Base-content seed: shared inside a planted cluster, unique outside."""
    cluster = doc_id // 4
    return f"c{cluster}" if cluster % 25 == 0 else f"u{doc_id}"


def _gate_hash60(s: str) -> int:
    """Python twin of functions.hashing.hash64_sql (60-bit md5 prefix)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def gate_pixels(doc_id: int) -> list[int]:
    """72 deterministic grayscale pixel values (row-major 8x9)."""
    seed = gate_seed(doc_id)
    k_star, delta = (doc_id % 8) * GATE_IMG_W, (1 + doc_id % 5) * 40
    return [
        (_gate_hash60(f"{seed}:px:{k}") + (delta if k == k_star else 0)) % 256
        for k in range(GATE_IMG_H * GATE_IMG_W)
    ]


def gate_samples(doc_id: int) -> list[int]:
    """130 deterministic signed 16-bit PCM samples."""
    seed = gate_seed(doc_id)
    j_star, delta = doc_id % 2, (doc_id % 7) * 9000
    return [
        ((_gate_hash60(f"{seed}:au:{j}") + (delta if j == j_star else 0))
         % 65536) - 32768
        for j in range(GATE_WAV_SAMPLES)
    ]


def _gate_wav_bytes(samples: list[int]) -> bytes:
    data = struct.pack(f"<{len(samples)}h", *samples)
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack(
            "<IHHIIHH", 16, 1, 1, GATE_WAV_RATE, GATE_WAV_RATE * 2, 2, 16
        )
        + b"data" + struct.pack("<I", len(data)) + data
    )


def gate_media_synth(
    df: DataFrame, id_col: str = "doc_id", modality: str = "image"
) -> DataFrame:
    """Append a real binary ``payload`` column (PNG or PCM WAV) whose
    decoded content is ``gate_pixels``/``gate_samples`` of the id — an
    Arrow ``mapInPandas`` stage, map-only, so the downstream near-dup
    pipeline exercises the identical scan/decode/shuffle shape it would
    on stored media."""
    if modality not in ("image", "audio"):
        raise ValueError(f"unknown gate modality {modality!r}")
    out_schema = T.StructType(
        df.schema.fields + [T.StructField("payload", T.BinaryType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from harmonize_search_analyze_spark.functions.png import png_encode

        for pdf in batches:
            payloads = []
            for did in pdf[id_col]:
                did = int(did)
                if modality == "image":
                    px = np.asarray(gate_pixels(did), dtype=np.uint8)
                    payloads.append(
                        png_encode(px.reshape(GATE_IMG_H, GATE_IMG_W, 1))
                    )
                else:
                    payloads.append(_gate_wav_bytes(gate_samples(did)))
            pdf = pdf.copy()
            pdf["payload"] = payloads
            yield pdf

    return df.mapInPandas(run, out_schema)


def _gate_bit_terms(cmp_exprs: list[str]) -> str:
    """Sum 64 comparison bits into a signed two's-complement BIGINT,
    MSB first in ``cmp_exprs`` — same overflow discipline as
    ``dedup.simhash_select_sql``: bit 63's weight is MIN_LONG, appended
    LAST so the running sum of lower-bit weights never overflows."""
    if len(cmp_exprs) != 64:
        raise ValueError(f"need exactly 64 bits, got {len(cmp_exprs)}")
    terms = []
    for k in range(63, 0, -1):  # bits 62..0 first (weights fit in int63)
        terms.append(
            f"(CASE WHEN {cmp_exprs[k]} THEN CAST({1 << (63 - k)} AS BIGINT)"
            " ELSE 0 END)"
        )
    terms.append(
        f"(CASE WHEN {cmp_exprs[0]} THEN "
        "CAST(-9223372036854775807 AS BIGINT) - 1 ELSE 0 END)"
    )
    return " + ".join(terms)


def gate_sketch_sql(
    table: str, id_col: str, modality: str, dialect: str
) -> str:
    """Full SELECT computing the EXACT perceptual sketch the Spark
    pipeline produces by synthesizing, PNG/WAV-encoding, decoding and
    hashing (``gate_media_synth`` -> ``image_phash``/``audio_phash``) —
    but in pure SQL arithmetic, dual-dialect.  Works because the codecs
    are lossless: decode(encode(px)) == px, so dhash's pixel comparisons
    (and the energy-delta comparisons over exact dyadic floats) reduce
    to integer comparisons both engines evaluate identically."""
    from harmonize_search_analyze_spark.functions.hashing import hash64_sql

    if dialect == "spark":
        div, str_t = "DIV", "STRING"
    elif dialect == "duckdb":
        div, str_t = "//", "VARCHAR"
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    seed = (
        f"CASE WHEN ({id_col} {div} 4) % 25 = 0 "
        f"THEN 'c' || CAST(({id_col} {div} 4) AS {str_t}) "
        f"ELSE 'u' || CAST({id_col} AS {str_t}) END"
    )
    if modality == "image":
        n, tag, mod_base = GATE_IMG_H * GATE_IMG_W, "px", 256
        perturb = (
            f"CASE WHEN ({id_col} % 8) * {GATE_IMG_W} = {{k}} "
            f"THEN (1 + {id_col} % 5) * 40 ELSE 0 END"
        )
    elif modality == "audio":
        n, tag, mod_base = GATE_WAV_SAMPLES, "au", 65536
        perturb = (
            f"CASE WHEN {id_col} % 2 = {{k}} "
            f"THEN ({id_col} % 7) * 9000 ELSE 0 END"
        )
    else:
        raise ValueError(f"unknown gate modality {modality!r}")
    cols = []
    for k in range(n):
        h = hash64_sql(f"seed || ':{tag}:{k}'", dialect)
        expr = f"(({h} + {perturb.format(k=k)}) % {mod_base})"
        if modality == "audio":
            expr = f"({expr} - 32768)"
        cols.append(f"{expr} AS v{k}")
    if modality == "image":
        # dhash bit (r, c): pixel[r][c+1] > pixel[r][c], row-major MSB-first
        cmps = [
            f"v{r * GATE_IMG_W + c + 1} > v{r * GATE_IMG_W + c}"
            for r in range(GATE_IMG_H)
            for c in range(GATE_IMG_W - 1)
        ]
        frame_sql = ""
    else:
        # energy frame f = s(2f)^2 + s(2f+1)^2; bit k: e(k+1) > e(k)
        frames = ", ".join(
            f"(v{2 * f} * v{2 * f} + v{2 * f + 1} * v{2 * f + 1}) AS e{f}"
            for f in range(65)
        )
        frame_sql = f", en AS (SELECT {id_col}, {frames} FROM vals)"
        cmps = [f"e{k + 1} > e{k}" for k in range(64)]
    sketch = _gate_bit_terms(cmps)
    src = "en" if modality == "audio" else "vals"
    return (
        f"WITH base AS (SELECT {id_col}, {seed} AS seed FROM {table}), "
        f"vals AS (SELECT {id_col}, {', '.join(cols)} FROM base)"
        f"{frame_sql} "
        f"SELECT {id_col}, ({sketch}) AS sketch FROM {src}"
    )
