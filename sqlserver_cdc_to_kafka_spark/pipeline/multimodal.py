"""Multimodal-column plumbing: opaque binary payloads + typed metadata,
processed with Arrow-batched ``mapInPandas`` (beyond-reference scope).

Design for 100 TB: media bytes ride as an opaque ``binary`` column next to
typed metadata; decode/resize/frame-sample run per-partition as Arrow batches
(no per-row Python), and the output schema is fixed up front so downstream
stages stay columnar.

The image path is a REAL codec: binary P6 PPM (netpbm) encode + decode in
pure numpy — header tokenizer with comment support, ``np.frombuffer`` pixel
parse, per-image pixel statistics. No image library needed, no stubs on the
data path. Payload generation is deterministic from ``doc_id`` so a DuckDB
oracle can independently recompute every feature from the generation formula
while Spark computes them by actually decoding the bytes. Video frame
sampling still uses a deterministic fake (no container codec for video);
its batch-expansion plumbing is real.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "doc_id bigint, media_type string, n_bytes int, width int, height int, "
    "px_mean double, px_min int, px_max int, px_sum bigint"
)

# deterministic synthetic-image parameters (shared with the DuckDB oracle)
_MAX_W, _MAX_H = 16, 9


def ppm_dims_for(doc_id: int) -> tuple[int, int, int]:
    """(width, height, seed) for the synthetic image of a document — the
    generation formula the oracle mirrors arithmetically."""
    return 4 + doc_id % 13, 3 + doc_id % 7, (doc_id * 31) % 256


def encode_ppm(width: int, height: int, seed: int) -> bytes:
    """Binary P6 PPM: ``P6\\n<w> <h>\\n255\\n`` + interleaved RGB bytes.
    Pixel byte i = (seed + i) % 256 — a real, parseable image whose stats
    have a closed form."""
    header = f"P6\n{width} {height}\n255\n".encode("ascii")
    px = ((seed + np.arange(width * height * 3)) % 256).astype(np.uint8)
    return header + px.tobytes()


def decode_ppm(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Parse a binary P6 PPM: magic, whitespace/comment-tolerant header
    tokens (width, height, maxval), then the pixel plane via
    ``np.frombuffer`` — (height, width, 3) uint8. Raises ValueError on a
    bad magic, short payload, or unsupported maxval."""
    if payload[:2] != b"P6":
        raise ValueError(f"not a binary PPM (magic {payload[:2]!r})")
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment runs to end of line
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated PPM header")
        tokens.append(int(payload[start:pos]))
    pos += 1  # single whitespace byte after maxval, then raster begins
    width, height, maxval = tokens
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval} (only 8-bit)")
    n = width * height * 3
    raster = payload[pos : pos + n]
    if len(raster) != n:
        raise ValueError(f"short raster: want {n} bytes, have {len(raster)}")
    return width, height, np.frombuffer(raster, dtype=np.uint8).reshape(
        height, width, 3
    )


def attach_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Materialize an opaque binary media column (here: the UTF-8 bytes of
    the text column standing in for an encoded video payload)."""
    return df.withColumn("payload", F.encode(F.col(text_col), "utf-8")).withColumn(
        "media_type", F.lit("video/fake")
    )


def attach_ppm_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Generate a real binary P6 PPM payload per row, Arrow-batched. At
    100 TB this column arrives from storage; here the deterministic encoder
    stands in for ingest while keeping payloads fully decodable."""

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                encode_ppm(*ppm_dims_for(int(doc_id))) for doc_id in pdf[id_col]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "payload": payloads,
                    "media_type": "image/ppm",
                }
            )

    return df.select(F.col(id_col).cast("bigint").alias(id_col)).mapInPandas(
        _gen, schema=f"{id_col} bigint, payload binary, media_type string"
    )


def extract_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched image feature extraction over the binary column: every
    payload is REALLY decoded (PPM header parse + numpy raster) and the
    features come from the decoded array — dimensions from the header,
    mean/min/max/sum from the pixels. The pandas iterator form processes
    whole record batches per partition — batch in, batch out, bounded
    memory — exactly the shape a heavier codec (JPEG via PIL/libvips)
    would drop into without touching the Spark plan."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "media_type", "n_bytes", "width", "height",
                "px_mean", "px_min", "px_max", "px_sum",
            )}
            for doc_id, media_type, payload in zip(
                pdf[id_col], pdf["media_type"], pdf["payload"]
            ):
                if payload is None:
                    continue
                raw = bytes(payload)
                width, height, arr = decode_ppm(raw)
                out["doc_id"].append(doc_id)
                out["media_type"].append(media_type)
                out["n_bytes"].append(len(raw))
                out["width"].append(width)
                out["height"].append(height)
                out["px_mean"].append(float(arr.mean()))
                out["px_min"].append(int(arr.min()))
                out["px_max"].append(int(arr.max()))
                out["px_sum"].append(int(arr.sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(out["doc_id"], dtype="int64"),
                    "media_type": out["media_type"],
                    "n_bytes": pd.array(out["n_bytes"], dtype="int32"),
                    "width": pd.array(out["width"], dtype="int32"),
                    "height": pd.array(out["height"], dtype="int32"),
                    "px_mean": pd.array(out["px_mean"], dtype="float64"),
                    "px_min": pd.array(out["px_min"], dtype="int32"),
                    "px_max": pd.array(out["px_max"], dtype="int32"),
                    "px_sum": pd.array(out["px_sum"], dtype="int64"),
                }
            )

    return df.mapInPandas(_extract, schema=FEATURE_SCHEMA)


AUDIO_SCHEMA = (
    "doc_id bigint, media_type string, n_bytes int, sample_rate int, "
    "n_samples int, duration_ms double, amp_min int, amp_max int, "
    "amp_sum bigint, rms double"
)


def wav_params_for(doc_id: int) -> tuple[int, int, int]:
    """(n_samples, sample_rate, seed) for a document's synthetic audio clip
    — the generation formula the oracle mirrors arithmetically."""
    return 200 + doc_id % 701, (8000 if doc_id % 2 == 0 else 16000), (doc_id * 53) % 65536


def encode_wav(n_samples: int, sample_rate: int, seed: int) -> bytes:
    """Canonical 44-byte RIFF/WAVE header + PCM16LE mono raster. Sample i =
    ((seed + 11*i) % 65536) - 32768 — a real, parseable clip whose stats
    have a closed form."""
    import struct

    samples = (((seed + 11 * np.arange(n_samples)) % 65536) - 32768).astype("<i2")
    data = samples.tobytes()
    header = (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
    )
    return header + data


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """Parse a RIFF/WAVE container: verify the RIFF/WAVE magic, walk the
    chunk list (tolerating unknown chunks like LIST/INFO, as real encoders
    emit), read fmt (must be PCM16 mono) and data, and return
    (sample_rate, int16 sample array via np.frombuffer)."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError(f"not a RIFF/WAVE payload (magic {payload[:4]!r})")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise ValueError(f"truncated chunk {cid!r}: want {size}, have {len(body)}")
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, channels, sample_rate, _byte_rate, _align, bits = fmt
    if (audio_format, channels, bits) != (1, 1, 16):
        raise ValueError(
            f"unsupported WAV (format={audio_format}, ch={channels}, bits={bits});"
            " only PCM16 mono"
        )
    return sample_rate, np.frombuffer(data, dtype="<i2")


def attach_wav_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Generate a real RIFF/WAVE payload per row, Arrow-batched (the audio
    twin of attach_ppm_payload)."""

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                encode_wav(*wav_params_for(int(doc_id))) for doc_id in pdf[id_col]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "payload": payloads,
                    "media_type": "audio/wav",
                }
            )

    return df.select(F.col(id_col).cast("bigint").alias(id_col)).mapInPandas(
        _gen, schema=f"{id_col} bigint, payload binary, media_type string"
    )


def _audio_feature_frame(pdf: pd.DataFrame, id_col: str) -> pd.DataFrame:
    """Features of one Arrow batch of (id, media_type, payload) rows: every
    payload is REALLY decoded (RIFF chunk walk + np.frombuffer PCM parse)
    and the features come from the decoded samples — rate/duration from the
    container, amplitude stats and RMS from the waveform. Shared by the
    two-step extract and the fused synth+extract pass."""
    import math

    cols = {k: [] for k in (
        "doc_id", "media_type", "n_bytes", "sample_rate", "n_samples",
        "duration_ms", "amp_min", "amp_max", "amp_sum", "rms",
    )}
    for doc_id, media_type, payload in zip(
        pdf[id_col], pdf["media_type"], pdf["payload"]
    ):
        if payload is None:
            continue
        raw = bytes(payload)
        rate, samples = decode_wav(raw)
        s64 = samples.astype(np.int64)
        n = len(samples)
        cols["doc_id"].append(doc_id)
        cols["media_type"].append(media_type)
        cols["n_bytes"].append(len(raw))
        cols["sample_rate"].append(rate)
        cols["n_samples"].append(n)
        cols["duration_ms"].append(n * 1000.0 / rate)
        cols["amp_min"].append(int(s64.min()))
        cols["amp_max"].append(int(s64.max()))
        cols["amp_sum"].append(int(s64.sum()))
        cols["rms"].append(math.sqrt(int((s64 * s64).sum()) / n))
    return pd.DataFrame(
        {
            "doc_id": pd.array(cols["doc_id"], dtype="int64"),
            "media_type": cols["media_type"],
            "n_bytes": pd.array(cols["n_bytes"], dtype="int32"),
            "sample_rate": pd.array(cols["sample_rate"], dtype="int32"),
            "n_samples": pd.array(cols["n_samples"], dtype="int32"),
            "duration_ms": pd.array(cols["duration_ms"], dtype="float64"),
            "amp_min": pd.array(cols["amp_min"], dtype="int32"),
            "amp_max": pd.array(cols["amp_max"], dtype="int32"),
            "amp_sum": pd.array(cols["amp_sum"], dtype="int64"),
            "rms": pd.array(cols["rms"], dtype="float64"),
        }
    )


def synth_and_extract_audio_features(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Fixture synthesis + feature extraction fused into ONE Arrow pass
    (r15, guide §4): the attach→extract composition evaluated two stacked
    MapInPandas nodes, shipping every WAV payload JVM→Python→JVM→Python;
    fused, only the id column crosses in and only the feature row crosses
    out — the payload bytes live and die inside one Python worker, still
    exercising encode_wav → decode_wav end-to-end byte-for-byte (the same
    two helpers, unchanged)."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "payload": [
                        encode_wav(*wav_params_for(int(doc_id)))
                        for doc_id in pdf[id_col]
                    ],
                    "media_type": "audio/wav",
                }
            )
            yield _audio_feature_frame(payloads, id_col)

    return df.select(F.col(id_col).cast("bigint").alias(id_col)).mapInPandas(
        _run, schema=AUDIO_SCHEMA
    )


FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame_ts_ms int, frame_hash string"
FRAME_INTERVAL_MS = 40  # 25 fps stand-in


def frame_sample(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Video frame sampling over the opaque payload: one input row expands
    to N output rows (frames) inside the Arrow batch — the batch-shape
    change a real ffmpeg/pyav sampler needs. The decode is the deterministic
    stub: frame count = 1 + n_bytes % 4, frame hash = md5(payload ':' idx),
    timestamps on a fixed 40 ms cadence."""

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        for pdf in batches:
            ids, idxs, tss, hashes = [], [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                if payload is None:
                    continue
                raw = bytes(payload)
                n_frames = 1 + len(raw) % 4
                for i in range(n_frames):
                    ids.append(doc_id)
                    idxs.append(i)
                    tss.append(i * FRAME_INTERVAL_MS)
                    hashes.append(
                        _hashlib.md5(raw + b":" + str(i).encode()).hexdigest()
                    )
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_idx": pd.array(idxs, dtype="int32"),
                    "frame_ts_ms": pd.array(tss, dtype="int32"),
                    "frame_hash": hashes,
                }
            )

    return df.mapInPandas(_sample, schema=FRAME_SCHEMA)


RESIZE_SCHEMA = (
    "doc_id bigint, in_w int, in_h int, out_w int, out_h int, "
    "n_bytes int, px_mean double, px_sum bigint"
)


def resize_nearest(arr: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resample of an (h, w, 3) uint8 image: output pixel
    (x, y) reads input pixel (floor(x*w/out_w), floor(y*h/out_h)) — the
    simplest real resampler, chosen because its index arithmetic is exactly
    reproducible by the oracle."""
    h, w = arr.shape[:2]
    xs = (np.arange(out_w) * w) // out_w
    ys = (np.arange(out_h) * h) // out_h
    return arr[ys][:, xs]


def resize_features(
    df: DataFrame, out_w: int = 8, out_h: int = 5, id_col: str = "doc_id"
) -> DataFrame:
    """Arrow-batched image RESIZE over the binary column: decode the PPM,
    nearest-neighbor resample to (out_w, out_h), re-encode, and report the
    resized image's size and pixel stats. Batch in, batch out — the
    thumbnail/tiling stage of a multimodal ingest pipeline, with the same
    drop-in shape for a real interpolating resampler."""

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols = {k: [] for k in (
                "doc_id", "in_w", "in_h", "out_w", "out_h",
                "n_bytes", "px_mean", "px_sum",
            )}
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                if payload is None:
                    continue
                w, h, arr = decode_ppm(bytes(payload))
                small = resize_nearest(arr, out_w, out_h)
                header = f"P6\n{out_w} {out_h}\n255\n".encode("ascii")
                re_encoded = header + small.tobytes()
                s64 = small.astype(np.int64)
                cols["doc_id"].append(doc_id)
                cols["in_w"].append(w)
                cols["in_h"].append(h)
                cols["out_w"].append(out_w)
                cols["out_h"].append(out_h)
                cols["n_bytes"].append(len(re_encoded))
                cols["px_mean"].append(float(s64.mean()))
                cols["px_sum"].append(int(s64.sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(cols["doc_id"], dtype="int64"),
                    "in_w": pd.array(cols["in_w"], dtype="int32"),
                    "in_h": pd.array(cols["in_h"], dtype="int32"),
                    "out_w": pd.array(cols["out_w"], dtype="int32"),
                    "out_h": pd.array(cols["out_h"], dtype="int32"),
                    "n_bytes": pd.array(cols["n_bytes"], dtype="int32"),
                    "px_mean": pd.array(cols["px_mean"], dtype="float64"),
                    "px_sum": pd.array(cols["px_sum"], dtype="int64"),
                }
            )

    return df.mapInPandas(_resize, schema=RESIZE_SCHEMA)


def quadrant_sums(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched 2×2 block-sum grid from DECODED pixels: per image
    quadrant, the sum of r+g+b over its pixels and the pixel count — the
    resolution-normalizing statistic a perceptual hash quantizes.  Decode
    runs through the same real PPM parser as extract_features; the numpy
    reduction is vectorized per image (no per-pixel Python)."""

    def _quads(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple[Any, ...]] = []
            for doc_id, raw in zip(pdf[id_col], pdf["payload"]):
                width, height, arr = decode_ppm(bytes(raw))
                rgb = arr.reshape(height, width, 3).sum(axis=2, dtype=np.int64)
                ys = np.arange(height) * 2 // height
                xs = np.arange(width) * 2 // width
                for qy in (0, 1):
                    for qx in (0, 1):
                        block = rgb[np.ix_(ys == qy, xs == qx)]
                        out.append(
                            (
                                int(doc_id),
                                int(width),
                                int(height),
                                qy,
                                qx,
                                int(block.sum()),
                                int(block.size),
                            )
                        )
            yield pd.DataFrame(
                out,
                columns=[id_col, "width", "height", "qy", "qx", "rgb_sum", "n_px"],
            )

    return df.mapInPandas(
        _quads,
        schema=(
            f"{id_col} bigint, width int, height int, qy int, qx int, "
            "rgb_sum bigint, n_px bigint"
        ),
    )


def frame_energy(
    df: DataFrame, id_col: str = "doc_id", frame_len: int = 100
) -> DataFrame:
    """Arrow-batched frame energy over DECODED audio: per ``frame_len``
    samples, the abs-amplitude sum (integer — engine-exact) and sample
    count, tail frame included.  Decode runs through the real RIFF/WAVE
    parser; the frame reduction is one vectorized numpy pass per clip."""

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple[Any, ...]] = []
            for doc_id, raw in zip(pdf[id_col], pdf["payload"]):
                _rate, samples = decode_wav(bytes(raw))
                a = np.abs(samples.astype(np.int64))
                for fi in range(0, len(a), frame_len):
                    blk = a[fi : fi + frame_len]
                    out.append(
                        (int(doc_id), fi // frame_len, len(blk), int(blk.sum()))
                    )
            yield pd.DataFrame(
                out, columns=[id_col, "frame_idx", "n_samples", "abs_sum"]
            )

    return df.mapInPandas(
        _frames,
        schema=f"{id_col} bigint, frame_idx bigint, n_samples bigint, abs_sum bigint",
    )


def encode_ppm_stream(doc_id: int) -> bytes:
    """A REAL multi-frame container: concatenated binary P6 frames (the
    netpbm STREAM format — `man ppm`: "a PPM file can contain a sequence
    of PPM images").  Frame count = 1 + doc_id % 4; frame f reuses the
    doc's dims with seed shifted by 17·f — deterministic, closed-form for
    the oracle."""
    w, h, seed = ppm_dims_for(doc_id)
    n_frames = 1 + doc_id % 4
    return b"".join(
        encode_ppm(w, h, (seed + 17 * f) % 256) for f in range(n_frames)
    )


def decode_ppm_stream(payload: bytes) -> list[tuple[int, int, np.ndarray]]:
    """Walk a concatenated-P6 stream: parse each frame's header for its
    raster length, slice it out, continue at the next magic — genuine
    container demuxing (frame boundaries come from the headers, not from
    any out-of-band metadata)."""
    frames = []
    pos = 0
    while pos < len(payload):
        rest = payload[pos:]
        if not rest.strip():
            break
        w, h, arr = decode_ppm(rest)
        # recompute this frame's byte length: header + raster
        header_end = 0
        fields = 0
        in_comment = False
        i = 2  # past magic
        while fields < 3:
            c = rest[i : i + 1]
            if in_comment:
                in_comment = c != b"\n"
            elif c == b"#":
                in_comment = True
            elif c.isspace():
                pass
            else:
                j = i
                while not rest[j : j + 1].isspace():
                    j += 1
                fields += 1
                i = j
                if fields == 3:
                    header_end = j + 1  # single whitespace after maxval
                    break
            i += 1
        frame_len = header_end + w * h * 3
        frames.append((w, h, arr))
        pos += frame_len
    return frames


def attach_ppm_stream_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Generate the multi-frame P6 stream payload per row, Arrow-batched."""

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [encode_ppm_stream(int(d)) for d in pdf[id_col]]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "payload": payloads,
                    "media_type": "video/x-ppm-stream",
                }
            )

    return df.select(id_col).mapInPandas(
        _gen, schema=f"{id_col} bigint, payload binary, media_type string"
    )


def stream_frame_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Demux + per-frame stats over the REAL stream container: every frame
    decoded through the PPM parser, pixel sums from the decoded raster."""

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple[Any, ...]] = []
            for doc_id, raw in zip(pdf[id_col], pdf["payload"]):
                for fi, (w, h, arr) in enumerate(decode_ppm_stream(bytes(raw))):
                    out.append(
                        (
                            int(doc_id),
                            fi,
                            fi * FRAME_INTERVAL_MS,
                            int(w),
                            int(h),
                            int(arr.astype(np.int64).sum()),
                        )
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    id_col, "frame_idx", "frame_ts_ms", "width", "height", "px_sum"
                ],
            )

    return df.mapInPandas(
        _stats,
        schema=(
            f"{id_col} bigint, frame_idx int, frame_ts_ms int, "
            "width int, height int, px_sum bigint"
        ),
    )
