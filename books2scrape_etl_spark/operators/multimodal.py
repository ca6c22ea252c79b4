"""Multimodal-column plumbing (SURVEY.md §2.11 L5).

The reference stores only an image URL string (extract_pipeline.py:13,40).
A training-data pipeline needs the real thing: opaque ``binary`` payload
columns with typed metadata, plus decode / feature-extract / resize /
frame-sample stages as Arrow-batched ``mapInPandas`` operators.

The compressed-codec libraries (libjpeg/libpng/ffmpeg) are NOT in this
container, so the engine carries REAL pure-Python codecs for the
uncompressed formats: PPM (P6) decode+encode, BMP 24/32-bit decode,
and an AVI (RIFF) container walk extracting uncompressed 24-bit DIB
frames — header parsing, pixel access, nearest-neighbor resampling and
per-frame extraction are genuine and value-verified against a DuckDB
oracle that re-derives dimensions, byte lengths and pixel checksums
independently. Swapping in ``PIL.Image.open`` / ``av`` for compressed
formats is a one-function change that alters no plan shape; the only
remaining generic path is :func:`sample_frames`, the byte-window
fan-out for formats without an in-container codec.

Scale notes: binary payloads make rows wide — the operators keep
metadata-only projections separate from payload-carrying ones so
Catalyst can prune the heavy column; `maxRecordsPerBatch` bounds Arrow
batch memory; payload columns should be stored in their own parquet
column chunk (automatic) and read only by stages that decode.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("uri", T.StringType()),
        T.StructField("media_type", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

IMAGE_META_SCHEMA = (
    "media_id long, n_bytes long, width int, height int, channels int, format string"
)

IMAGE_META_PIX_SCHEMA = IMAGE_META_SCHEMA + ", pix_sum long"

FRAME_SAMPLE_SCHEMA = "media_id long, frame_idx int, frame_bytes binary"


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter: treat document text bytes as an opaque media payload so
    the multimodal plumbing is exercisable on the driver testdata
    (binary column, real byte lengths)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(F.lit("mem://doc/"), F.col("doc_id")).alias("uri"),
        F.lit("image").alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
    ).withColumn("n_bytes", F.octet_length("payload"))


# ---------------------------------------------------------------------------
# Pure-Python image codec: PPM (P6) encode/decode + BMP (24/32-bit) decode.
# Uncompressed formats need no external library; the parsing, pixel math
# and resampling below are real codecs, not stubs.
# ---------------------------------------------------------------------------


def encode_ppm(width: int, height: int, pixels: bytes) -> bytes:
    """Binary PPM (P6, maxval 255). ``pixels`` is packed RGB row-major;
    length must be exactly ``3*width*height``."""
    if len(pixels) != 3 * width * height:
        raise ValueError(f"pixel buffer {len(pixels)} != 3*{width}*{height}")
    return f"P6\n{width} {height}\n255\n".encode("ascii") + pixels


def _ppm_header(payload: bytes) -> tuple[int, int, int]:
    """Parse a P6 header (whitespace- and #-comment-tolerant, per the
    netpbm spec). Returns (width, height, pixel_data_offset)."""
    pos, tokens = 2, []  # skip the 'P6' magic
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(payload[start:pos]))
    width, height, maxval = tokens
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    return width, height, pos + 1  # exactly one whitespace after maxval


def decode_image(payload: bytes) -> tuple[str, int, int, int, bytes | None]:
    """Decode an uncompressed image payload.

    Returns ``(format, width, height, channels, pixels)`` where
    ``pixels`` is the packed pixel buffer (padding stripped) — PPM and
    BMP supported. Raises ValueError on anything else (compressed
    formats need a library this container doesn't have)."""
    if payload[:2] == b"P6":
        width, height, off = _ppm_header(payload)
        pixels = payload[off : off + 3 * width * height]
        if len(pixels) != 3 * width * height:
            raise ValueError("truncated PPM pixel data")
        return "ppm", width, height, 3, pixels
    if payload[:2] == b"BM":
        import struct

        data_off = struct.unpack_from("<I", payload, 10)[0]
        width, height = struct.unpack_from("<ii", payload, 18)
        bpp = struct.unpack_from("<H", payload, 28)[0]
        if bpp not in (24, 32):
            raise ValueError(f"unsupported BMP bpp {bpp}")
        channels = bpp // 8
        height = abs(height)
        row_bytes = width * channels
        stride = (row_bytes + 3) & ~3  # rows pad to 4-byte boundaries
        rows = [
            payload[data_off + r * stride : data_off + r * stride + row_bytes]
            for r in range(height)
        ]
        return "bmp", width, height, channels, b"".join(rows)
    raise ValueError(f"unrecognized image magic {payload[:2]!r}")


def synth_ppm_payload(media_id: int) -> bytes:
    """Deterministic synthetic PPM: dimensions and every pixel byte are
    closed-form functions of ``media_id``, so a SQL oracle re-derives
    the whole image independently (width = 8 + id%9, height = 8 + id%7,
    byte[i] = (id*31 + 7*i) % 256)."""
    width = 8 + media_id % 9
    height = 8 + media_id % 7
    n = 3 * width * height
    base = media_id * 31
    pixels = bytes((base + 7 * i) % 256 for i in range(n))
    return encode_ppm(width, height, pixels)


def documents_as_ppm_media(docs: DataFrame) -> DataFrame:
    """Synthetic image corpus over the documents table: one real PPM
    payload per doc (see :func:`synth_ppm_payload`). The payloads are
    genuine images through the production decode path — and every byte
    is SQL-re-derivable, so decode output is oracle-checkable."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payload = pdf["doc_id"].map(lambda i: synth_ppm_payload(int(i)))
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "uri": "mem://ppm/" + pdf["doc_id"].astype(str),
                    "media_type": "image",
                    "payload": payload,
                    "n_bytes": payload.map(len),
                }
            )

    return docs.select("doc_id").mapInPandas(
        batches, MEDIA_SCHEMA
    )


def decode_image_meta(media: DataFrame, with_pixels: bool = False) -> DataFrame:
    """Decode stage: payload -> (width, height, channels, format[,
    pix_sum]) via the REAL PPM/BMP codec. Undecodable payloads yield
    null metadata (a 100 TB corpus always carries corrupt files — they
    must tag, not kill, the job). ``with_pixels=True`` adds the pixel
    byte sum — the integrity signal the oracle re-derives.

    Arrow-batched ``mapInPandas``; column pruning keeps ``payload`` out
    of every stage that doesn't call this."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {
                "media_id": pdf["media_id"],
                "n_bytes": pdf["n_bytes"],
                "width": [],
                "height": [],
                "channels": [],
                "format": [],
            }
            if with_pixels:
                out["pix_sum"] = []
            for b in pdf["payload"]:
                try:
                    fmt, w, h, c, pix = decode_image(bytes(b or b""))
                except ValueError:
                    fmt = w = h = c = pix = None
                out["width"].append(w)
                out["height"].append(h)
                out["channels"].append(c)
                out["format"].append(fmt)
                if with_pixels:
                    out["pix_sum"].append(
                        int(np.frombuffer(pix, dtype=np.uint8).sum()) if pix else None
                    )
            yield pd.DataFrame(out)

    schema = IMAGE_META_PIX_SCHEMA if with_pixels else IMAGE_META_SCHEMA
    return media.mapInPandas(batches, schema)


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Resize stage — REAL nearest-neighbor resample through the codec:
    decode (PPM/BMP) -> index-map the pixel grid (numpy, no Python
    per-pixel loop) -> re-encode as PPM. Undecodable payloads pass
    through as null payloads (tag-don't-kill). The plan shape is one
    projection + one Arrow-batched mapInPandas."""
    import numpy as np

    tgt_w, tgt_h = width, height

    def resize_one(b: bytes) -> bytes | None:
        try:
            fmt, w, h, c, pix = decode_image(bytes(b or b""))
        except ValueError:
            return None
        arr = np.frombuffer(pix, dtype=np.uint8).reshape(h, w, c)
        if c == 4:  # drop alpha for the PPM re-encode
            arr = arr[:, :, :3]
        elif fmt == "bmp":  # BMP stores BGR bottom-up; normalize to RGB top-down
            arr = arr[::-1, :, ::-1]
        ys = (np.arange(tgt_h) * h) // tgt_h
        xs = (np.arange(tgt_w) * w) // tgt_w
        return encode_ppm(tgt_w, tgt_h, arr[np.ix_(ys, xs)].tobytes())

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            resized = pdf["payload"].map(resize_one)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "uri": pdf["uri"],
                    "media_type": pdf["media_type"],
                    "payload": resized,
                    "n_bytes": resized.map(lambda b: len(b) if b is not None else None),
                }
            )

    return media.mapInPandas(batches, MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# Pure-Python video codec: AVI (RIFF) container with uncompressed 24-bit
# DIB frames ('00db' chunks). Like the PPM/BMP codec above, uncompressed
# AVI needs no external library — the RIFF walk, header parsing and
# frame extraction are a real codec, not a stub.
# ---------------------------------------------------------------------------


def encode_avi(width: int, height: int, frames: list[bytes]) -> bytes:
    """Minimal spec-correct AVI: RIFF('AVI ') -> LIST('hdrl') with avih +
    one 'vids'/'DIB ' stream -> LIST('movi') of '00db' frame chunks.
    Each frame is packed 24-bit pixel data of length 3*width*height
    (callers pass stride-free rows; use widths whose 3*w is 4-aligned
    for strict-player compatibility)."""
    import struct

    def chunk(fourcc: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) % 2 else b""
        return fourcc + struct.pack("<I", len(data)) + data + pad

    def lst(list_type: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", list_type + payload)

    frame_size = 3 * width * height
    for f in frames:
        if len(f) != frame_size:
            raise ValueError(f"frame length {len(f)} != 3*{width}*{height}")
    avih = struct.pack(
        "<14I", 40000, 0, 0, 0, len(frames), 0, 1, frame_size, width, height, 0, 0, 0, 0
    )
    strh = (
        b"vids" + b"DIB " + struct.pack("<10I", 0, 0, 0, 1, 25, 0, len(frames), frame_size, 0, 0)
        + struct.pack("<4H", 0, 0, width, height)
    )
    strf = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, frame_size, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00db", f) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi(payload: bytes) -> tuple[int, int, list[bytes]]:
    """Parse an AVI payload: returns (width, height, frames) where each
    frame is the raw bytes of a STREAM-0 '00db'/'00dc' chunk in stream
    order (secondary streams '01db'... are skipped — the avih dims
    describe the first video stream). Raises ValueError on non-RIFF/AVI
    input, a truncated container, or a missing main header. The walk
    honors RIFF even-byte chunk padding."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError(f"not a RIFF/AVI payload: {payload[:4]!r}")
    dims: list[tuple[int, int]] = []
    frames: list[bytes] = []

    def walk(buf: bytes, pos: int, end: int) -> None:
        while pos + 8 <= end:
            fourcc = buf[pos : pos + 4]
            (size,) = struct.unpack_from("<I", buf, pos + 4)
            data_start = pos + 8
            if data_start + size > len(buf) or data_start + size > end:
                # A declared chunk size overrunning its container would
                # otherwise be silently clipped by Python slicing and
                # emit short frames; corrupt payloads must fail loudly
                # so the tag-don't-kill wrapper can drop them.
                raise ValueError(
                    f"truncated RIFF/AVI payload: chunk {fourcc!r} declares "
                    f"{size} bytes past offset {data_start}, container ends "
                    f"at {min(end, len(buf))}"
                )
            if fourcc == b"LIST":
                walk(buf, data_start + 4, data_start + size)
            elif fourcc == b"avih":
                w, h = struct.unpack_from("<II", buf, data_start + 32)
                dims.append((w, h))
            elif fourcc[:2] == b"00" and fourcc[2:4] in (b"db", b"dc"):
                frames.append(buf[data_start : data_start + size])
            pos = data_start + size + (size % 2)  # even-byte chunk padding

    try:
        walk(payload, 12, 12 + struct.unpack_from("<I", payload, 4)[0] - 4)
    except struct.error as exc:  # truncated container mid-chunk
        raise ValueError(f"truncated RIFF/AVI payload: {exc}") from exc
    if not dims:
        raise ValueError("AVI payload has no 'avih' main header")
    width, height = dims[0]
    return width, height, frames


def synth_avi_payload(media_id: int) -> bytes:
    """Deterministic synthetic AVI: dimensions, frame count and every
    frame byte are closed-form functions of ``media_id``, so a SQL
    oracle re-derives each frame's byte sum independently
    (w = 4*(1 + id%3), h = 2 + id%4, n_frames = 1 + id%3,
    frame f byte i = (id*17 + f*11 + 5*i) % 256)."""
    width = 4 * (1 + media_id % 3)
    height = 2 + media_id % 4
    n_frames = 1 + media_id % 3
    n = 3 * width * height
    frames = [
        bytes((media_id * 17 + f * 11 + 5 * i) % 256 for i in range(n))
        for f in range(n_frames)
    ]
    return encode_avi(width, height, frames)


def documents_as_avi_media(docs: DataFrame) -> DataFrame:
    """Synthetic video corpus over the documents table: one real AVI
    payload per doc (see :func:`synth_avi_payload`), decodable through
    the production RIFF codec and byte-for-byte SQL-re-derivable."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payload = pdf["doc_id"].map(lambda i: synth_avi_payload(int(i)))
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "uri": "mem://avi/" + pdf["doc_id"].astype(str),
                    "media_type": "video",
                    "payload": payload,
                    "n_bytes": payload.map(len),
                }
            )

    return docs.select("doc_id").mapInPandas(batches, MEDIA_SCHEMA)


AVI_FRAME_SCHEMA = (
    "media_id long, frame_idx int, width int, height int, n_bytes long, frame_sum long"
)


def decode_avi_frames(
    media: DataFrame, every_n: int = 1, max_frames: int | None = None
) -> DataFrame:
    """REAL video frame extraction (1 row -> N rows): parse the RIFF
    container, take every ``every_n``-th '00db' frame up to
    ``max_frames``, and emit per-frame metadata + the pixel byte sum
    (the integrity signal an oracle can re-derive). Undecodable
    payloads yield zero rows (tag-don't-kill happens upstream on the
    metadata path). Arrow-batched mapInPandas; numpy does the byte
    summation."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {
                "media_id": [],
                "frame_idx": [],
                "width": [],
                "height": [],
                "n_bytes": [],
                "frame_sum": [],
            }
            for mid, b in zip(pdf["media_id"], pdf["payload"]):
                try:
                    w, h, frames = decode_avi(bytes(b or b""))
                except ValueError:
                    continue
                picked = frames[:: max(every_n, 1)]
                if max_frames is not None:
                    picked = picked[:max_frames]
                for k, fr in enumerate(picked):
                    out["media_id"].append(mid)
                    out["frame_idx"].append(k * max(every_n, 1))
                    out["width"].append(w)
                    out["height"].append(h)
                    out["n_bytes"].append(len(fr))
                    out["frame_sum"].append(
                        int(np.frombuffer(fr, dtype=np.uint8).sum())
                    )
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(out["media_id"], dtype="int64"),
                    "frame_idx": pd.Series(out["frame_idx"], dtype="int32"),
                    "width": pd.Series(out["width"], dtype="int32"),
                    "height": pd.Series(out["height"], dtype="int32"),
                    "n_bytes": pd.Series(out["n_bytes"], dtype="int64"),
                    "frame_sum": pd.Series(out["frame_sum"], dtype="int64"),
                }
            )

    return media.mapInPandas(batches, AVI_FRAME_SCHEMA)


def sample_frames(media: DataFrame, every_n: int = 10, max_frames: int = 4) -> DataFrame:
    """Frame-sampling stage over OPAQUE payloads (video -> frames,
    1 row -> N rows) — the generic byte-window fan-out for formats
    without an in-container codec. For real AVI payloads use
    :func:`decode_avi_frames`, which parses the container and emits
    actual frames."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            payloads = pdf["payload"].map(lambda b: b or b"")
            lens = payloads.map(len).to_numpy(dtype="int64")
            # frames per row, then the whole fan-out as numpy repeats —
            # no per-row Python loop; only the per-frame byte slice (the
            # stand-in for a real per-frame decode) touches objects
            n = np.minimum(max_frames, np.maximum(1, lens // max(every_n, 1)))
            idx = (
                np.concatenate([np.arange(k) for k in n])
                if len(n)
                else np.array([], dtype="int64")
            )
            rep_payloads = np.repeat(payloads.to_numpy(dtype=object), n)
            frames = [
                p[i * every_n : (i + 1) * every_n] for p, i in zip(rep_payloads, idx)
            ]
            yield pd.DataFrame(
                {
                    "media_id": np.repeat(pdf["media_id"].to_numpy(), n),
                    "frame_idx": idx.astype("int32"),
                    "frame_bytes": frames,
                }
            )

    return media.mapInPandas(batches, FRAME_SAMPLE_SCHEMA)
