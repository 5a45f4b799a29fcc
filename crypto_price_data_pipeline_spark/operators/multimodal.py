"""Multimodal column plumbing ([EXT], SURVEY.md §2.11).

Images / audio / video ride through the engine as opaque ``binary``
columns plus a typed metadata struct — the lakehouse-standard encoding
(parquet BYTE_ARRAY pages, no row-group bloat because binary columns
are column-pruned unless selected).

The Spark-side plumbing here is real and tested: schema, Arrow-batched
UDF signatures over ``mapInPandas``, batch shapes, and a deterministic
byte-histogram feature extractor (computable without media libraries).
Codecs: PNG and WAV decode are REAL — stdlib implementations
(:func:`png_decode`: zlib+struct, 8-bit non-interlaced gray/RGB/RGBA,
all five scanline filters; :func:`wav_decode`: struct-only RIFF
chunk walker, 16-bit PCM any channel count) wired behind
``decode_image(codec="png")`` / ``decode_audio(codec="wav")`` and
each verified value-exact by an oracled roundtrip query
(q_png_decode, q_wav_decode). r13 adds a REAL compressed-image codec:
baseline sequential JPEG in pure numpy (``operators/jpeg.py`` —
DCT/quant/Huffman encoder + generic-DHT decoder, grayscale and YCbCr
4:4:4) behind ``decode_image(codec="jpeg")``, verified by the
in-plan-bounded roundtrip query q_jpeg_decode (lossy, so the oracle
pins dims + an err≤16 gate instead of value equality) — and a REAL
compressed-audio codec: FLAC in pure Python (``operators/flac.py`` —
rice-coded fixed-predictor subframes, CRC-8/16 validated) behind
``decode_audio(codec="flac")``, lossless and therefore oracled
value-exact (q_flac_decode, the q_wav_decode pattern). Full image
libraries (``codec="pil"``: progressive/subsampled JPEG, WebP, …),
lossy audio (mp3/opus), FLAC's LPC/mid-side surface and video
containers (``codec="ffmpeg"``) remain gated behind
``NotImplementedError`` — this container has no media libs — with
the mapInPandas plumbing codec-agnostic.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def documents_as_media(documents: DataFrame) -> DataFrame:
    """Deterministic fake media table: each document's UTF-8 bytes as the
    binary payload (stands in for image bytes; every downstream op is
    payload-agnostic)."""
    payload = F.encode(F.col("text"), "UTF-8")
    return documents.select(
        F.col("doc_id").alias("media_id"),
        payload.alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


FEATURE_SCHEMA = "media_id long, n_bytes long, byte_hist array<long>"


def byte_histogram_features(media: DataFrame, bins: int = 16) -> DataFrame:
    """Arrow-batched feature extraction over ``mapInPandas``: a
    ``bins``-bucket histogram of payload byte values. This is the real
    production shape for decode/resize/frame-sample UDFs — per-batch
    pandas in/out, no per-row Python — with a decode step any media lib
    can slot into."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        width = 256 // bins
        for pdf in batches:
            hists = [
                [0] * bins
                if b is None
                else [
                    sum(1 for x in b if lo <= x < lo + width)
                    for lo in range(0, 256, width)
                ]
                for b in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": [0 if b is None else len(b) for b in pdf["payload"]],
                    "byte_hist": hists,
                }
            )

    return media.mapInPandas(extract, FEATURE_SCHEMA)


DECODED_SCHEMA = "media_id long, width int, height int, pixels array<array<int>>"


# ----------------------------- stdlib PNG codec (no external libs) --


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def png_encode_gray(data: bytes, width: int, filter_type: int = 0) -> bytes:
    """Minimal deterministic PNG writer: 8-bit grayscale, non-interlaced,
    one zlib-compressed IDAT, every scanline carrying ``filter_type``
    (0..4 — non-zero types exist so tests can exercise the decoder's
    filter reversal). ``len(data)`` must be a multiple of ``width``.
    Pure zlib + struct — the encoder the oracle-backed PNG query uses
    to build ground-truth images from document bytes."""
    import struct
    import zlib

    if filter_type not in (0, 1, 2, 3, 4):
        raise ValueError("PNG filter type must be 0..4")
    if len(data) % width:
        raise ValueError("data length must be a multiple of width")
    height = len(data) // width
    lines = []
    prev = bytes(width)
    for r in range(height):
        cur = data[r * width:(r + 1) * width]
        if filter_type == 0:
            filt = cur
        elif filter_type == 1:  # Sub
            filt = bytes((cur[i] - (cur[i - 1] if i else 0)) & 0xFF for i in range(width))
        elif filter_type == 2:  # Up
            filt = bytes((cur[i] - prev[i]) & 0xFF for i in range(width))
        elif filter_type == 3:  # Average
            filt = bytes(
                (cur[i] - (((cur[i - 1] if i else 0) + prev[i]) >> 1)) & 0xFF
                for i in range(width)
            )
        else:  # Paeth
            filt = bytes(
                (cur[i] - _paeth(cur[i - 1] if i else 0, prev[i], prev[i - 1] if i else 0)) & 0xFF
                for i in range(width)
            )
        lines.append(bytes([filter_type]) + filt)
        prev = cur

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"".join(lines), 9))
        + chunk(b"IEND", b"")
    )


def png_decode(payload: bytes) -> tuple[int, int, list[list[int]]]:
    """Stdlib PNG decoder (zlib + struct): 8-bit non-interlaced
    grayscale / RGB / RGBA, all five scanline filters (None, Sub, Up,
    Average, Paeth). Returns (width, height, pixels[row][col]) where a
    pixel is the gray value for grayscale and the packed 24-bit
    0xRRGGBB for RGB/RGBA (alpha participates in filter reversal but
    is dropped from the packed value — the pixel schema is int32).
    Raises ValueError on non-PNG bytes and NotImplementedError for
    the unsupported corners (interlaced, palette, 16-bit)."""
    import struct
    import zlib

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG: bad signature")
    pos, idat, ihdr = 8, b"", None
    while pos < len(payload):
        (length,) = struct.unpack(">I", payload[pos:pos + 4])
        tag = payload[pos + 4:pos + 8]
        body = payload[pos + 8:pos + 8 + length]
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("not a PNG: missing IHDR")
    width, height, depth, color, _comp, _filt, interlace = ihdr
    if depth != 8 or interlace != 0 or color not in (0, 2, 6):
        raise NotImplementedError(
            f"PNG depth={depth} color={color} interlace={interlace} unsupported "
            "(8-bit non-interlaced gray/RGB/RGBA only)"
        )
    bpp = {0: 1, 2: 3, 6: 4}[color]
    raw = zlib.decompress(idat)
    stride = width * bpp
    prev = bytearray(stride)
    pixels: list[list[int]] = []
    for r in range(height):
        ft = raw[r * (stride + 1)]
        line = bytearray(raw[r * (stride + 1) + 1:(r + 1) * (stride + 1)])
        if ft == 1:
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ft == 2:
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ft == 3:
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                ul = prev[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + _paeth(left, prev[i], ul)) & 0xFF
        elif ft != 0:
            raise ValueError(f"bad PNG filter type {ft}")
        if color == 0:
            pixels.append(list(line))
        else:
            pixels.append(
                [
                    (line[c * bpp] << 16) | (line[c * bpp + 1] << 8) | line[c * bpp + 2]
                    for c in range(width)
                ]
            )
        prev = line
    return width, height, pixels


def _fake_image_decode(payload: bytes, width: int = 8) -> tuple[int, int, list[list[int]]]:
    """Deterministic stand-in decoder: payload bytes laid out row-major
    as a ``width``-wide grayscale image (last row zero-padded). Replace
    with PIL/libvips in environments that have them — the mapInPandas
    plumbing below is codec-agnostic."""
    n = len(payload)
    height = max(1, -(-n // width))
    padded = payload + b"\x00" * (width * height - n)
    return width, height, [
        list(padded[r * width:(r + 1) * width]) for r in range(height)
    ]


def _tolerant(decode, on_error: str, op: str):
    """Per-row error policy for the real-codec decode operators (r10
    ADVICE): ``on_error="raise"`` keeps the strict contract (one
    undecodable payload fails the job — right for oracle-pinned
    corpora you control); ``on_error="skip"`` catches the decoder's
    ValueError/NotImplementedError per ROW and drops that row, the
    policy a 100-TB crawl pipeline actually wants (a handful of
    corrupt blobs must not kill a stage). Unexpected exception types
    still propagate — "skip" never hides a decoder bug."""
    if on_error == "raise":
        return decode
    if on_error != "skip":
        raise ValueError(f"{op}: on_error must be 'raise' or 'skip', got {on_error!r}")

    def wrapped(payload):
        try:
            return decode(payload)
        except (ValueError, NotImplementedError):
            return None

    return wrapped


def decode_image(
    media: DataFrame, codec: str = "fake", width: int = 8, on_error: str = "raise"
) -> DataFrame:
    """payload → grayscale pixel tensor rows via Arrow-batched
    ``mapInPandas`` (the real production shape: per-batch pandas in/out,
    one Python worker per input partition, no per-row overhead).

    ``codec="fake"`` uses the deterministic byte-layout decoder above;
    ``codec="png"`` decodes real PNG payloads with the stdlib
    :func:`png_decode` (8-bit non-interlaced gray/RGB/RGBA, all five
    filters); ``codec="jpeg"`` decodes real baseline-sequential JPEGs
    with the pure-numpy :func:`operators.jpeg.jpeg_decode` (r13 —
    grayscale / YCbCr 4:4:4, generic DHT reader; progressive /
    subsampled raise the documented NotImplementedError);
    ``codec="pil"`` remains the slot for a full image library
    (absent in this container → NotImplementedError).
    ``on_error``: see :func:`_tolerant` — "skip" drops undecodable
    rows instead of failing the job."""
    if codec == "fake":
        def _decode(payload: bytes) -> tuple[int, int, list[list[int]]]:
            return _fake_image_decode(payload, width)
    elif codec == "png":
        _decode = png_decode
    elif codec == "jpeg":
        from .jpeg import jpeg_decode

        _decode = jpeg_decode
    else:
        raise NotImplementedError(
            f"image codec {codec!r} not available in this environment; "
            "plug a PIL/libvips decoder into the extract closure"
        )
    _decode = _tolerant(_decode, on_error, "decode_image")

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "width": [], "height": [], "pixels": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                res = _decode(b"" if payload is None else bytes(payload))
                if res is None:
                    continue
                w, h, px = res
                out["media_id"].append(mid)
                out["width"].append(w)
                out["height"].append(h)
                out["pixels"].append(px)
            if out["media_id"]:
                # an all-skipped batch would yield empty float64
                # pandas columns Arrow can't cast to the nested types
                yield pd.DataFrame(out)

    return media.mapInPandas(extract, DECODED_SCHEMA)


def resize_image(decoded: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize of decoded pixel tensors — pure pandas
    math inside mapInPandas, deterministic, codec-independent."""

    def resample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_px = []
            for w, h, px in zip(pdf["width"], pdf["height"], pdf["pixels"]):
                rows = [
                    [
                        int(px[min(h - 1, (r * h) // out_h)][min(w - 1, (c * w) // out_w)])
                        for c in range(out_w)
                    ]
                    for r in range(out_h)
                ]
                out_px.append(rows)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": [out_w] * len(pdf),
                    "height": [out_h] * len(pdf),
                    "pixels": out_px,
                }
            )

    return decoded.mapInPandas(resample, DECODED_SCHEMA)


# ------------------------- stdlib WAV codec (no external libs) -----


def wav_encode_pcm16(
    samples: list[int], sample_rate: int = 16_000, n_channels: int = 1
) -> bytes:
    """Minimal deterministic WAV writer: RIFF/WAVE with one fmt and one
    data chunk, 16-bit little-endian PCM. ``samples`` are interleaved
    int16 values (frame-major for multi-channel); length must be a
    multiple of ``n_channels``. Pure struct — the encoder the
    oracle-backed WAV query uses to build ground-truth audio from
    document bytes."""
    import struct

    if len(samples) % n_channels:
        raise ValueError("sample count must be a multiple of n_channels")
    data = struct.pack(f"<{len(samples)}h", *samples)
    byte_rate = sample_rate * n_channels * 2
    fmt = struct.pack(
        "<HHIIHH", 1, n_channels, sample_rate, byte_rate, n_channels * 2, 16
    )
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def wav_decode(payload: bytes) -> tuple[int, int, list[int]]:
    """Stdlib WAV decoder (struct only): RIFF/WAVE, 16-bit PCM
    (format tag 1), any channel count, chunk-walking (extra chunks
    like LIST/cue are skipped). Returns (sample_rate, n_channels,
    interleaved int16 samples). Raises ValueError on non-WAV bytes and
    NotImplementedError for non-PCM16 encodings (float, ADPCM, 8/24/
    32-bit) — the full-codec slot stays gated like image's 'pil'."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV: bad RIFF/WAVE header")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        tag = payload[pos:pos + 4]
        (length,) = struct.unpack("<I", payload[pos + 4:pos + 8])
        body = payload[pos + 8:pos + 8 + length]
        if len(body) < length:
            # a declared chunk length past the payload end is
            # corruption — flag it instead of silently truncating
            # the decoded audio (r10 ADVICE)
            raise ValueError(
                f"corrupt WAV: chunk {tag!r} declares {length} bytes "
                f"but only {len(body)} remain"
            )
        if tag == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif tag == b"data":
            data = body
        pos += 8 + length + (length & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("not a WAV: missing fmt/data chunk")
    audio_format, n_channels, sample_rate, _rate, _align, bits = fmt
    if audio_format != 1 or bits != 16:
        raise NotImplementedError(
            f"WAV format tag {audio_format} / {bits}-bit unsupported "
            "(16-bit PCM only)"
        )
    n = len(data) // 2
    return sample_rate, n_channels, list(struct.unpack(f"<{n}h", data[: n * 2]))


DECODED_AUDIO_SCHEMA = (
    "media_id long, sample_rate int, n_channels int, samples array<int>"
)


def decode_audio(
    media: DataFrame, codec: str = "wav", on_error: str = "raise"
) -> DataFrame:
    """payload → PCM sample rows via Arrow-batched ``mapInPandas`` —
    the audio twin of :func:`decode_image`. ``codec="wav"`` uses the
    stdlib :func:`wav_decode`; ``codec="flac"`` decodes real
    COMPRESSED (lossless) streams with the pure-Python
    :func:`operators.flac.flac_decode` (r13 — constant/verbatim/fixed
    subframes, rice residuals, CRC-validated; LPC and mid/side raise
    the documented NotImplementedError); other codecs (mp3/opus)
    stay gated until a real audio library is present. ``on_error``:
    see :func:`_tolerant`."""
    if codec == "wav":
        _dec = wav_decode
    elif codec == "flac":
        from .flac import flac_decode

        _dec = flac_decode
    else:
        raise NotImplementedError(
            f"audio codec {codec!r} not available in this environment; "
            "plug a soundfile/ffmpeg decoder into the extract closure"
        )
    _decode = _tolerant(_dec, on_error, "decode_audio")

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "sample_rate": [], "n_channels": [], "samples": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                res = _decode(b"" if payload is None else bytes(payload))
                if res is None:
                    continue
                rate, ch, samples = res
                out["media_id"].append(mid)
                out["sample_rate"].append(rate)
                out["n_channels"].append(ch)
                out["samples"].append(samples)
            if out["media_id"]:
                yield pd.DataFrame(out)

    return media.mapInPandas(extract, DECODED_AUDIO_SCHEMA)


# --------------------- stdlib Y4M video container (no external libs)


def y4m_encode(
    frames: list[bytes],
    width: int,
    height: int,
    colorspace: str = "mono",
    fps: str = "25:1",
) -> bytes:
    """Minimal deterministic YUV4MPEG2 writer — the raw-video
    interchange container of the ffmpeg/x264 toolchains, and simple
    enough to emit with no libraries: one text header, then
    ``FRAME\\n`` + raw planes per frame. ``colorspace`` "mono" (frame =
    W·H luma bytes) or "420" (+ two quarter-size chroma planes)."""
    if colorspace == "mono":
        flen, ctag = width * height, "Cmono"
    elif colorspace == "420":
        flen, ctag = width * height * 3 // 2, "C420"
    else:
        raise ValueError("colorspace must be 'mono' or '420'")
    for f in frames:
        if len(f) != flen:
            raise ValueError(f"frame length {len(f)} != {flen} for {ctag}")
    header = f"YUV4MPEG2 W{width} H{height} F{fps} Ip A1:1 {ctag}\n".encode()
    return header + b"".join(b"FRAME\n" + f for f in frames)


def y4m_decode(payload: bytes) -> tuple[int, int, str, list[bytes]]:
    """Stdlib YUV4MPEG2 parser: header tags W/H/C (F/I/A accepted and
    ignored), then fixed-size frames, each introduced by a ``FRAME``
    line (per-frame parameters after ``FRAME`` are tolerated). Returns
    (width, height, colorspace, luma_planes) — for C420 the chroma
    planes are parsed (frame stride honors them) but only the W·H luma
    plane is returned, which is what downstream grayscale feature
    extractors consume. Raises ValueError on non-Y4M bytes and
    NotImplementedError for colorspaces other than mono/420 (the
    compressed-video slot stays gated like image's 'pil')."""
    nl = payload.find(b"\n")
    if nl < 0 or not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a Y4M stream: bad signature")
    width = height = None
    colorspace = "420"  # the Y4M default when no C tag is present
    for tag in payload[:nl].decode("ascii", "replace").split()[1:]:
        if tag.startswith("W"):
            width = int(tag[1:])
        elif tag.startswith("H"):
            height = int(tag[1:])
        elif tag.startswith("C"):
            colorspace = tag[1:]
    if not width or not height:
        raise ValueError("not a Y4M stream: missing W/H")
    if colorspace.startswith("420"):
        colorspace, flen = "420", width * height * 3 // 2
    elif colorspace == "mono":
        flen = width * height
    else:
        raise NotImplementedError(f"Y4M colorspace {colorspace!r} unsupported")
    frames, pos = [], nl + 1
    while pos < len(payload):
        fnl = payload.find(b"\n", pos)
        if fnl < 0 or payload[pos:pos + 5] != b"FRAME":
            raise ValueError("corrupt Y4M stream: missing FRAME marker")
        data = payload[fnl + 1:fnl + 1 + flen]
        if len(data) != flen:
            raise ValueError("corrupt Y4M stream: truncated frame")
        frames.append(data[: width * height])  # luma plane
        pos = fnl + 1 + flen
    return width, height, colorspace, frames


VIDEO_FRAME_SCHEMA = (
    "media_id long, frame_idx int, width int, height int, frame binary"
)


def sample_video_frames(
    media: DataFrame, every_n: int = 2, codec: str = "y4m", on_error: str = "raise"
) -> DataFrame:
    """Real-container frame sampling: parse each payload as Y4M and
    emit every ``every_n``-th frame's luma plane — the video twin of
    :func:`decode_image`/:func:`decode_audio` (per-batch explode
    inside mapInPandas, like :func:`sample_frames`). ``codec="y4m"``
    parses the raw YUV4MPEG2 container; ``codec="mjpeg"`` parses real
    COMPRESSED Motion-JPEG AVI files (r13 —
    :func:`operators.mjpeg.avi_mjpeg_decode`, every frame a baseline
    JPEG bitstream inside a RIFF container); other compressed
    containers (mp4/webm → ``"ffmpeg"``) stay gated.
    ``on_error``: see :func:`_tolerant`."""
    if codec == "y4m":
        _dec = y4m_decode
    elif codec == "mjpeg":
        from .mjpeg import avi_mjpeg_decode

        _dec = avi_mjpeg_decode
    else:
        raise NotImplementedError(
            f"video codec {codec!r} not available in this environment"
        )
    _decode = _tolerant(_dec, on_error, "sample_video_frames")

    def explode_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "width": [], "height": [], "frame": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                res = _decode(b"" if payload is None else bytes(payload))
                if res is None:
                    continue
                w, h, _cs, frames = res
                for idx in range(0, len(frames), every_n):
                    out["media_id"].append(mid)
                    out["frame_idx"].append(idx)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["frame"].append(frames[idx])
            if out["media_id"]:
                yield pd.DataFrame(out)

    return media.mapInPandas(explode_frames, VIDEO_FRAME_SCHEMA)


FRAME_SCHEMA = "media_id long, frame_idx int, frame_len int, frame binary"


def sample_frames(
    media: DataFrame, every_n: int = 4, frame_size: int = 64, codec: str = "fake"
) -> DataFrame:
    """Video frame sampling: payload → one row per sampled frame
    (per-batch explode inside mapInPandas — output rows ≠ input rows,
    which is exactly why this is mapInPandas and not a scalar UDF).

    The fake codec treats the payload as a stream of ``frame_size``-byte
    frames and keeps every ``every_n``-th; a real container parser slots
    into the same closure (``codec="ffmpeg"`` → NotImplementedError
    here)."""
    if codec != "fake":
        raise NotImplementedError(
            f"video codec {codec!r} not available in this environment"
        )

    def explode_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "frame_len": [], "frame": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                buf = b"" if payload is None else bytes(payload)
                n_frames = max(1, -(-len(buf) // frame_size))
                for idx in range(0, n_frames, every_n):
                    frame = buf[idx * frame_size:(idx + 1) * frame_size]
                    out["media_id"].append(mid)
                    out["frame_idx"].append(idx)
                    out["frame_len"].append(len(frame))
                    out["frame"].append(frame)
            yield pd.DataFrame(out)

    return media.mapInPandas(explode_frames, FRAME_SCHEMA)
