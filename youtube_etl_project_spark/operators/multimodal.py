"""Multimodal column convention + Arrow-batched processing (SURVEY §2b X5).

Convention: an opaque ``payload binary`` column plus a typed ``meta`` struct
(kind/mime/n_bytes/checksum — schemas.MULTIMODAL_META_SCHEMA). Parquet
stores binaries natively; the metadata struct prunes independently, so
queries that never touch bytes never read them (column pruning does the
heavy lifting at 100 TB — a metadata-only scan reads ~1% of the data).

Decode / feature-extraction runs as Arrow-batched ``mapInPandas``.
``_decode_image_bytes`` REALLY parses the container formats whose layout
is pure structure — BMP, PNG, GIF (frame-counted by block walk), WAV —
with stdlib ``struct``/``wave`` only (tests/test_multimodal_decode.py
feeds it genuine files built byte-by-byte). ``decode_pixels`` goes
further and decodes REAL PIXELS: PPM (P6), 24-bpp BMP (padding + both
row directions), and 8-bit non-interlaced PNG (zlib inflate + full
filter 0-4 reconstruction) — stdlib + numpy only. Compressed codecs the
container has no libraries for (JPEG entropy decode, MP4/H.264) fall to a
deterministic fake derived from payload size, clearly marked; a real
deployment swaps only that fallback for PIL/ffmpeg.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODE_SCHEMA = "doc_id long, width int, height int, n_frames int"


def attach_payload(df: DataFrame, text_col: str, kind: str = "image") -> DataFrame:
    """Wrap a source column as the multimodal (payload, meta) pair. In a real
    ingest the payload bytes come from the object store; here the fixture
    text stands in as the byte source."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.withColumn("payload", payload).withColumn(
        "meta",
        F.struct(
            F.lit(kind).alias("kind"),
            F.lit(f"{kind}/fake").alias("mime"),
            F.length(payload).cast("long").alias("n_bytes"),
            F.md5(payload).alias("checksum"),
        ),
    )


def _decode_image_bytes(buf: bytes) -> tuple[int, int, int]:
    """(width, height, n_frames) from real container parsing where the
    format is structural, deterministic fake otherwise.

    * PNG  — IHDR width/height (bytes 16..24, big-endian).
    * BMP  — BITMAPINFOHEADER width/height (offset 18, little-endian;
             height may be negative = top-down → abs).
    * GIF  — logical-screen dims (offset 6, little-endian) + frame count
             by walking the block structure (image descriptors 0x2C,
             skipping extensions and sub-block chains) — animated GIFs
             report their true frame count.
    * WAV  — RIFF/WAVE: width/height 0, n_frames = sample frames from the
             fmt/data chunks (stdlib-grade parse, no audio lib).
    * anything else (JPEG/MP4/... — entropy-coded, needs PIL/ffmpeg which
      this container lacks) — deterministic fake from payload size, so
      pipelines and oracles stay testable; swap THIS branch in a real
      deployment.
    """
    if buf[:8] == b"\x89PNG\r\n\x1a\n" and len(buf) >= 24:
        w, h = struct.unpack(">II", buf[16:24])
        return int(w), int(h), 1
    if buf[:2] == b"BM" and len(buf) >= 26:
        w, h = struct.unpack("<ii", buf[18:26])
        return int(w), abs(int(h)), 1
    if buf[:6] in (b"GIF87a", b"GIF89a") and len(buf) >= 10:
        w, h = struct.unpack("<HH", buf[6:10])
        return int(w), int(h), _gif_frame_count(buf)
    if buf[:4] == b"RIFF" and buf[8:12] == b"WAVE":
        return 0, 0, _wav_frame_count(buf)
    n = len(buf)
    return n % 640 + 1, (n * 7) % 480 + 1, n % 30 + 1


def _gif_frame_count(buf: bytes) -> int:
    """Count image descriptors by walking GIF blocks (real parse, not a
    0x2C byte scan — pixel data is sub-block framed, so scanning would
    over-count)."""
    i = 10
    # skip global color table if flagged
    packed = buf[10]
    i = 13 + (3 * (2 << (packed & 0x07)) if packed & 0x80 else 0)
    frames = 0
    n = len(buf)
    while i < n:
        b = buf[i]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label + sub-blocks
            i += 2
            while i < n and buf[i] != 0:
                i += 1 + buf[i]
            i += 1
        elif b == 0x2C:  # image descriptor
            frames += 1
            if i + 10 > n:
                break
            lpacked = buf[i + 9]
            i += 10 + (3 * (2 << (lpacked & 0x07)) if lpacked & 0x80 else 0)
            i += 1  # LZW min code size
            while i < n and buf[i] != 0:
                i += 1 + buf[i]
            i += 1
        else:  # corrupt — stop at what we counted
            break
    return max(frames, 1)


def _wav_frame_count(buf: bytes) -> int:
    """Sample frames = data-chunk bytes / block align, from the RIFF chunk
    walk (the same arithmetic the stdlib ``wave`` module does)."""
    i, n = 12, len(buf)
    block_align, data_size = 0, 0
    while i + 8 <= n:
        cid = buf[i : i + 4]
        size = struct.unpack("<I", buf[i + 4 : i + 8])[0]
        if cid == b"fmt " and i + 24 <= n:
            block_align = struct.unpack("<H", buf[i + 20 : i + 22])[0]
        elif cid == b"data":
            data_size = size
        i += 8 + size + (size & 1)  # chunks are word-aligned
    return data_size // block_align if block_align else 0


def encode_ppm(width: int, height: int, pix: bytes) -> bytes:
    """Binary PPM (P6), 8-bit RGB: the simplest real raster container."""
    assert len(pix) == width * height * 3
    return b"P6\n%d %d\n255\n" % (width, height) + pix


def encode_bmp(width: int, height: int, pix: bytes) -> bytes:
    """24-bpp uncompressed BMP (BITMAPINFOHEADER), bottom-up rows padded
    to 4 bytes, BGR byte order — the layout every real BMP writer emits."""
    assert len(pix) == width * height * 3
    row_out = (width * 3 + 3) & ~3
    body = bytearray()
    for y in range(height - 1, -1, -1):  # bottom-up
        row = bytearray()
        for x in range(width):
            r, g, b = pix[(y * width + x) * 3 : (y * width + x) * 3 + 3]
            row += bytes((b, g, r))  # BGR
        row += b"\x00" * (row_out - len(row))
        body += row
    off = 14 + 40
    header = (
        b"BM"
        + struct.pack("<IHHI", off + len(body), 0, 0, off)
        + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                      len(body), 2835, 2835, 0, 0)
    )
    return bytes(header) + bytes(body)


def encode_png(width: int, height: int, pix: bytes) -> bytes:
    """8-bit RGB non-interlaced PNG (filter 0 rows, one IDAT) via stdlib
    zlib — a real, spec-conformant PNG any viewer opens."""
    import zlib

    def chunk(tag: bytes, data: bytes) -> bytes:
        raw = tag + data
        return struct.pack(">I", len(data)) + raw + struct.pack(
            ">I", zlib.crc32(raw) & 0xFFFFFFFF
        )

    assert len(pix) == width * height * 3
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    stride = width * 3
    scan = b"".join(
        b"\x00" + pix[y * stride : (y + 1) * stride] for y in range(height)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scan))
        + chunk(b"IEND", b"")
    )


def _png_unfilter(raw: bytes, width: int, height: int, bpp: int):
    """Undo PNG per-row filters 0-4 (None/Sub/Up/Average/Paeth) over the
    decompressed scanline stream. Returns an (h, w*bpp) uint8 array."""
    import numpy as np

    stride = width * bpp
    out = np.zeros((height, stride), dtype=np.uint8)
    pos = 0
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        ftype = raw[pos]
        row = np.frombuffer(raw, np.uint8, stride, pos + 1).copy()
        pos += 1 + stride
        if ftype == 1:  # Sub
            for i in range(bpp, stride):
                row[i] = (int(row[i]) + int(row[i - bpp])) & 0xFF
        elif ftype == 2:  # Up
            row = (row.astype(np.int32) + prev) % 256
            row = row.astype(np.uint8)
        elif ftype == 3:  # Average
            for i in range(stride):
                left = int(row[i - bpp]) if i >= bpp else 0
                row[i] = (row[i] + (left + int(prev[i])) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = int(row[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        out[y] = row
        prev = out[y]
    return out


def decode_pixels(buf: bytes):
    """REAL pixel decode → (h, w, 3) uint8 RGB numpy array, or None if the
    payload is not a supported raster.

    * PPM (P6)  — token-parsed header (comments allowed) + raw RGB.
    * BMP       — 24-bpp uncompressed BITMAPINFOHEADER: honors the pixel
                  data offset, 4-byte row padding, BGR order, and both
                  bottom-up (h>0) and top-down (h<0) row directions.
    * PNG       — 8-bit non-interlaced gray/RGB/RGBA: chunk walk, zlib
                  inflate of concatenated IDATs, full filter 0-4
                  reconstruction (``_png_unfilter``); gray replicates to
                  RGB, RGBA drops alpha.

    stdlib ``struct``/``zlib`` + numpy only — no image libraries.
    """
    import numpy as np

    try:
        if buf[:2] == b"P6":
            toks, i, n = [], 2, len(buf)
            while len(toks) < 3 and i < n:
                while i < n and buf[i : i + 1].isspace():
                    i += 1
                if buf[i : i + 1] == b"#":  # comment to EOL
                    while i < n and buf[i] != 0x0A:
                        i += 1
                    continue
                j = i
                while j < n and not buf[j : j + 1].isspace():
                    j += 1
                toks.append(int(buf[i:j]))
                i = j
            i += 1  # single whitespace after maxval
            w, h, maxval = toks
            if maxval != 255:
                return None
            pix = np.frombuffer(buf, np.uint8, w * h * 3, i)
            return pix.reshape(h, w, 3).copy()
        if buf[:2] == b"BM":
            off = struct.unpack("<I", buf[10:14])[0]
            w, h = struct.unpack("<ii", buf[18:26])
            bpp, comp = struct.unpack("<HI", buf[28:34])
            if bpp != 24 or comp != 0:
                return None
            top_down, h = h < 0, abs(h)
            stride = (w * 3 + 3) & ~3
            rows = np.frombuffer(buf, np.uint8, stride * h, off).reshape(
                h, stride
            )[:, : w * 3].reshape(h, w, 3)
            if not top_down:
                rows = rows[::-1]
            return rows[:, :, ::-1].copy()  # BGR → RGB
        if buf[:8] == b"\x89PNG\r\n\x1a\n":
            import zlib

            i, n = 8, len(buf)
            w = h = depth = ctype = interlace = None
            idat = bytearray()
            while i + 8 <= n:
                ln = struct.unpack(">I", buf[i : i + 4])[0]
                tag = buf[i + 4 : i + 8]
                data = buf[i + 8 : i + 8 + ln]
                if tag == b"IHDR":
                    w, h, depth, ctype, _, _, interlace = struct.unpack(
                        ">IIBBBBB", data
                    )
                elif tag == b"IDAT":
                    idat += data
                elif tag == b"IEND":
                    break
                i += 12 + ln
            if depth != 8 or interlace != 0 or ctype not in (0, 2, 6):
                return None
            bpp = {0: 1, 2: 3, 6: 4}[ctype]
            flat = _png_unfilter(zlib.decompress(bytes(idat)), w, h, bpp)
            img = flat.reshape(h, w, bpp)
            if ctype == 0:
                img = np.repeat(img, 3, axis=2)
            elif ctype == 6:
                img = img[:, :, :3]
            return img.copy()
    except Exception:
        return None
    return None


def synthesize_image(doc_id: int) -> bytes:
    """Deterministic raster keyed by doc id: ``w = 8 + id%7``,
    ``h = 4 + id%5``, pixel byte ``i = (id*31 + i) % 256``, container
    rotating ppm/bmp/png by ``id % 3`` — every real decoder gets
    exercised, and the pixel formula is SQL-expressible, so the
    registered query has a TRUE DuckDB oracle through the whole
    construct → container-encode → pixel-decode → aggregate path."""
    w, h = 8 + doc_id % 7, 4 + doc_id % 5
    pix = bytes((doc_id * 31 + i) % 256 for i in range(w * h * 3))
    return (encode_ppm, encode_bmp, encode_png)[doc_id % 3](w, h, pix)


def synth_image_udf():
    """Arrow-vectorized ``doc_id → synthesize_image(doc_id)`` payload
    builder (binary column) for the registered pixel-stats query."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def synth(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: synthesize_image(int(i)))

    return synth


PIXEL_STATS_SCHEMA = (
    "doc_id long, fmt string, width int, height int, n_pixels long, "
    "mean_r double, mean_g double, mean_b double, pixel_crc32 long"
)


def pixel_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched REAL pixel decode: mapInPandas over (id, payload) →
    per-image channel means + a CRC32 over the canonical (top-down RGB)
    pixel array. Undecodable payloads yield fmt='unknown' with null stats
    — the 100 TB posture is decode-and-score in one pass, quarantining
    failures as rows rather than exceptions."""
    import zlib

    def _fmt(buf: bytes) -> str:
        if buf[:2] == b"P6":
            return "ppm"
        if buf[:2] == b"BM":
            return "bmp"
        if buf[:8] == b"\x89PNG\r\n\x1a\n":
            return "png"
        return "unknown"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            recs = []
            for doc_id, buf in zip(pdf[id_col], pdf["payload"]):
                img = decode_pixels(bytes(buf))
                if img is None:
                    recs.append((int(doc_id), _fmt(bytes(buf)), None, None,
                                 None, None, None, None, None))
                    continue
                h, w = img.shape[:2]
                means = img.reshape(-1, 3).mean(axis=0)
                recs.append(
                    (
                        int(doc_id), _fmt(bytes(buf)), w, h, w * h,
                        round(float(means[0]), 6),
                        round(float(means[1]), 6),
                        round(float(means[2]), 6),
                        zlib.crc32(img.tobytes()) & 0xFFFFFFFF,
                    )
                )
            yield pd.DataFrame(
                recs,
                columns=["doc_id", "fmt", "width", "height", "n_pixels",
                         "mean_r", "mean_g", "mean_b", "pixel_crc32"],
            )

    return df.select(id_col, "payload").mapInPandas(batches, PIXEL_STATS_SCHEMA)


def decode_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched decode: mapInPandas over (id, payload) → per-item
    measurements. Batches arrive as pandas DataFrames (vectorized transfer);
    per-item decode happens inside the batch loop — the correct shape for a
    CPU-bound decode at scale (repartition upstream to spread batches)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            decoded = [_decode_image_bytes(b) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "n_frames": [d[2] for d in decoded],
                }
            )

    # Production note: with a real (CPU-bound) decoder, repartition first
    # (operators.dedup.spread) so batches spread across executors; for the
    # stub the extra payload shuffle costs more than the decode.
    return df.select(id_col, "payload").mapInPandas(batches, DECODE_SCHEMA)


# -- audio: real PCM decode (the WAV twin of decode_pixels) -----------------

def encode_wav(samples, sample_rate: int = 8000, n_channels: int = 1) -> bytes:
    """Spec-conformant PCM16 little-endian WAV (RIFF/WAVE fmt+data)."""
    import numpy as np

    pcm = np.asarray(samples, dtype="<i2").tobytes()
    block_align = 2 * n_channels
    fmt = struct.pack(
        "<HHIIHH", 1, n_channels, sample_rate,
        sample_rate * block_align, block_align, 16,
    )
    body = (
        b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_samples(buf: bytes):
    """REAL PCM decode: RIFF chunk walk → (sample_rate, channels,
    frames × channels int16 array). PCM16 only (the overwhelmingly common
    uncompressed case); anything else returns None and the caller
    quarantines the row. stdlib struct + numpy — no audio library."""
    import numpy as np

    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        return None
    i, n = 12, len(buf)
    rate = channels = bits = 0
    data = None
    while i + 8 <= n:
        cid = buf[i : i + 4]
        size = struct.unpack("<I", buf[i + 4 : i + 8])[0]
        if cid == b"fmt " and i + 8 + 16 <= n:
            audio_fmt, channels, rate = struct.unpack(
                "<HHI", buf[i + 8 : i + 16]
            )
            bits = struct.unpack("<H", buf[i + 22 : i + 24])[0]
            if audio_fmt != 1:
                return None  # compressed — not PCM
        elif cid == b"data":
            data = buf[i + 8 : i + 8 + size]
        i += 8 + size + (size & 1)
    if data is None or bits != 16 or not channels:
        return None
    arr = np.frombuffer(
        data[: len(data) - (len(data) % (2 * channels))], dtype="<i2"
    ).reshape(-1, channels)
    return rate, channels, arr


def synthesize_audio(doc_id: int) -> bytes:
    """Deterministic PCM16 clip keyed by doc id: ``n = 200 + id % 101``
    mono samples at 8 kHz, sample ``i = ((id*37 + i*13) % 4096) - 2048``.
    The formula is SQL-expressible, so the registered audio-stats query
    has a TRUE DuckDB oracle through the encode → decode → aggregate
    path (same proof shape as synthesize_image)."""
    n = 200 + doc_id % 101
    return encode_wav(
        [((doc_id * 37 + i * 13) % 4096) - 2048 for i in range(n)]
    )


def synth_audio_udf():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def synth(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: synthesize_audio(int(i)))

    return synth


AUDIO_STATS_SCHEMA = (
    "doc_id long, sample_rate int, n_samples long, duration_s double, "
    "mean_abs double, rms double, peak long"
)


def audio_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched real PCM decode → per-clip loudness stats (mean |s|,
    RMS, peak, duration). Undecodable/compressed payloads quarantine as
    null-stat rows, same posture as pixel_stats. Integer sums keep both
    engines exact until the final division/sqrt."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            recs = []
            for doc_id, buf in zip(pdf[id_col], pdf["payload"]):
                dec = decode_samples(bytes(buf))
                if dec is None:
                    recs.append(
                        (int(doc_id), None, None, None, None, None, None)
                    )
                    continue
                rate, _, arr = dec
                flat = arr.astype(np.int64).ravel()
                n = len(flat)
                a = np.abs(flat)
                # full precision out — rounding happens in the query
                # with F.round (HALF_UP like the SQL oracle); Python's
                # banker's round() flips dyadic .5 cases (hit when n is a
                # power of two) the other way.
                recs.append(
                    (
                        int(doc_id), rate, n,
                        n / rate,
                        float(a.sum()) / n if n else None,
                        float(np.sqrt(float((flat * flat).sum()) / n))
                        if n else None,
                        int(a.max()) if n else None,
                    )
                )
            yield pd.DataFrame(
                recs,
                columns=["doc_id", "sample_rate", "n_samples", "duration_s",
                         "mean_abs", "rms", "peak"],
            )

    return df.select(id_col, "payload").mapInPandas(batches, AUDIO_STATS_SCHEMA)


AUDIO_FEATURES_SCHEMA = (
    "doc_id long, n_samples long, n_zero_cross long, ac1_num long, "
    "ac1_den long, max_frame_rms double"
)

_FRAME = 50


def audio_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched real PCM decode → time-domain DSP features: zero
    crossings (strict sign flips), lag-1 autocorrelation numerator and
    denominator (emitted as the exact int64 sums so the query forms the
    single deciding division), and the max 50-sample-frame RMS (the
    short-time energy envelope peak). Same decode/quarantine posture as
    ``audio_stats``; everything is linear in samples, so a SQL oracle can
    recompute it from the generating formula with LEAD + GROUP BY."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            recs = []
            for doc_id, buf in zip(pdf[id_col], pdf["payload"]):
                dec = decode_samples(bytes(buf))
                if dec is None:
                    recs.append((int(doc_id), None, None, None, None, None))
                    continue
                _, _, arr = dec
                s = arr.astype(np.int64).ravel()
                n = len(s)
                if n < 2:
                    recs.append((int(doc_id), n, None, None, None, None))
                    continue
                zc = int(((s[:-1] * s[1:]) < 0).sum())
                num = int((s[:-1] * s[1:]).sum())
                den = int((s * s).sum())
                nf = -(-n // _FRAME)
                pad = np.zeros(nf * _FRAME, dtype=np.int64)
                pad[:n] = s * s
                cnt = np.full(nf, _FRAME, dtype=np.int64)
                if n % _FRAME:
                    cnt[-1] = n % _FRAME
                frms = np.sqrt(
                    pad.reshape(nf, _FRAME).sum(axis=1) / cnt
                )
                recs.append(
                    (int(doc_id), n, zc, num, den, float(frms.max()))
                )
            yield pd.DataFrame(
                recs,
                columns=["doc_id", "n_samples", "n_zero_cross",
                         "ac1_num", "ac1_den", "max_frame_rms"],
            )

    return df.select(id_col, "payload").mapInPandas(
        batches, AUDIO_FEATURES_SCHEMA
    )


AHASH_SCHEMA = "doc_id long, width int, height int, ahash string, n_set long"

_AH_COLS, _AH_ROWS = 8, 4


def image_ahash(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched perceptual average-hash through the real decoders:
    each pixel's channel-sum maps to an 8×4 grid cell (cell = (y·4//h)·8
    + x·8//w — every cell is hit for any w ≥ 8, h ≥ 4, so the hash is
    always exactly 32 bits), and a cell's bit is set iff its mean gray
    exceeds the image mean. The threshold compares exact integers
    (cell_sum·n_total > total_sum·n_cell) — no float mean, so a SQL
    oracle reproduces every bit. Near-identical images differ in a few
    bits (Hamming), the image twin of SimHash for dedup blocking."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            recs = []
            for doc_id, buf in zip(pdf[id_col], pdf["payload"]):
                img = decode_pixels(bytes(buf))
                if img is None:
                    recs.append((int(doc_id), None, None, None, None))
                    continue
                h, w = img.shape[:2]
                gray = img.astype(np.int64).sum(axis=2)  # h × w
                ys, xs = np.mgrid[0:h, 0:w]
                cells = (ys * _AH_ROWS // h) * _AH_COLS + (xs * _AH_COLS // w)
                csum = np.bincount(
                    cells.ravel(), weights=gray.ravel(),
                    minlength=_AH_COLS * _AH_ROWS,
                ).astype(np.int64)
                cnt = np.bincount(
                    cells.ravel(), minlength=_AH_COLS * _AH_ROWS
                ).astype(np.int64)
                total, n = int(gray.sum()), int(h * w)
                bits = (csum * n) > (total * cnt)
                recs.append(
                    (
                        int(doc_id), int(w), int(h),
                        "".join("1" if b else "0" for b in bits),
                        int(bits.sum()),
                    )
                )
            yield pd.DataFrame(
                recs,
                columns=["doc_id", "width", "height", "ahash", "n_set"],
            )

    return df.select(id_col, "payload").mapInPandas(batches, AHASH_SCHEMA)
