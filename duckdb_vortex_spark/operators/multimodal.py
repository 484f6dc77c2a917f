"""Multimodal column operators (SURVEY.md §2C): image/audio/video as
opaque ``binary`` columns with typed metadata.

Design for 100 TB (pointer-style storage): a media item is a struct
``(uri, byte_offset, n_bytes, media_type, payload)`` where ``payload``
is nullable — large blobs stay in object storage and are fetched
inside the decode UDF per batch; small blobs inline. The Spark-side
plumbing (schemas, mapInPandas batch shape, partition sizing) is real
and tested, and ``_decode_payload`` carries REAL dependency-free
codecs for BMP, PNG (full defilter), WAV PCM, GIF (LZW, animated),
baseline JPEG (huffman + IDCT, real-encoder interop-pinned) and
AVI/MJPEG video (RIFF box walk feeding the JPEG decoder per frame);
only formats that genuinely need native libs (MP3 frame decode,
inter-frame video codecs like H.264) raise NotImplementedError — the
seam a PIL/ffmpeg deployment plugs into. 'fake/raw' remains as
the deterministic synthetic fixture.

The geo column note (SURVEY.md §2A A17): WKB geometry is likewise an
opaque binary column; the encode/decode pair lives in
``functions/geo.py``, keeping parity "peripheral" as BASELINE.json
directs.
"""

from __future__ import annotations

import math
import struct
import zlib
from collections.abc import Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load, query

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("uri", T.StringType(), True),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("byte_mean", T.DoubleType(), True),
        T.StructField("byte_min", T.LongType(), True),
        T.StructField("byte_max", T.LongType(), True),
        T.StructField("width", T.LongType(), True),
        T.StructField("height", T.LongType(), True),
        # audio leg (null for images): PCM stream properties
        T.StructField("sample_rate", T.LongType(), True),
        T.StructField("n_channels", T.LongType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("rms", T.DoubleType(), True),
        # video leg: decoded frame count (GIF; null for stills/audio)
        T.StructField("n_frames", T.LongType(), True),
    ]
)


def _decode_payload(media_type: str, payload: bytes) -> dict:
    """Decode one media payload to features.

    Real, dependency-free codecs: BMP (24-bit uncompressed), PNG
    (8-bit gray/RGB/RGBA, all five scanline filters, zlib IDAT), WAV
    (RIFF PCM, 8/16/32-bit int + float32), GIF (real LZW, animated
    multi-frame, interlace, local color tables — the video leg) and
    JPEG (baseline sequential: huffman + dequant + IDCT + YCbCr,
    interop-pinned against javax.imageio goldens) are decoded here in
    pure Python/numpy. 'fake/raw' payloads are raw byte streams with an
    8-byte (width,height) header (deterministic synthetic fixture).
    AVI/MJPEG video decodes via the RIFF box walk + per-frame JPEG
    decode (_decode_avi_mjpeg). Codecs needing native libs (MP3 frame
    decode, inter-frame video) still raise NotImplementedError — the
    seam a PIL/ffmpeg deployment plugs into.
    """
    if media_type == "fake/raw":
        if len(payload) < 8:
            return _no_features()
        width, height = struct.unpack("<ii", payload[:8])
        return _pixel_features(payload[8:], width, height)
    if media_type in ("image/bmp", "image/x-bmp"):
        w, h, pixels = _decode_bmp(payload)
        return _pixel_features(pixels, w, h)
    if media_type == "image/png":
        w, h, pixels = _decode_png(payload)
        return _pixel_features(pixels, w, h)
    if media_type in ("audio/wav", "audio/x-wav", "audio/wave"):
        return _audio_features(*_decode_wav(payload))
    if media_type == "image/gif":
        w, h, frames = _decode_gif(payload)
        feats = _pixel_features(b"".join(frames), w, h)
        feats["n_frames"] = len(frames)
        return feats
    if media_type in ("image/jpeg", "image/jpg"):
        w, h, pixels = _decode_jpeg(payload)
        return _pixel_features(pixels, w, h)
    if media_type in ("video/avi", "video/x-msvideo", "video/mjpeg"):
        w, h, pixels, n_frames = _decode_avi_mjpeg(payload)
        feats = _pixel_features(pixels, w, h)
        feats["n_frames"] = n_frames
        return feats
    raise NotImplementedError(
        f"codec for {media_type!r} not available in this environment; "
        "plug a real decoder into _decode_payload (MPEG audio frame "
        "decode and inter-frame video are DECIDED seams — see AUDIO.md "
        "for why a pure-Python decoder is unverifiable here)"
    )


_FEATURE_KEYS = (
    "byte_mean", "byte_min", "byte_max", "width", "height",
    "sample_rate", "n_channels", "n_samples", "rms", "n_frames",
)


def _no_features() -> dict:
    return dict.fromkeys(_FEATURE_KEYS)


def _pixel_features(body: bytes, width: int, height: int) -> dict:
    if not body:
        return dict(_no_features(), width=width, height=height)
    return dict(
        _no_features(),
        byte_mean=sum(body) / len(body),
        byte_min=min(body),
        byte_max=max(body),
        width=width,
        height=height,
    )


def _audio_features(sample_rate: int, samples) -> dict:
    """samples: float64 ndarray shaped (n_frames, n_channels) in
    [-1, 1]. RMS is over all channels."""
    import numpy as np

    return dict(
        _no_features(),
        sample_rate=sample_rate,
        n_channels=int(samples.shape[1]),
        n_samples=int(samples.shape[0]),
        rms=float(np.sqrt(np.mean(np.square(samples)))) if samples.size else None,
    )


def _decode_wav(payload: bytes) -> tuple[int, "object"]:
    """RIFF/WAVE PCM → (sample_rate, float64 samples (frames, channels)).

    Supports format 1 (integer PCM: 8-bit unsigned, 16/32-bit signed)
    and format 3 (float32), normalized to [-1, 1]. Chunk walk skips
    unknown chunks (LIST/fact/...) per the RIFF spec."""
    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload (missing RIFF/WAVE magic)")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (length,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + length]
        pos += 8 + length + (length & 1)  # chunks are word-aligned
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, n_channels, sample_rate, _brate, _balign, bits = fmt
    if audio_format == 1 and bits == 8:
        x = (np.frombuffer(data, np.uint8).astype(np.float64) - 128.0) / 128.0
    elif audio_format == 1 and bits == 16:
        x = np.frombuffer(data, "<i2").astype(np.float64) / 32768.0
    elif audio_format == 1 and bits == 32:
        x = np.frombuffer(data, "<i4").astype(np.float64) / 2147483648.0
    elif audio_format == 3 and bits == 32:
        x = np.frombuffer(data, "<f4").astype(np.float64)
    else:
        raise NotImplementedError(f"WAV variant unsupported (format={audio_format}, bits={bits})")
    n_frames = len(x) // n_channels
    return sample_rate, x[: n_frames * n_channels].reshape(n_frames, n_channels)


def _decode_bmp(payload: bytes) -> tuple[int, int, bytes]:
    """24-bit uncompressed BMP → (width, height, RGB bytes, top-down
    row order). Rows are stored bottom-up and padded to 4 bytes; pixels
    are BGR on disk."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload (missing BM magic)")
    (data_off,) = struct.unpack_from("<I", payload, 10)
    width, height = struct.unpack_from("<ii", payload, 18)
    bpp, compression = struct.unpack_from("<HI", payload, 28)
    if bpp != 24 or compression != 0:
        raise NotImplementedError(f"BMP variant unsupported (bpp={bpp}, compression={compression})")
    bottom_up = height > 0
    height = abs(height)
    row_bytes = width * 3
    stride = (row_bytes + 3) & ~3
    rows = []
    for r in range(height):
        src = height - 1 - r if bottom_up else r
        row = payload[data_off + src * stride : data_off + src * stride + row_bytes]
        # BGR → RGB per pixel
        rows.append(
            b"".join(row[i + 2 : i + 3] + row[i + 1 : i + 2] + row[i : i + 1] for i in range(0, row_bytes, 3))
        )
    return width, height, b"".join(rows)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # gray, RGB, gray+alpha, RGBA


def _decode_png(payload: bytes) -> tuple[int, int, bytes]:
    """8-bit PNG → (width, height, raw pixel bytes). Full scanline
    defilter (None/Sub/Up/Average/Paeth) over the zlib-inflated IDAT
    stream; interlacing unsupported (raises)."""
    import numpy as np

    if payload[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload (bad signature)")
    pos = len(_PNG_SIG)
    width = height = None
    channels = None
    idat = bytearray()
    while pos < len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if bit_depth != 8:
                raise NotImplementedError(f"PNG bit depth {bit_depth} unsupported")
            if interlace:
                raise NotImplementedError("interlaced PNG unsupported")
            channels = _PNG_CHANNELS.get(color_type)
            if channels is None:
                raise NotImplementedError(f"PNG color type {color_type} unsupported")
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
    raw = zlib.decompress(bytes(idat))
    row_bytes = width * channels
    out = np.zeros((height, row_bytes), dtype=np.uint8)
    bpp = channels  # bytes per pixel at bit depth 8
    for r in range(height):
        f_type = raw[r * (row_bytes + 1)]
        line = np.frombuffer(
            raw, np.uint8, row_bytes, offset=r * (row_bytes + 1) + 1
        ).astype(np.int32)
        prev = out[r - 1].astype(np.int32) if r else np.zeros(row_bytes, np.int32)
        if f_type == 0:  # None
            cur = line
        elif f_type == 2:  # Up
            cur = (line + prev) & 0xFF
        elif f_type in (1, 3, 4):  # Sub / Average / Paeth need a left scan
            cur = np.zeros(row_bytes, np.int32)
            for i in range(row_bytes):
                a = cur[i - bpp] if i >= bpp else 0
                b = prev[i]
                if f_type == 1:
                    cur[i] = (line[i] + a) & 0xFF
                elif f_type == 3:
                    cur[i] = (line[i] + (a + b) // 2) & 0xFF
                else:
                    c = prev[i - bpp] if i >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    cur[i] = (line[i] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {f_type}")
        out[r] = cur.astype(np.uint8)
    return width, height, out.tobytes()


def extract_features(media: DataFrame) -> DataFrame:
    """Batch feature extraction over binary payloads via mapInPandas.

    Arrow-batched: each pandas batch holds whole payload blobs; Spark
    partition sizing (not batch row count) bounds executor memory, so
    repartition upstream by total n_bytes for giant media. Columns are
    pruned to what the UDF needs before the exchange."""
    import pandas as pd

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [
                _decode_payload(mt, bytes(p)) if p is not None else _no_features()
                for mt, p in zip(pdf["media_type"], pdf["payload"])
            ]
            out = pd.DataFrame(feats)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            out.insert(1, "media_type", pdf["media_type"].values)
            out.insert(2, "n_bytes", pdf["n_bytes"].values)
            yield out

    pruned = media.select("doc_id", "media_type", "n_bytes", "payload")
    return pruned.mapInPandas(batches, FEATURE_SCHEMA)


def documents_as_media(df: DataFrame) -> DataFrame:
    """Adapter: wraps the documents table as a media table with
    'fake/raw' payloads (8-byte header + utf-8 text bytes), so the
    whole multimodal path is exercised on driver testdata."""
    payload = F.concat(
        _le_int32(F.length("text").cast("int")),
        _le_int32(F.lit(1)),
        F.encode("text", "UTF-8"),
    )
    return df.select(
        "doc_id",
        F.concat(F.lit("mem://documents/"), F.col("doc_id").cast("string")).alias("uri"),
        F.lit("fake/raw").alias("media_type"),
        (F.length(F.encode("text", "UTF-8")) + 8).cast("bigint").alias("n_bytes"),
        payload.alias("payload"),
    )


def _le_int32(c: Column) -> Column:
    """Little-endian int32 bytes of a non-negative int column (pure
    column algebra — builds the 4 bytes via bit shifts + char)."""
    b = [F.chr(F.shiftright(c, 8 * i).bitwiseAND(F.lit(255))) for i in range(4)]
    return F.encode(F.concat(*b), "ISO-8859-1")


def fetch_media_ranges(
    pointers: DataFrame,
    endpoint_url: str,
    access_key: str | None = None,
    secret_key: str | None = None,
    region: str = "us-east-1",
    path_col: str = "path",
    offset_col: str = "offset",
    length_col: str = "length",
) -> DataFrame:
    """Resolve a media-POINTER table to payload bytes with RANGED
    object-store reads — the 100 TB multimodal layout (SURVEY §2C):
    media are packed into large shard objects and the table carries
    (path, offset, length) pointers, so a sampling/decoding stage
    fetches exactly the bytes it was asked for instead of the shards.

    Each task opens one `sources.object_store.S3FS` (SigV4, reused
    across its rows) and issues ONE ranged GET per pointer —
    `_S3ReadableFile.read(n)` maps to `Range: bytes=off..off+len-1`,
    no whole-object buffering anywhere, and (ADVICE r9) no size HEAD
    either: the readable file resolves the object size lazily, which a
    seek(SET)+read(length) access pattern never needs, so the request
    count is exactly one GET per pointer. Output = input columns +
    `payload binary`, ready for `extract_features` /
    `probe_containers`; at scale, repartition the pointer table by
    total `length` so task memory is bounded by bytes, not row count.
    Request counts are pinned against the in-process S3 server in
    tests/test_multimodal_containers.py (one range per pointer, zero
    HEADs, never a full-shard GET)."""
    import pandas as pd

    out_schema = T.StructType(
        list(pointers.schema.fields) + [T.StructField("payload", T.BinaryType(), True)]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..sources.object_store import S3FS

        fs = None
        for pdf in it:
            if len(pdf) == 0:
                continue
            if fs is None:
                fs = S3FS(endpoint_url, access_key, secret_key, region)
            payloads = []
            for p, off, ln in zip(pdf[path_col], pdf[offset_col], pdf[length_col]):
                # guard BEFORE the GET: a non-positive length emits an
                # invalid byte-range-spec (first > last), and a
                # negative offset a malformed one (ADVICE r9, e.g.
                # 'bytes=-5-4') — both of which RFC 7233 servers —
                # real S3 included — ignore, answering with the FULL
                # object: silently fetching a whole shard for one bad
                # pointer row
                if int(ln) <= 0 or int(off) < 0:
                    payloads.append(b"")
                    continue
                with fs.open(p) as f:
                    f.seek(int(off))
                    payloads.append(f.read(int(ln)))
            out = pdf.copy()
            out["payload"] = payloads
            yield out

    return pointers.mapInPandas(batches, out_schema)


# --- catalog entries ------------------------------------------------------

BINARY_META_ORACLE = """
SELECT
  doc_id,
  octet_length(encode(text)) AS n_bytes,
  ascii(substr(text, 1, 1)) AS first_byte,
  md5(text) AS payload_md5
FROM documents
"""


@query("multimodal_binary_metadata", oracle=BINARY_META_ORACLE, tags=("multimodal", "llm"))
def multimodal_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata plumbing: byte length, first byte,
    content hash — the typed-metadata side of the multimodal design,
    oracle-checked (BLOB semantics parity with table.test:26,49)."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length(F.encode("text", "UTF-8")).cast("bigint").alias("n_bytes"),
        F.ascii(F.substring("text", 1, 1)).cast("bigint").alias("first_byte"),
        F.md5(F.encode("text", "UTF-8")).alias("payload_md5"),
    )


FEATURE_EXTRACT_ORACLE = """
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb
  FROM documents
), e AS (
  SELECT doc_id,
    CAST(('0x' || substr(hx, CAST(2 * i + 1 AS BIGINT), 2)) AS BIGINT) AS byte
  FROM (SELECT doc_id, hx, unnest(range(nb)) AS i FROM b)
), agg AS (
  SELECT doc_id,
    SUM(byte) / COUNT(*) AS byte_mean,
    CAST(MIN(byte) AS BIGINT) AS byte_min,
    CAST(MAX(byte) AS BIGINT) AS byte_max
  FROM e GROUP BY doc_id
)
SELECT d.doc_id, 'fake/raw' AS media_type,
  CAST(octet_length(encode(d.text)) + 8 AS BIGINT) AS n_bytes,
  a.byte_mean, a.byte_min, a.byte_max,
  CAST(length(d.text) AS BIGINT) AS width,
  CAST(1 AS BIGINT) AS height,
  CAST(NULL AS BIGINT) AS sample_rate,
  CAST(NULL AS BIGINT) AS n_channels,
  CAST(NULL AS BIGINT) AS n_samples,
  CAST(NULL AS DOUBLE) AS rms,
  CAST(NULL AS BIGINT) AS n_frames
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


@query(
    "multimodal_feature_extract",
    oracle=FEATURE_EXTRACT_ORACLE,
    tags=("multimodal", "llm", "udf"),
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal path: documents → media structs (binary
    payload + header) → Arrow-batched mapInPandas feature extraction.

    Oracle-decidable (closed the catalog's last rows-only entry in
    round 4): the 'fake/raw' decode is deterministic byte arithmetic
    — width/height unpacked from the 8-byte LE header, byte stats over
    the body — so DuckDB recomputes it relationally, per-byte via
    hex(encode(text)) pair extraction (byte-exact even for non-ASCII
    payloads; no reliance on chars==bytes). byte_mean is one
    double division of two exact integers on both engines (Python
    sum/len vs SUM/COUNT), so it is bit-identical. The Python decode
    path (mapInPandas over Arrow batches) is exactly what runs — the
    oracle checks its OUTPUT VALUES, not a parallel implementation.
    Real-codec value parity (BMP/PNG/WAV/GIF/JPEG/AVI) stays pinned by
    tests/test_operators_quality.py + test_multimodal_codecs.py interop
    goldens."""
    media = documents_as_media(load(spark, sf_dir, "documents"))
    return extract_features(media)


FRAME_SAMPLE_ORACLE = """
WITH f AS (
  SELECT doc_id, text,
         unnest(range(0, CAST(ceil(length(text) / 64) AS BIGINT))) AS frame_idx
  FROM documents
)
SELECT
  doc_id,
  frame_idx,
  md5(substring(text, CAST(frame_idx * 64 + 1 AS INTEGER), 64)) AS frame_md5,
  CAST(length(substring(text, CAST(frame_idx * 64 + 1 AS INTEGER), 64)) AS BIGINT) AS frame_len
FROM f
WHERE frame_idx % 4 = 0
"""


@query("multimodal_frame_sample", oracle=FRAME_SAMPLE_ORACLE, tags=("multimodal", "llm"))
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over opaque payloads: split each payload into
    fixed-size 64-unit frames and keep every 4th — the video
    keyframe-sampling access pattern, kept entirely in column algebra
    (sequence → filter → explode → substring), zero Python. A real
    codec slots in as a mapInPandas stage *after* sampling, so only
    sampled frames ever cross into Python — at 100 TB the sampler
    prunes the decode work 4x before it happens. Payload here is the
    document text (ASCII corpus: chars == bytes), so the oracle checks
    frame boundaries and hashes exactly."""
    d = load(spark, sf_dir, "documents")
    n_frames = F.ceil(F.length("text") / F.lit(64)).cast("bigint")
    sampled = F.filter(
        F.sequence(F.lit(0).cast("bigint"), n_frames - 1), lambda i: i % 4 == 0
    )
    frame = F.expr("substring(text, CAST(frame_idx * 64 + 1 AS INT), 64)")
    return (
        d.select("doc_id", "text", F.explode(sampled).alias("frame_idx"))
        .select(
            "doc_id",
            "frame_idx",
            F.md5(frame).alias("frame_md5"),
            F.length(frame).cast("bigint").alias("frame_len"),
        )
    )


# --- GIF (LZW) codec ------------------------------------------------------

def _decode_gif(payload: bytes) -> tuple[int, int, list[bytes]]:
    """GIF87a/89a → (width, height, [RGB frame bytes...]).

    Real LZW decode (variable-width codes, clear/EOI, 4096-entry
    dictionary), per-frame local color tables, frame placement into
    the logical screen, and 4-pass deinterlacing. Animated GIFs yield
    one RGB buffer per frame — the VIDEO leg of the multimodal
    surface: frame extraction happens here, keyframe sampling upstream
    (multimodal_frame_sample) prunes which frames are decoded."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload (bad signature)")
    width, height, flags, _bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = payload[pos : pos + 3 * n]
        pos += 3 * n
    frames: list[bytes] = []
    # logical screen accumulates frames (GIF frames can be partial rects)
    screen = bytearray(width * height * 3)
    while pos < len(payload):
        b = payload[pos]
        pos += 1
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label + sub-blocks
            pos += 1
            while payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if b != 0x2C:
            raise ValueError(f"bad GIF block 0x{b:02x}")
        left, top, fw, fh, fflags = struct.unpack_from("<HHHHB", payload, pos)
        pos += 9
        table = gct
        if fflags & 0x80:
            n = 2 << (fflags & 0x07)
            table = payload[pos : pos + 3 * n]
            pos += 3 * n
        if table is None:
            raise ValueError("GIF frame without color table")
        mcs = payload[pos]
        pos += 1
        data = bytearray()
        while payload[pos]:
            ln = payload[pos]
            data += payload[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        idx = _lzw_decode(bytes(data), mcs, fw * fh)
        if fflags & 0x40:  # interlaced: 4-pass row order
            order = [r for s, st in ((0, 8), (4, 8), (2, 4), (1, 2)) for r in range(s, fh, st)]
            de = bytearray(fw * fh)
            for src_r, dst_r in enumerate(order):
                de[dst_r * fw : (dst_r + 1) * fw] = idx[src_r * fw : (src_r + 1) * fw]
            idx = bytes(de)
        for r in range(fh):
            for c in range(fw):
                p = idx[r * fw + c] * 3
                o = ((top + r) * width + left + c) * 3
                screen[o : o + 3] = table[p : p + 3]
        frames.append(bytes(screen))
    return width, height, frames


def _lzw_decode(data: bytes, min_code_size: int, n_expected: int) -> bytes:
    """GIF-flavor LZW: variable code width (min+1..12), CLEAR resets
    the dictionary, EOI terminates."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    # bit reader, LSB-first
    acc = n_bits = 0
    it = iter(data)

    def read(width: int) -> int:
        nonlocal acc, n_bits
        while n_bits < width:
            acc |= next(it) << n_bits
            n_bits += 8
        v = acc & ((1 << width) - 1)
        acc >>= width
        n_bits -= width
        return v

    def reset():
        return {i: bytes([i]) for i in range(clear)}, min_code_size + 1, None

    table, wbits, prev = reset()
    next_code = eoi + 1
    try:
        while len(out) < n_expected:
            code = read(wbits)
            if code == clear:
                table, wbits, prev = reset()
                next_code = eoi + 1
                continue
            if code == eoi:
                break
            if code in table:
                entry = table[code]
            elif code == next_code and prev is not None:
                entry = prev + prev[:1]  # the KwKwK case
            else:
                raise ValueError(f"bad LZW code {code}")
            out += entry
            if prev is not None and next_code < 4096:
                table[next_code] = prev + entry[:1]
                next_code += 1
                if next_code == (1 << wbits) and wbits < 12:
                    wbits += 1
            prev = entry
    except StopIteration:
        pass
    return bytes(out[:n_expected])


# --- JPEG (baseline sequential, pure Python/numpy) ------------------------

# 8x8 zigzag order (JPEG spec Figure A.6)
_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


class _JpegBitReader:
    """MSB-first bit reader over the entropy-coded segment, handling
    0xFF00 byte stuffing and stopping at restart/other markers."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bits = 0
        self.nbits = 0

    def _fill(self) -> None:
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2  # stuffed 0xFF data byte
            elif 0xD0 <= nxt <= 0xD7:
                raise _RestartMarker(nxt)
            else:
                raise EOFError("marker in entropy stream")
        else:
            self.pos += 1
        self.bits = (self.bits << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.bits >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def sync_restart(self) -> None:
        """Skip to just after the next restart marker and resync."""
        self.bits = 0
        self.nbits = 0
        while True:
            if self.data[self.pos] == 0xFF and 0xD0 <= self.data[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1


class _RestartMarker(Exception):
    def __init__(self, marker: int):
        self.marker = marker


def _huff_decode(reader: _JpegBitReader, table: dict) -> int:
    """Canonical Huffman decode: walk bit by bit through the
    (length, code) → symbol map (max 16 bits per the spec)."""
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG huffman code")


def _receive_extend(reader: _JpegBitReader, s: int) -> int:
    """JPEG RECEIVE+EXTEND: read s magnitude bits, sign-extend."""
    if s == 0:
        return 0
    v = reader.read_bits(s)
    if v < (1 << (s - 1)):
        v -= (1 << s) - 1
    return v


def _idct_matrix():
    import numpy as np

    c = np.zeros((8, 8))
    for k in range(8):
        for n in range(8):
            c[k, n] = math.cos(math.pi * k * (2 * n + 1) / 16.0)
    scale = np.full(8, math.sqrt(2.0 / 8.0))
    scale[0] = math.sqrt(1.0 / 8.0)
    return (c.T * scale).T  # rows scaled: basis matrix B, IDCT = B.T @ X @ B


def _decode_jpeg(payload: bytes) -> tuple[int, int, bytes]:
    """Baseline sequential JFIF JPEG → (width, height, RGB bytes).

    Pure Python/numpy: marker walk (DQT 8/16-bit, SOF0/1, DHT, DRI,
    SOS), canonical-Huffman entropy decode with byte unstuffing and
    restart-interval resync, DC prediction, AC run-length/ZRL/EOB,
    dequantize, inverse zigzag, float IDCT-II (separable 8x8 basis
    matmul), chroma upsampling for arbitrary sampling factors (4:4:4 /
    4:2:2 / 4:2:0), JFIF YCbCr→RGB with clamping, crop to the frame
    size. Progressive (SOF2) and arithmetic coding raise
    NotImplementedError — baseline is what cameras and `cjpeg`/libjpeg
    emit by default. Interop-pinned in tests/test_multimodal_codecs.py
    against javax.imageio-encoded goldens."""
    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    try:
        return _decode_jpeg_inner(payload, np)
    except (IndexError, struct.error, EOFError) as e:  # ran off the buffer
        raise ValueError(f"truncated/corrupt JPEG payload: {e}") from e


def _decode_jpeg_inner(payload: bytes, np) -> tuple[int, int, bytes]:
    pos = 2
    qt: dict[int, "np.ndarray"] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class 0=DC/1=AC, id) -> table
    comps: list[dict] = []
    width = height = 0
    restart_interval = 0
    scan_order: list[dict] = []
    while pos < len(payload):
        if payload[pos] != 0xFF:
            pos += 1
            continue
        marker = payload[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack_from(">H", payload, pos)
        seg = payload[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 15
                p += 1
                if pq:
                    vals = np.frombuffer(seg[p : p + 128], ">u2").astype(np.float64)
                    p += 128
                else:
                    vals = np.frombuffer(seg[p : p + 64], np.uint8).astype(np.float64)
                    p += 64
                tbl = np.zeros(64)
                tbl[_ZIGZAG] = vals  # de-zigzag the table
                qt[tq] = tbl.reshape(8, 8)
        elif marker in (0xC0, 0xC1):  # SOF0/SOF1 baseline
            _prec, height, width, ncomp = struct.unpack_from(">BHHB", seg, 0)
            comps = []
            for i in range(ncomp):
                cid, sampling, tq = struct.unpack_from(">BBB", seg, 6 + 3 * i)
                comps.append(
                    {"id": cid, "h": sampling >> 4, "v": sampling & 15, "tq": tq}
                )
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"only baseline sequential JPEG supported (SOF marker 0x{marker:02x})"
            )
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 15
                counts = seg[p + 1 : p + 17]
                p += 17
                table: dict[tuple[int, int], int] = {}
                code = 0
                for length in range(1, 17):
                    for _ in range(counts[length - 1]):
                        table[(length, code)] = seg[p]
                        p += 1
                        code += 1
                    code <<= 1
                huff[(tc, th)] = table
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            scan_order = []
            for i in range(ns):
                cs, tds = struct.unpack_from(">BB", seg, 1 + 2 * i)
                comp = next(c for c in comps if c["id"] == cs)
                scan_order.append(
                    {**comp, "dc": tds >> 4, "ac": tds & 15}
                )
            pos += seglen
            break  # entropy-coded data follows
        pos += seglen
    if not scan_order or not width:
        raise ValueError("JPEG missing SOF/SOS")

    hmax = max(c["h"] for c in scan_order)
    vmax = max(c["v"] for c in scan_order)
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)
    basis = _idct_matrix()
    planes = {}
    for c in scan_order:
        planes[c["id"]] = np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8))

    reader = _JpegBitReader(payload, pos)
    pred = {c["id"]: 0 for c in scan_order}
    mcu_done = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_done and mcu_done % restart_interval == 0:
                reader.sync_restart()
                pred = {c["id"]: 0 for c in scan_order}
            try:
                for c in scan_order:
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            coeffs = np.zeros(64)
                            s = _huff_decode(reader, huff[(0, c["dc"])])
                            pred[c["id"]] += _receive_extend(reader, s)
                            coeffs[0] = pred[c["id"]]
                            k = 1
                            while k < 64:
                                rs = _huff_decode(reader, huff[(1, c["ac"])])
                                r, s = rs >> 4, rs & 15
                                if s == 0:
                                    if r == 15:
                                        k += 16  # ZRL
                                        continue
                                    break  # EOB
                                k += r
                                coeffs[_ZIGZAG[k]] = _receive_extend(reader, s)
                                k += 1
                            block = (coeffs.reshape(8, 8)) * qt[c["tq"]]
                            px = basis.T @ block @ basis + 128.0
                            y0 = (my * c["v"] + by) * 8
                            x0 = (mx * c["h"] + bx) * 8
                            planes[c["id"]][y0 : y0 + 8, x0 : x0 + 8] = px
            except _RestartMarker:
                raise ValueError("unexpected restart marker mid-MCU")
            mcu_done += 1

    def _upsample2(p, axis):
        """libjpeg-style 'fancy' (triangle-filter) 2x chroma upsample:
        out[2i] = (3*c[i] + c[i-1]) / 4, out[2i+1] = (3*c[i] + c[i+1]) / 4,
        edges replicated — matches what libjpeg-family decoders
        (incl. javax.imageio) produce, minimizing interop divergence."""
        p = np.moveaxis(p, axis, 0)
        prev = np.concatenate([p[:1], p[:-1]], axis=0)
        nxt = np.concatenate([p[1:], p[-1:]], axis=0)
        out = np.empty((2 * p.shape[0],) + p.shape[1:])
        out[0::2] = (3.0 * p + prev) / 4.0
        out[1::2] = (3.0 * p + nxt) / 4.0
        return np.moveaxis(out, 0, axis)

    # upsample to full resolution and crop
    full = []
    for c in scan_order:
        p = planes[c["id"]]
        for axis, factor in ((0, vmax // c["v"]), (1, hmax // c["h"])):
            if factor == 2:
                p = _upsample2(p, axis)
            elif factor != 1:
                p = np.repeat(p, factor, axis=axis)
        full.append(p[:height, :width])
    if len(full) == 1:
        gray = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        rgb = np.stack([gray, gray, gray], axis=-1)
    else:
        y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
        r = y + 1.402 * cr
        g = y - 0.344136 * cb - 0.714136 * cr
        b = y + 1.772 * cb
        rgb = np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)
    return width, height, rgb.tobytes()


# ---------------------------------------------------------------------------
# video container metadata (ISO BMFF / MP4 box walk — no decode)
# ---------------------------------------------------------------------------


def _parse_mp4_meta(payload: bytes) -> dict:
    """ISO base-media-file-format (MP4/MOV, ISO/IEC 14496-12) box walk:
    duration, timescale, per-track handler types, and video track
    dimensions — the container METADATA a corpus pipeline filters on
    (length, has-audio, resolution) without touching a single coded
    frame. Pure struct parsing; the codec seam (_decode_payload) still
    gates actual frame decode.

    Box layout: [size:u32be][type:4cc][payload]; size==1 switches to a
    64-bit largesize, size==0 means to-end-of-enclosing. mvhd v0
    carries u32 timescale/duration at offsets 12/16 (v1: u64 at
    16/24); tkhd v0 carries 16.16 fixed width/height in its last 8
    bytes; hdlr's handler 4cc sits at payload offset 8."""
    if len(payload) < 16 or payload[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF payload (missing ftyp)")

    def walk(buf: bytes, start: int, end: int):
        pos = start
        while pos + 8 <= end:
            size = int.from_bytes(buf[pos : pos + 4], "big")
            btype = buf[pos + 4 : pos + 8]
            hdr = 8
            if size == 1:
                size = int.from_bytes(buf[pos + 8 : pos + 16], "big")
                hdr = 16
            elif size == 0:
                size = end - pos
            if size < hdr or pos + size > end:
                break  # truncated/corrupt box: stop cleanly
            yield btype, pos + hdr, pos + size
            pos += size

    meta = {
        "container": "mp4",
        "brand": payload[8:12].decode("latin1"),
        "duration_s": None,
        "timescale": None,
        "n_tracks": 0,
        "has_video": False,
        "has_audio": False,
        "width": None,
        "height": None,
    }
    for btype, s, e in walk(payload, 0, len(payload)):
        if btype != b"moov":
            continue
        for b2, s2, e2 in walk(payload, s, e):
            if b2 == b"mvhd":
                ver = payload[s2]
                if ver == 1:
                    ts = int.from_bytes(payload[s2 + 20 : s2 + 24], "big")
                    dur = int.from_bytes(payload[s2 + 24 : s2 + 32], "big")
                else:
                    ts = int.from_bytes(payload[s2 + 12 : s2 + 16], "big")
                    dur = int.from_bytes(payload[s2 + 16 : s2 + 20], "big")
                meta["timescale"] = ts
                if ts:
                    meta["duration_s"] = dur / ts
            elif b2 == b"trak":
                meta["n_tracks"] += 1
                for b3, s3, e3 in walk(payload, s2, e2):
                    if b3 == b"tkhd":
                        w = int.from_bytes(payload[e3 - 8 : e3 - 4], "big") >> 16
                        h = int.from_bytes(payload[e3 - 4 : e3], "big") >> 16
                        if w and h:
                            meta["width"], meta["height"] = w, h
                    elif b3 == b"mdia":
                        for b4, s4, e4 in walk(payload, s3, e3):
                            if b4 == b"hdlr":
                                handler = payload[s4 + 8 : s4 + 12]
                                if handler == b"vide":
                                    meta["has_video"] = True
                                elif handler == b"soun":
                                    meta["has_audio"] = True
    return meta


_CONTAINER_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("container", T.StringType(), True),
        T.StructField("brand", T.StringType(), True),
        T.StructField("duration_s", T.DoubleType(), True),
        T.StructField("n_tracks", T.LongType(), True),
        T.StructField("has_video", T.BooleanType(), True),
        T.StructField("has_audio", T.BooleanType(), True),
        T.StructField("width", T.LongType(), True),
        T.StructField("height", T.LongType(), True),
    ]
)


def probe_containers(media: DataFrame, id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """Container-metadata probe over a binary media column (mapInPandas,
    Arrow-batched): MP4/MOV today, the dispatch point for AVI/MKV.
    Probing reads only box headers — O(boxes), not O(bytes) — so at
    100 TB the scan cost is the payload READ, which a real deployment
    avoids by probing at ingest and storing the result columnar."""
    import pandas as pd

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    m = _parse_mp4_meta(bytes(payload))
                except Exception:
                    m = {
                        "container": None, "brand": None, "duration_s": None,
                        "timescale": None, "n_tracks": None, "has_video": None,
                        "has_audio": None, "width": None, "height": None,
                    }
                m.pop("timescale", None)
                rows.append({"doc_id": doc_id, **m})
            yield pd.DataFrame(rows, columns=[f.name for f in _CONTAINER_SCHEMA.fields])

    return media.select(id_col, payload_col).mapInPandas(batches, _CONTAINER_SCHEMA)


# --- AVI (RIFF) container + MJPEG video decode ----------------------------

def _riff_subchunks(buf: bytes, pos: int, end: int):
    """Yield (fourcc, body_start, body_len) for RIFF chunks in
    buf[pos:end]; chunks are word-aligned per the RIFF spec (same walk
    as _decode_wav)."""
    while pos + 8 <= end:
        cid = buf[pos : pos + 4]
        (length,) = struct.unpack_from("<I", buf, pos + 4)
        yield cid, pos + 8, min(length, end - (pos + 8))
        pos += 8 + length + (length & 1)


def _decode_avi_mjpeg(payload: bytes, max_decoded: int = 4):
    """AVI/MJPEG video → (width, height, sampled decoded pixels,
    n_frames). The REAL video-decode leg: an OpenDML/AVI RIFF box walk
    (LIST hdrl → avih for dimensions/frame count, LIST movi for frame
    chunks) feeding each '..dc'/'..db' MJPEG frame — which is a
    complete baseline JPEG per the MJPEG convention — through this
    module's own interop-pinned JPEG decoder. At most ``max_decoded``
    frames are decoded, evenly spaced — the keyframe-sampling pattern
    multimodal_frame_sample prunes with BEFORE Python at scale.

    Non-MJPEG AVI payloads (a different biCompression) raise
    NotImplementedError: inter-frame codecs (MPEG-4/H.264) genuinely
    need native libs — the remaining documented seam."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI payload (missing RIFF/AVI magic)")

    width = height = 0
    frames: list[bytes] = []
    compression = b"MJPG"
    stream_type = b""  # fccType of the most recent strh in this strl LIST

    def walk(pos: int, end: int) -> None:
        nonlocal width, height, compression, stream_type
        for cid, body, blen in _riff_subchunks(payload, pos, end):
            if cid == b"LIST":
                walk(body + 4, body + blen)  # skip the 4-byte list type
            elif cid == b"avih" and blen >= 40:
                width, height = struct.unpack_from("<II", payload, body + 32)
            elif cid == b"strh" and blen >= 4:
                stream_type = payload[body : body + 4]
            elif cid == b"strf" and blen >= 20 and stream_type == b"vids":
                # BITMAPINFOHEADER: biCompression at offset 16. Bound to
                # the 'vids' stream via the preceding strh fccType — an
                # audio stream's strf (WAVEFORMATEX, also >=20 bytes with
                # extra data) must not overwrite the video fourcc.
                compression = payload[body + 16 : body + 20]
            elif len(cid) == 4 and cid[2:] in (b"dc", b"db") and blen > 0:
                frames.append(payload[body : body + blen])

    walk(12, len(payload))
    if not frames:
        raise ValueError("AVI contains no video frame chunks")
    if compression not in (b"MJPG", b"mjpg", b"dmb1"):
        raise NotImplementedError(
            f"AVI video codec {compression!r} needs a native decoder; "
            "only MJPEG decodes in pure Python here"
        )
    step = max(1, len(frames) // max_decoded)
    picked = frames[::step][:max_decoded]
    decoded = []
    w = h = 0
    for fb in picked:
        w, h, pixels = _decode_jpeg(fb)
        decoded.append(pixels)
    if width and w and (w != width or h != height):
        # trust the actual frame over a lying header
        width, height = w, h
    return (width or w), (height or h), b"".join(decoded), len(frames)
