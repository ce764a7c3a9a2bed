"""Multimodal column support (BASELINE.json north star): image/audio/video as
opaque BINARY columns with typed metadata, processed by Arrow-batched
mapInPandas pipelines.

The container has no image/audio codecs, so the *decode* step is stubbed
(deterministic fake decoder + a clearly-marked NotImplementedError for real
codecs) — but the Spark-side plumbing is real and tested: binary schema,
metadata map, Pandas UDF signature, Arrow batch shape, partition-safe
statelessness. Swapping the stub for PIL/ffmpeg changes one function.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..registry import register
from ..sources import spread, table

# --------------------------------------------------------------------------
# Binary payload + metadata columns (oracle-checked: byte ops are portable).
# --------------------------------------------------------------------------


@register(
    "mm_binary_meta",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS byte_len,
           md5(text) AS content_md5,
           substr(hex(encode(text)), 1, 16) AS head_hex
    FROM documents
    ORDER BY doc_id
    """,
    tags=("MM1",),
)
def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Treat the document body as an opaque binary payload; compute the typed
    metadata a multimodal catalog stores (size, checksum, magic-byte prefix).
    At 100 TB this is the manifest-building scan: one pass, no shuffle."""
    payload = F.encode(F.col("text"), "UTF-8")
    return (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.octet_length(payload).cast("long").alias("byte_len"),
            F.md5(payload).alias("content_md5"),
            F.substring(F.hex(payload), 1, 16).alias("head_hex"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Decode / feature-extract via mapInPandas (rows-only check + unit tests).
# --------------------------------------------------------------------------

FRAME_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),
        T.StructField("byte_len", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("mean_byte", T.DoubleType(), True),
        T.StructField("features", T.ArrayType(T.DoubleType()), True),
    ]
)


def _parse_bmp(data: bytes) -> dict:
    """Dependency-free decoder for uncompressed 24-bit BITMAPINFOHEADER
    BMPs: stdlib header parse + numpy-vectorized pixel reshape/channel
    swap (no per-pixel Python). Returns RGB pixel bytes in top-down row
    order. Strict header validation (magic, file size, bpp, compression)
    so arbitrary byte payloads can never false-positive."""
    import struct

    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("not a BMP")
    (filesize,) = struct.unpack_from("<I", data, 2)
    (off,) = struct.unpack_from("<I", data, 10)
    (hsz,) = struct.unpack_from("<I", data, 14)
    if hsz < 40:
        raise ValueError("unsupported BMP header")
    w, h = struct.unpack_from("<ii", data, 18)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    (comp,) = struct.unpack_from("<I", data, 30)
    if planes != 1 or bpp != 24 or comp != 0 or w <= 0 or h == 0:
        raise ValueError("unsupported BMP variant (need 24bpp BI_RGB)")
    bottom_up = h > 0
    h = abs(h)
    row_sz = (w * 3 + 3) & ~3  # rows pad to 4 bytes
    # bfSize is advisory in the wild: many writers emit 0 or a padded value.
    # Accept 0, the exact payload length, or anything covering the pixel
    # data; reject only a nonzero size SMALLER than the declared geometry
    # (junk-header guard). The truncation check below still protects reads.
    if filesize not in (0, len(data)) and filesize < off + row_sz * h:
        raise ValueError("BMP size field mismatch")
    # Validate the declared geometry against the ACTUAL payload before any
    # allocation: header w/h are untrusted, and bytearray(w*h*3) for a
    # forged 30000x30000 header would raise MemoryError — which escapes
    # _decode_or_fake's (NotImplementedError, ValueError) fallback and
    # kills the Spark task instead of routing to fake_decode. Requiring
    # the full pixel area in-payload bounds the allocation by len(data).
    if len(data) < off + row_sz * (h - 1) + w * 3:
        raise ValueError("BMP payload shorter than declared pixel geometry")
    import numpy as np

    # numpy row reshape + channel-reverse slice — no per-pixel Python (the
    # geometry check above guarantees every row's w*3 bytes are present;
    # only the final row's PADDING may be truncated, hence the zero-fill)
    avail = min(len(data) - off, row_sz * h)
    buf = np.zeros(row_sz * h, dtype=np.uint8)
    buf[:avail] = np.frombuffer(data, dtype=np.uint8, count=avail, offset=off)
    rows = buf.reshape(h, row_sz)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return {"width": w, "height": h, "mode": "RGB", "pixels": rows[:, :, ::-1].tobytes()}


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_MAX_PIXELS = 1 << 22  # 4M px (~12 MB RGB): bounds alloc for forged headers


def _parse_png(data: bytes) -> dict:
    """Dependency-free decoder for non-interlaced 8-bit RGB (color type 2)
    PNGs: chunk walk -> zlib inflate -> per-row numpy unfilter (None/Sub/Up
    vectorized; Average/Paeth per-byte, see the unfilter comment). stdlib
    struct + zlib + numpy. Returns RGB pixel bytes top-down,
    same contract as _parse_bmp. Strict validation: bad magic, unsupported
    variants, and geometry/payload mismatches all raise ValueError, so
    arbitrary byte payloads can never false-positive; inflate is capped at
    the declared geometry so a forged header or zlib bomb cannot allocate
    beyond _PNG_MAX_PIXELS."""
    import struct
    import zlib

    if not data.startswith(_PNG_SIG):
        raise ValueError("not a PNG")
    pos = len(_PNG_SIG)
    ihdr = None
    idat: list[bytes] = []
    while pos + 8 <= len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4 : pos + 8]
        chunk = data[pos + 8 : pos + 8 + length]
        if len(chunk) < length:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            ihdr = chunk
        elif ctype == b"IDAT":
            idat.append(chunk)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + data + crc
    if ihdr is None or len(ihdr) != 13 or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    if depth != 8 or color != 2 or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError("unsupported PNG variant (need 8-bit RGB, non-interlaced)")
    if w == 0 or h == 0 or w * h > _PNG_MAX_PIXELS:
        raise ValueError("PNG geometry out of bounds")
    stride = w * 3
    need = (stride + 1) * h  # one filter byte per row
    inflater = zlib.decompressobj()
    try:
        raw = inflater.decompress(b"".join(idat), need)
        # Bounded 1-byte probe for an over-long stream — never flush(), which
        # would fully inflate a zlib bomb past the max_length cap above.
        extra = inflater.decompress(inflater.unconsumed_tail, 1)
    except zlib.error as e:
        raise ValueError(f"bad PNG deflate stream: {e}") from None
    if len(raw) != need or extra:
        raise ValueError("PNG pixel data length mismatch")
    import numpy as np

    # Unfilter with numpy per row: None is a copy, Sub is a per-channel
    # prefix sum mod 256 (cumsum in uint32, truncate to uint8), Up is one
    # wrapping uint8 add against the reconstructed previous row. Average
    # and Paeth carry a sequential dependence on the reconstructed LEFT
    # neighbor (the floor-average / predictor choice has no prefix-scan
    # form), so maximal RUNS of consecutive Average/Paeth rows go through
    # the anti-diagonal wavefront below — O(h + w) vectorized steps, no
    # per-byte Python anywhere.
    raw_a = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    filt_col = raw_a[:, 0]
    if filt_col.max(initial=0) > 4:
        raise ValueError("bad PNG filter byte")
    px = np.empty((h, stride), dtype=np.uint8)
    zero_row = np.zeros(stride, dtype=np.uint8)
    r = 0
    while r < h:
        f = int(filt_col[r])
        row = raw_a[r, 1:]
        up = px[r - 1] if r else zero_row
        if f == 0:  # None
            px[r] = row
        elif f == 1:  # Sub
            px[r] = (
                np.cumsum(row.reshape(-1, 3).astype(np.uint32), axis=0)
                .astype(np.uint8)
                .reshape(-1)
            )
        elif f == 2:  # Up
            px[r] = row + up  # uint8 wraps mod 256
        else:  # Average / Paeth: wavefront over the maximal run
            r1 = r
            while r1 + 1 < h and filt_col[r1 + 1] >= 3:
                r1 += 1
            _unfilter_avg_paeth_run(raw_a, px, r, r1, up)
            r = r1 + 1
            continue
        r += 1
    return {"width": w, "height": h, "mode": "RGB", "pixels": px.tobytes()}


def _unfilter_avg_paeth_run(raw_a, px, r0: int, r1: int, up_row) -> None:
    """Reconstruct rows [r0, r1] — all Average/Paeth filtered — in one
    anti-diagonal WAVEFRONT. Cell (row j, pixel i) depends on (j, i-1)
    [left], (j-1, i) [up], and (j-1, i-1) [upleft], so every cell on the
    diagonal d = i + j depends only on diagonals d-1 / d-2 and the whole
    diagonal evaluates elementwise: O(rows + width) vectorized steps
    instead of O(rows * width) sequential Python ones, the classic
    systolic scheduling of a 2-D recurrence. int16 holds every
    intermediate exactly (avg sum <= 510, Paeth's p in [-255, 510]), so
    the result is byte-identical to the spec's sequential arithmetic;
    the Average-vs-Paeth choice is a per-row elementwise select, letting
    mixed runs share one wavefront."""
    import numpy as np

    k = r1 - r0 + 1
    n = px.shape[1] // 3
    raw_px = raw_a[r0 : r1 + 1, 1:].reshape(k, n, 3).astype(np.int16)
    # padded state: cell (j, i) lives at X[j+1, i+1]; X[0, 1:] is the
    # reconstructed row above the run (zeros at the image top, per spec),
    # X[:, 0] is the spec's zero left/upleft border
    X = np.empty((k + 1, n + 1, 3), dtype=np.int16)
    X[0, 1:] = up_row.reshape(n, 3).astype(np.int16)
    X[:, 0] = 0
    is_avg = raw_a[r0 : r1 + 1, 0] == 3
    for d in range(k + n - 1):
        js = np.arange(max(0, d - n + 1), min(k - 1, d) + 1)
        iis = d - js
        a = X[js + 1, iis]  # left
        b = X[js, iis + 1]  # up
        c = X[js, iis]  # upleft
        p = a + b - c
        pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
        paeth = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
        pred = np.where(is_avg[js][:, None], (a + b) >> 1, paeth)
        X[js + 1, iis + 1] = (raw_px[js, iis] + pred) & 0xFF
    px[r0 : r1 + 1] = X[1:, 1:].astype(np.uint8).reshape(k, n * 3)


def decode_image(payload: bytes) -> dict:
    """Real image decode. BMP (24-bit uncompressed) and PNG (8-bit RGB,
    non-interlaced) decode natively — pure-Python parsers over struct/zlib,
    no codec library needed. Anything else (JPEG, exotic PNG variants)
    routes through the OPTIONAL Pillow hook below when that library is
    importable (it is absent from this container but common on real
    clusters); with no codec library the documented
    NotImplementedError -> fake_decode fallback applies unchanged. The
    plumbing around this function (schema, batching, partitioning) is
    format-agnostic either way."""
    err: Exception
    try:
        if payload[:2] == b"BM":
            return _parse_bmp(payload)
        if payload.startswith(_PNG_SIG):
            return _parse_png(payload)
        err = NotImplementedError(
            "only BMP and non-interlaced 8-bit RGB PNG decode without a "
            "codec library in this environment; install Pillow to widen "
            "coverage (decode_image picks it up automatically)"
        )
    except ValueError as native_err:
        # native parser rejected the payload (corrupt, or a variant it
        # doesn't speak, e.g. interlaced PNG) — a codec library may still
        # decode it
        err = native_err
    pil = _pil_decode(payload)
    if pil is not None:
        return pil
    raise err


def _pil_decode(payload: bytes) -> dict | None:
    """Optional codec-library hook: decode via Pillow when it is
    importable, returning the same contract dict as the native parsers
    (RGB pixel bytes, top-down). Returns None when Pillow is unavailable
    OR cannot decode the payload, so the caller's native error — and with
    it the logged fake_decode fallback semantics — is preserved exactly
    on containers without the library."""
    try:
        from PIL import Image
    except ImportError:
        return None
    import io

    try:
        with Image.open(io.BytesIO(payload)) as im:
            rgb = im.convert("RGB")
            return {
                "width": rgb.width,
                "height": rgb.height,
                "mode": "RGB",
                "pixels": rgb.tobytes(),
            }
    except Exception:
        return None


def fake_decode(payload: bytes) -> dict:
    """Deterministic stand-in decoder: derives plausible frame metadata and a
    16-bin byte histogram from the raw bytes. Pure function of the payload;
    histogram/mean are numpy bincount/sum (bit-identical to the old Python
    loop: exact int counts, one IEEE division each)."""
    import numpy as np

    n = len(payload)
    width = 16 + (payload[0] if n else 0) % 64
    height = 16 + (payload[-1] if n else 0) % 64
    arr = np.frombuffer(payload, dtype=np.uint8)
    hist = np.bincount(arr >> 4, minlength=16) if n else np.zeros(16, dtype=np.int64)
    total = float(n) if n else 1.0
    return {
        "width": int(width),
        "height": int(height),
        "mean_byte": float(arr.sum(dtype=np.int64) / total) if n else None,
        "features": (hist / total).tolist(),
    }


def _decode_or_fake(data: bytes) -> dict:
    """Route a payload through the real decoder when it is a supported image
    format; anything else gets the deterministic fake decode. For decoded
    images the stats (mean/hist) are over PIXEL bytes, not file bytes.

    The returned dict carries ``decoded``: False means the fake path ran —
    callers log a per-batch fallback count so silently faked rows are
    observable in executor logs instead of invisible."""
    import numpy as np

    try:
        img = decode_image(data)
    except (NotImplementedError, ValueError):
        return {**fake_decode(data), "decoded": False}
    px = img["pixels"]
    arr = np.frombuffer(px, dtype=np.uint8)
    hist = np.bincount(arr >> 4, minlength=16) if px else np.zeros(16, dtype=np.int64)
    total = float(len(px)) if px else 1.0
    return {
        "width": img["width"],
        "height": img["height"],
        "mean_byte": float(arr.sum(dtype=np.int64) / total) if px else None,
        "features": (hist / total).tolist(),
        "pixels": px,
        "decoded": True,
    }


def _log_fake_decodes(n_faked: int, n_total: int) -> None:
    """One INFO line per Arrow batch that hit the fake-decode fallback, in
    the EXECUTOR log (this runs in the Python worker). Aggregate per batch —
    per-row logging would flood; zero-fallback batches stay silent."""
    import logging

    logging.getLogger(__name__).info(
        "fake_decode fallback: %d/%d payloads in this batch were not "
        "decodable images (byte-arithmetic pseudo-features emitted)",
        n_faked,
        n_total,
    )


def extract_frame_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: Arrow batches in, feature rows out. Stateless and
    partition-safe — the contract every multimodal UDF here must satisfy."""
    for pdf in batches:
        out = []
        n_faked = 0
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            data = bytes(payload)
            meta = _decode_or_fake(data)
            n_faked += not meta["decoded"]
            out.append(
                {
                    "doc_id": int(doc_id),
                    "modality": "image",
                    "byte_len": len(data),
                    "width": meta["width"],
                    "height": meta["height"],
                    "mean_byte": meta["mean_byte"],
                    "features": meta["features"],
                }
            )
        if n_faked:
            _log_fake_decodes(n_faked, len(out))
        yield pd.DataFrame(out, columns=[f.name for f in FRAME_FEATURE_SCHEMA.fields])


def frame_features_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw mapInPandas feature extraction (features as array<double>) —
    the form downstream jobs consume; unit-tested in tests/test_multimodal.py."""
    payloads = (
        spread(table(spark, sf_dir, "documents"))
        # zero-byte payloads are malformed media (no header byte to parse)
        # and are quarantined like any corrupt record — adversarial-gate
        # contract, mirrored by the oracles' octet_length > 0
        .filter(F.length("text") > 0)
        .select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
    )
    return payloads.mapInPandas(extract_frame_features, FRAME_FEATURE_SCHEMA)


# The fake decoder is pure byte arithmetic, so the oracle re-derives it in SQL
# from the hex dump: byte i = hex pair i, nibble histogram = high-hex-digit
# counts, width/height = first/last byte mod 64. Bit-identical divisions
# (exact int / exact int) on both engines — verified over every document.
_SQL_FEATURE_COLS = ",\n           ".join(
    f"CAST(len(list_filter(bs, x -> x // 16 = {k})) AS DOUBLE)"
    f" / CAST(n AS DOUBLE) AS f{k:02d}"
    for k in range(16)
)


@register(
    "mm_frame_features",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n
      FROM documents WHERE octet_length(encode(text)) > 0),
    bytes AS (
      SELECT doc_id, n,
             list_transform(range(0, n),
               i -> (('0x' || substr(hx, 2*i+1, 2))::UBIGINT)::BIGINT) AS bs
      FROM b)
    SELECT doc_id,
           'image' AS modality,
           n AS byte_len,
           CAST(16 + (bs[1] % 64) AS INTEGER) AS width,
           CAST(16 + (bs[n] % 64) AS INTEGER) AS height,
           CAST(list_sum(bs) AS DOUBLE) / CAST(n AS DOUBLE) AS mean_byte,
           {_SQL_FEATURE_COLS}
    FROM bytes ORDER BY doc_id
    """,
    tags=("MM2",),
)
def mm_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payloads -> mapInPandas feature extraction (fake decoder).

    Scale: Arrow-batched transfer, one python worker per core, no shuffle;
    repartition upstream if payload sizes are skewed. This is the template
    for resize / frame-sample / audio-feature jobs at 100 TB.

    Driver-facing projection flattens the 16-bin histogram into f00..f15
    double columns (a raw array<double> breaks the driver's pandas
    canonicalizer); the array form stays available via frame_features_df.
    """
    feats = frame_features_df(spark, sf_dir)
    return feats.select(
        "doc_id",
        "modality",
        "byte_len",
        "width",
        "height",
        "mean_byte",
        *[F.col("features").getItem(k).alias(f"f{k:02d}") for k in range(16)],
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Resize / frame-sample plumbing (stub codec, real Spark mechanics).
# --------------------------------------------------------------------------

RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("src_width", T.IntegerType(), True),
        T.StructField("src_height", T.IntegerType(), True),
        T.StructField("dst_width", T.IntegerType(), False),
        T.StructField("dst_height", T.IntegerType(), False),
        T.StructField("thumb", T.BinaryType(), True),
    ]
)

_THUMB = 8  # target thumbnail side


def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas resize worker: decode (stub) -> downsample the byte grid
    to an 8x8 thumbnail by strided sampling. A real codec swaps fake_decode
    + the sampling loop for PIL resize; schema/batching stay identical."""
    import numpy as np

    for pdf in batches:
        out = []
        n_faked = 0
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            data = bytes(payload)
            meta = _decode_or_fake(data)
            n_faked += not meta["decoded"]
            w, h = meta["width"], meta["height"]
            # decoded images sample the pixel grid; opaque payloads sample
            # the raw byte stream (same strided arithmetic either way)
            grid = meta.get("pixels", data)
            if grid:
                # same strided arithmetic as before, as one numpy gather
                garr = np.frombuffer(grid, dtype=np.uint8)
                step = max(1, len(grid) // (_THUMB * _THUMB))
                idx = (
                    np.arange(_THUMB)[:, None] * step + np.arange(_THUMB)[None, :]
                ).reshape(-1) % len(grid)
                thumb = garr[idx].tobytes()
            else:
                thumb = None
            out.append(
                {
                    "doc_id": int(doc_id),
                    "src_width": w,
                    "src_height": h,
                    "dst_width": _THUMB,
                    "dst_height": _THUMB,
                    "thumb": thumb,
                }
            )
        if n_faked:
            _log_fake_decodes(n_faked, len(out))
        yield pd.DataFrame(out, columns=[f.name for f in RESIZE_SCHEMA.fields])


def resize_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw mapInPandas resize (thumb as binary) — the form an image
    derivative pipeline writes out; unit-tested in tests/test_multimodal.py."""
    payloads = (
        spread(table(spark, sf_dir, "documents"))
        .filter(F.length("text") > 0)  # zero-byte = malformed, quarantined
        .select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
    )
    return payloads.mapInPandas(resize_batches, RESIZE_SCHEMA)


@register(
    "mm_resize",
    oracle="""
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n
      FROM documents WHERE octet_length(encode(text)) > 0)
    SELECT doc_id,
           CAST(16 + (('0x' || substr(hx, 1, 2))::UBIGINT)::BIGINT % 64
                AS INTEGER) AS src_width,
           CAST(16 + (('0x' || substr(hx, 2*n-1, 2))::UBIGINT)::BIGINT % 64
                AS INTEGER) AS src_height,
           CAST(8 AS INTEGER) AS dst_width,
           CAST(8 AS INTEGER) AS dst_height,
           array_to_string(list_transform(range(0, 64),
             k -> substr(hx,
                         2*(((k // 8) * greatest(1, n // 64) + (k % 8)) % n) + 1,
                         2)), '') AS thumb_hex
    FROM b ORDER BY doc_id
    """,
    tags=("MM3",),
)
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payloads -> fixed-size thumbnails via Arrow-batched
    mapInPandas. One python worker per core, no shuffle; output is a typed
    binary column + dimension metadata — the write side of an image-derivative
    pipeline at 100 TB (partition by size class before the write).

    Driver-facing projection hex-encodes the thumbnail so the oracle can
    re-derive the strided byte sampling in SQL (the sampling is deterministic
    byte arithmetic); the binary form stays available via resize_df.
    """
    return resize_df(spark, sf_dir).select(
        "doc_id",
        "src_width",
        "src_height",
        "dst_width",
        "dst_height",
        F.hex(F.col("thumb")).alias("thumb_hex"),
    ).orderBy("doc_id")


@register(
    "mm_frame_sample",
    oracle=f"""
    WITH frames AS (
      SELECT doc_id,
             octet_length(encode(text)) AS byte_len,
             CAST(floor(octet_length(encode(text)) / 100) AS BIGINT) AS n_frames
      FROM documents)
    SELECT doc_id, byte_len, n_frames,
           CAST(CASE WHEN n_frames > 8 THEN 8 ELSE n_frames END AS BIGINT)
             AS n_sampled
    FROM frames
    WHERE n_frames > 0
    ORDER BY doc_id
    """,
    tags=("MM4",),
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling plan for a video-like payload: treat every 100 bytes
    as one frame, sample uniformly capped at 8 frames. The *selection*
    arithmetic is pure column math (oracle-checked); actual frame extraction
    is the mapInPandas pattern of mm_resize with a codec stub."""
    byte_len = F.octet_length(F.encode(F.col("text"), "UTF-8"))
    n_frames = F.floor(byte_len / 100).cast("long")
    return (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            byte_len.cast("long").alias("byte_len"),
            n_frames.alias("n_frames"),
            F.least(n_frames, F.lit(8)).cast("long").alias("n_sampled"),
        )
        .filter(F.col("n_frames") > 0)
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# MM5 — audio-frame energy: binary payloads as int16 LE PCM, framed, with
# integer-exact per-frame energies (the audio half of the multimodal
# surface; a real decoder swaps np.frombuffer for soundfile/ffmpeg).
# --------------------------------------------------------------------------

_PCM_FRAME = 32  # samples per frame (64 bytes)

AUDIO_ENERGY_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_samples", T.LongType(), False),
        T.StructField("n_frames", T.LongType(), False),
        T.StructField("peak_frame", T.LongType(), True),
        T.StructField("peak_energy", T.LongType(), True),
        T.StructField("total_energy", T.LongType(), False),
    ]
)


def audio_energy_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: payload bytes -> int16-LE samples (numpy
    frombuffer — the exact layout a PCM WAV data chunk has) -> fixed
    32-sample frames -> int64 sum-of-squares energy per frame. All integer
    arithmetic: bit-exact on any engine, any partitioning. argmax ties take
    the first (lowest) frame, matching the oracle's list_position."""
    import numpy as np

    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            data = bytes(payload)
            sam = np.frombuffer(data[: len(data) // 2 * 2], dtype="<i2").astype(
                np.int64
            )
            nf = len(sam) // _PCM_FRAME
            frames = sam[: nf * _PCM_FRAME].reshape(nf, _PCM_FRAME)
            en = (frames * frames).sum(axis=1)
            out.append(
                {
                    "doc_id": int(doc_id),
                    "n_samples": len(sam),
                    "n_frames": nf,
                    "peak_frame": int(en.argmax()) if nf else None,
                    "peak_energy": int(en.max()) if nf else None,
                    "total_energy": int(en.sum()) if nf else 0,
                }
            )
        yield pd.DataFrame(out, columns=[f.name for f in AUDIO_ENERGY_SCHEMA.fields])


@register(
    "mm_audio_energy",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
      FROM documents),
    sam AS (
      SELECT doc_id, n // 2 AS ns,
             list_transform(range(0, n // 2), j ->
               (('0x' || substr(hx, 4*j+1, 2))::UBIGINT)::BIGINT
               + 256 * ((('0x' || substr(hx, 4*j+3, 2))::UBIGINT)::BIGINT)
               - CASE WHEN (('0x' || substr(hx, 4*j+3, 2))::UBIGINT)::BIGINT >= 128
                      THEN 65536 ELSE 0 END) AS ss
      FROM b),
    en AS (
      SELECT doc_id, ns, ns // {_PCM_FRAME} AS nf,
             list_transform(range(0, ns // {_PCM_FRAME}), f ->
               list_sum(list_transform(
                 list_slice(ss, {_PCM_FRAME}*f + 1, {_PCM_FRAME}*f + {_PCM_FRAME}),
                 x -> x*x))) AS es
      FROM sam)
    SELECT doc_id,
           ns AS n_samples,
           nf AS n_frames,
           CASE WHEN nf > 0
                THEN CAST(list_position(es, list_max(es)) - 1 AS BIGINT) END
             AS peak_frame,
           CASE WHEN nf > 0 THEN CAST(list_max(es) AS BIGINT) END AS peak_energy,
           CAST(COALESCE(list_sum(es), 0) AS BIGINT) AS total_energy
    FROM en ORDER BY doc_id
    """,
    tags=("MM5",),
)
def mm_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction over opaque binary payloads: bytes are read
    as int16 little-endian PCM (the WAV data-chunk layout), cut into
    32-sample frames, and each frame's sum-of-squares energy is computed —
    the framing/energy pass behind VAD, silence trimming, and loudness
    stats in an audio training pipeline. Peak frame = argmax energy (first
    on ties).

    Spark shape: Arrow-batched mapInPandas, one numpy frombuffer + one
    reshaped matrix multiply per batch — no per-row Python, no shuffle
    (the output sort is the only exchange). Integer energies make the
    result bit-exact against the oracle's hex-dump re-derivation, the
    same portability trick as mm_frame_features."""
    payloads = spread(table(spark, sf_dir, "documents")).select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    return payloads.mapInPandas(audio_energy_batches, AUDIO_ENERGY_SCHEMA).orderBy(
        "doc_id"
    )


# --------------------------------------------------------------------------
# MM6 — perceptual dHash over the sampled luminance grid + hash-bucket
# image dedup. The difference hash (dHash): sample a 9x8 grid, emit one bit
# per horizontally-adjacent pair (left > right), pack 64 bits. Identical
# payloads always collide; near-identical payloads collide with high
# probability — the standard cheap image-dedup key before pixelwise diff.
# --------------------------------------------------------------------------

_DH_COLS = 9  # grid width (8 comparisons per row)
_DH_ROWS = 8


def _dh_sql_g(i: str) -> str:
    """DuckDB: grid sample i (0..71) as a byte value via MM3's stride."""
    return (
        f"(('0x' || substr(hx, 2*((({i} // {_DH_COLS}) * greatest(1, n // "
        f"{_DH_COLS * _DH_ROWS}) + ({i} % {_DH_COLS})) % n) + 1, 2))"
        "::UBIGINT)::BIGINT"
    )


@register(
    "mm_dhash_dedup",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n
      FROM documents WHERE octet_length(encode(text)) > 0),
    bits AS (
      SELECT doc_id,
             list_transform(range(0, 64), k ->
               CASE WHEN {_dh_sql_g(f"((k // {_DH_COLS - 1}) * {_DH_COLS} + (k % {_DH_COLS - 1}))")}
                       > {_dh_sql_g(f"((k // {_DH_COLS - 1}) * {_DH_COLS} + (k % {_DH_COLS - 1}) + 1)")}
                    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END) AS bs
      FROM b),
    packed AS (
      SELECT doc_id,
             lpad(lower(hex(list_reduce(bs[1:32], (acc, x) -> acc * 2 + x))), 8, '0')
               || lpad(lower(hex(list_reduce(bs[33:64], (acc, x) -> acc * 2 + x))), 8, '0')
               AS dhash
      FROM bits)
    SELECT doc_id, dhash,
           COUNT(*) OVER (PARTITION BY dhash) AS n_bucket
    FROM packed
    ORDER BY doc_id
    """,
    tags=("MM6",),
)
def mm_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM6: difference-hash every payload (9x8 strided luminance grid, one
    bit per adjacent-pair comparison, packed to 16 hex chars) and annotate
    each doc with its hash-bucket size — bucket > 1 marks candidate
    duplicate images for pixelwise verification.

    Spark shape for 100 TB: the hash is pure per-row Column math (hex
    substr + conv inside whole-stage codegen — no Python, no decode
    round-trip for the fake-payload fixture; real image payloads route the
    SAME grid through the mapInPandas decoder of mm_resize first). The only
    shuffle is the bucket-count window keyed on the 16-char hash — exactly
    the dedup_exact shape with a perceptual key instead of md5."""
    # spread() (r12): the per-row dhash is 128 conv(substr(hex)) grid
    # samples over a KB-scale hex dump — heavy interpreted map work that
    # ran on the fixture's single input partition (measured 5.8s -> 1.5s
    # at sf0.1 spread across cores; a no-op on multi-file 100 TB inputs)
    docs = spread(
        table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)  # zero-byte = malformed, quarantined
        .select("doc_id", "text")
    )
    hx = F.hex(F.encode(F.col("text"), "UTF-8"))
    n = F.octet_length(F.encode(F.col("text"), "UTF-8"))
    grid_n = _DH_COLS * _DH_ROWS

    def g(i: F.Column) -> F.Column:
        pos = (
            (i / _DH_COLS).cast("long") * F.greatest(F.lit(1), (n / grid_n).cast("long"))
            + (i % _DH_COLS)
        ) % n
        return F.conv(F.substring(hx, (pos * 2 + 1).cast("int"), 2), 16, 10).cast(
            "long"
        )

    def bit(k: F.Column) -> F.Column:
        i = (k / (_DH_COLS - 1)).cast("long") * _DH_COLS + (k % (_DH_COLS - 1))
        return F.when(g(i) > g(i + 1), F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )

    bits = F.transform(F.sequence(F.lit(0), F.lit(63)), bit)
    pack = lambda arr: F.lpad(  # noqa: E731
        F.lower(F.hex(F.aggregate(arr, F.lit(0).cast("long"), lambda a, x: a * 2 + x))),
        8,
        "0",
    )
    dhash = F.concat(pack(F.slice(bits, 1, 32)), pack(F.slice(bits, 33, 32)))
    from pyspark.sql import Window

    w = Window.partitionBy("dhash")
    return (
        docs.select("doc_id", dhash.alias("dhash"))
        .withColumn("n_bucket", F.count(F.lit(1)).over(w))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# MM7 — ViT-style patch extraction: one payload row fans out into P patch
# rows, each with its byte range and exact mean intensity. The EXPLODING
# mapInPandas shape (rows out > rows in) is the one multimodal pattern the
# other MM jobs (1 row -> 1 row) don't exercise — it's how patch/tile/
# frame extraction feeds a training pipeline, where downstream operators
# consume patches, not images. Byte arithmetic only (quarter slices of the
# payload; sum/len exact-int division), so the oracle re-derives the exact
# result from the hex dump like MM2.
# --------------------------------------------------------------------------

_N_PATCHES = 4

PATCH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("patch", T.IntegerType(), False),
        T.StructField("patch_len", T.LongType(), False),
        T.StructField("mean_byte", T.DoubleType(), True),
    ]
)


def patch_mean_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas patch worker: slice each payload into _N_PATCHES
    contiguous byte ranges (last takes the remainder) and emit one row per
    patch. A real ViT pipeline swaps the byte slices for pixel-grid tiles
    and mean for a patch embedding; fan-out, schema, and batching are
    identical."""
    import numpy as np

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            data = bytes(payload)
            arr = np.frombuffer(data, dtype=np.uint8)
            n = len(data)
            base = n // _N_PATCHES
            for p in range(_N_PATCHES):
                start = p * base
                end = (p + 1) * base if p < _N_PATCHES - 1 else n
                ln = end - start
                rows.append(
                    {
                        "doc_id": doc_id,
                        "patch": p,
                        "patch_len": ln,
                        # exact int sum -> one IEEE division, same as sum()/len()
                        "mean_byte": (
                            float(arr[start:end].sum(dtype=np.int64) / ln)
                            if ln
                            else None
                        ),
                    }
                )
        yield pd.DataFrame(rows, columns=[f.name for f in PATCH_SCHEMA.fields])


@register(
    "mm_patch_means",
    oracle=f"""
    WITH b7 AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n
      FROM documents WHERE octet_length(encode(text)) > 0),
    grid AS (
      SELECT doc_id, n, hx, unnest(range({_N_PATCHES})) AS patch
      FROM b7),
    ranges AS (
      SELECT doc_id, CAST(patch AS INTEGER) AS patch,
             patch * (n // {_N_PATCHES}) AS s,
             CASE WHEN patch = {_N_PATCHES - 1}
                  THEN n ELSE (patch + 1) * (n // {_N_PATCHES}) END AS e,
             hx
      FROM grid)
    SELECT doc_id, patch,
           CAST(e - s AS BIGINT) AS patch_len,
           CASE WHEN e > s THEN
             CAST(list_sum(list_transform(range(s, e),
               i -> (('0x' || substr(hx, 2*i+1, 2))::UBIGINT)::BIGINT))
               AS DOUBLE) / CAST(e - s AS DOUBLE)
           END AS mean_byte
    FROM ranges
    ORDER BY doc_id, patch
    """,
    tags=("MM7",),
)
def mm_patch_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM7: quarter-patch byte statistics per document payload (module
    comment).

    Arrow-batched mapInPandas with fan-out: each input row yields
    _N_PATCHES output rows inside the same batch — no shuffle, no
    explode-then-regroup round trip; the patch rows land already
    co-partitioned with their source payloads for whatever consumes them
    next. mean_byte is one exact-int division, bit-identical to the
    oracle's hex-dump re-derivation."""
    payloads = (
        spread(table(spark, sf_dir, "documents"))
        .filter(F.length("text") > 0)  # zero-byte = malformed, quarantined
        .select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
    )
    return (
        payloads.mapInPandas(patch_mean_batches, PATCH_SCHEMA)
        .orderBy("doc_id", "patch")
    )


# --------------------------------------------------------------------------
# MM8 — scene-change keyframe selection: frame the payload (MM4's 100-byte
# frames), compute one integer signature per frame, and keep the frames
# whose signature jumps from the previous frame — the shot-boundary
# selection pass of a video curation pipeline (a codec deployment swaps
# the byte-sum signature for a luminance histogram; the framing, delta
# test, and selection plumbing are format-agnostic, same contract as
# MM4-MM6).
# --------------------------------------------------------------------------

_KF_FRAME = 100  # bytes per frame (MM4's framing)
_KF_TAU = 200  # signature L1 jump that marks a scene change (~p75 of the
# synthetic corpus' adjacent-frame deltas, so selection is non-trivial)

KEYFRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_frames", T.LongType(), False),
        T.StructField("n_keyframes", T.LongType(), False),
        T.StructField("keyframes", T.ArrayType(T.LongType()), False),
    ]
)


def keyframe_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: payload bytes -> uint8 samples -> 100-byte
    frames -> int64 per-frame byte sums -> keyframe = frame 0 plus every
    frame whose |sum delta| vs the previous frame reaches the threshold.
    All integer arithmetic (numpy reshape + sum + diff, no per-byte
    Python), bit-exact on any engine and partitioning."""
    import numpy as np

    for pdf in batches:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            data = bytes(payload)
            nf = len(data) // _KF_FRAME
            if nf == 0:
                continue
            arr = np.frombuffer(data, dtype=np.uint8, count=nf * _KF_FRAME)
            sig = arr.reshape(nf, _KF_FRAME).sum(axis=1, dtype=np.int64)
            jump = np.abs(np.diff(sig)) >= _KF_TAU
            kfs = [0] + (np.nonzero(jump)[0] + 1).tolist()
            out.append(
                {
                    "doc_id": int(doc_id),
                    "n_frames": nf,
                    "n_keyframes": len(kfs),
                    "keyframes": [int(k) for k in kfs],
                }
            )
        yield pd.DataFrame(out, columns=[f.name for f in KEYFRAME_SCHEMA.fields])


@register(
    "mm_keyframe_select",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n
      FROM documents WHERE octet_length(encode(text)) > 0),
    fr AS (
      SELECT doc_id, n // {_KF_FRAME} AS nf,
             list_transform(range(0, n // {_KF_FRAME}), f ->
               list_sum(list_transform(
                 range({_KF_FRAME}*f, {_KF_FRAME}*f + {_KF_FRAME}), j ->
                   (('0x' || substr(hx, 2*j+1, 2))::UBIGINT)::BIGINT))) AS sig
      FROM b WHERE n // {_KF_FRAME} > 0),
    kf AS (
      SELECT doc_id, nf,
             list_filter(range(0, nf), f ->
               f = 0 OR abs(sig[f+1] - sig[f]) >= {_KF_TAU}) AS kfs
      FROM fr)
    SELECT doc_id,
           CAST(nf AS BIGINT) AS n_frames,
           CAST(len(kfs) AS BIGINT) AS n_keyframes,
           array_to_string(kfs, ',') AS keyframes
    FROM kf
    ORDER BY doc_id
    """,
    tags=("MM8",),
)
def mm_keyframe_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM8: shot-boundary keyframe selection (module comment). Frame 0 is
    always a keyframe; frame f > 0 is one iff its byte-sum signature moved
    at least _KF_TAU from frame f-1. Documents shorter than one frame are
    excluded on both engines.

    Spark shape: Arrow-batched mapInPandas, one numpy reshape + row-sum +
    diff per payload — no per-byte Python, no shuffle (the output sort is
    the only exchange); at 100 TB of video this is the embarrassingly
    parallel scan that feeds frame extraction (only selected keyframes are
    ever decoded downstream). Integer signatures make the result bit-exact
    against the oracle's hex-dump re-derivation."""
    payloads = (
        spread(table(spark, sf_dir, "documents"))
        .filter(F.length("text") > 0)  # zero-byte = malformed, quarantined
        .select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
    )
    # keyframes serialized to a comma-joined STRING: the driver's pandas
    # canonicalizer cannot hash ARRAY cells (CORRECTNESS_r11), so registered
    # queries never emit complex-typed output columns (guarded by
    # tests/test_registry_contract.py). The worker keeps its typed array —
    # downstream frame extraction wants positions, not strings.
    return (
        payloads.mapInPandas(keyframe_batches, KEYFRAME_SCHEMA)
        .select(
            "doc_id",
            "n_frames",
            "n_keyframes",
            F.array_join(F.col("keyframes").cast("array<string>"), ",").alias(
                "keyframes"
            ),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# MM9 — voice-activity segmentation (VAD) over binary PCM payloads: frame
# energies (MM5's framing) thresholded at the per-document mean, then
# maximal runs of consecutive voiced frames found with the gaps-and-islands
# trick (frame_idx - row_number() is constant within a run). This is the
# silence-trimming / utterance-splitting pass an audio training pipeline
# runs before transcription — the per-doc segment count, longest segment,
# and voiced fraction are its selection signals.
#
# Hybrid shape the multimodal family is built on: Arrow-batched numpy does
# the byte-level work (payload -> int16 samples -> per-frame int64
# energies, one frombuffer + one reshaped matmul per batch), then
# JVM-side windows do the relational work (islands, runs, aggregates) —
# exchanges are ONE hash partition by doc_id reused by both windows plus
# the two keyed aggregations. Thresholding is exact-integer (voiced iff
# nf * e > total_e, i.e. e > mean without the division); only voiced_frac
# divides, once, at the end.
# --------------------------------------------------------------------------

AUDIO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("f", T.IntegerType(), False),
        T.StructField("e", T.LongType(), False),
    ]
)


def audio_frame_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: payload bytes -> one row per 32-sample frame
    with its int64 sum-of-squares energy (MM5's framing, row-expanded)."""
    import numpy as np

    for pdf in batches:
        ids, fs, es = [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            data = bytes(payload)
            sam = np.frombuffer(data[: len(data) // 2 * 2], dtype="<i2").astype(
                np.int64
            )
            nf = len(sam) // _PCM_FRAME
            if not nf:
                continue
            en = (
                sam[: nf * _PCM_FRAME].reshape(nf, _PCM_FRAME) ** 2
            ).sum(axis=1)
            ids.extend([int(doc_id)] * nf)
            fs.extend(range(nf))
            es.extend(int(x) for x in en)
        yield pd.DataFrame({"doc_id": ids, "f": fs, "e": es})


# MM9's frame/segment derivation as a reusable oracle fragment (PIPE3's
# manifest must agree with the standalone report verbatim).
_SQL_VAD_CTES = f"""
    vb AS (
      SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
      FROM documents),
    vsam AS (
      SELECT doc_id, n // 2 AS ns,
             list_transform(range(0, n // 2), j ->
               (('0x' || substr(hx, 4*j+1, 2))::UBIGINT)::BIGINT
               + 256 * ((('0x' || substr(hx, 4*j+3, 2))::UBIGINT)::BIGINT)
               - CASE WHEN (('0x' || substr(hx, 4*j+3, 2))::UBIGINT)::BIGINT >= 128
                      THEN 65536 ELSE 0 END) AS ss
      FROM vb),
    ven AS (
      SELECT doc_id, ns // {_PCM_FRAME} AS nf,
             list_transform(range(0, ns // {_PCM_FRAME}), f ->
               list_sum(list_transform(
                 list_slice(ss, {_PCM_FRAME}*f + 1, {_PCM_FRAME}*f + {_PCM_FRAME}),
                 x -> x*x))) AS es
      FROM vsam WHERE ns // {_PCM_FRAME} >= 1),
    vfr AS (
      SELECT doc_id, nf,
             CAST(unnest(range(0, nf)) AS BIGINT) AS f,
             CAST(list_sum(es) AS BIGINT) AS tot,
             unnest(es) AS e
      FROM ven),
    vvoiced AS (
      SELECT doc_id, nf, f,
             f - row_number() OVER (PARTITION BY doc_id ORDER BY f) AS grp
      FROM vfr WHERE nf * e > tot),
    vseg AS (
      SELECT doc_id, nf, COUNT(*) AS seg_len
      FROM vvoiced GROUP BY doc_id, nf, grp),
    vad AS (
      SELECT doc_id,
             CAST(nf AS BIGINT) AS n_frames,
             CAST(SUM(seg_len) AS BIGINT) AS n_voiced,
             CAST(COUNT(*) AS BIGINT) AS n_segments,
             CAST(MAX(seg_len) AS BIGINT) AS longest_seg,
             CAST(SUM(seg_len) AS DOUBLE) / CAST(nf AS DOUBLE) AS voiced_frac
      FROM vseg
      GROUP BY doc_id, nf)
"""


@register(
    "mm_vad_segments",
    oracle=f"""
    WITH {_SQL_VAD_CTES}
    SELECT doc_id, n_frames, n_voiced, n_segments, longest_seg, voiced_frac
    FROM vad
    ORDER BY doc_id
    """,
    tags=("MM9",),
)
def mm_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM9: per-document voice-activity segments (block comment above).
    Documents whose energy never crosses the mean (e.g. constant-energy
    payloads) have no voiced frames and drop out — the report lists docs
    with at least one segment."""
    from pyspark.sql import Window

    payloads = spread(table(spark, sf_dir, "documents")).select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    fr = payloads.mapInPandas(audio_frame_rows, AUDIO_FRAME_SCHEMA)
    wdoc = Window.partitionBy("doc_id")
    fr = fr.select(
        "doc_id",
        F.col("f").cast("long").alias("f"),
        "e",
        F.count(F.lit(1)).over(wdoc).alias("nf"),
        F.sum("e").over(wdoc).alias("tot"),
    )
    worder = Window.partitionBy("doc_id").orderBy("f")
    voiced = fr.filter(F.col("nf") * F.col("e") > F.col("tot")).select(
        "doc_id",
        "nf",
        (F.col("f") - F.row_number().over(worder)).alias("grp"),
    )
    seg = voiced.groupBy("doc_id", "nf", "grp").agg(
        F.count(F.lit(1)).alias("seg_len")
    )
    return (
        seg.groupBy("doc_id", "nf")
        .agg(
            F.sum("seg_len").cast("long").alias("n_voiced"),
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.max("seg_len").cast("long").alias("longest_seg"),
        )
        .select(
            "doc_id",
            F.col("nf").cast("long").alias("n_frames"),
            "n_voiced",
            "n_segments",
            "longest_seg",
            (
                F.col("n_voiced").cast("double") / F.col("nf").cast("double")
            ).alias("voiced_frac"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# PIPE3 — composed multimodal (audio) corpus build: the manifest a speech
# training pipeline hands to its sampler. One DAG composes four operators
# this module/family already proves piecewise: exact payload dedup (D1's
# min-id-per-md5 rule), the TX8 hashed-weight quality gate, MM9's VAD
# segmentation, and MM1's byte metadata — keep a document iff it is its
# duplicate-group's exemplar, its quality score clears 0, and at least
# half its frames are voiced (2 * n_voiced >= n_frames: the integer form,
# no float threshold). Every constituent rule is stated ONCE module-wide
# (shared SQL fragments / factored Columns), so the composition cannot
# drift from the standalone reports.
#
# Spark shape at 100 TB: the quality gate and byte metadata are map-only
# expressions on the scan; dedup is one md5-keyed aggregation + semi
# join; VAD contributes its doc-keyed exchange; the final join is
# doc_id-keyed. Nothing fact-sized funnels through a driver or a single
# partition.
# --------------------------------------------------------------------------


from .text import SQL_QC_RAW as _SQL_QC_RAW  # noqa: E402  (no import cycle: text.py is leaf)


@register(
    "mm_audio_corpus_build",
    oracle=f"""
    WITH {_SQL_VAD_CTES},
    qc AS (
      SELECT doc_id,
             octet_length(encode(text)) AS byte_len,
             md5(text) AS content_md5,
             {_SQL_QC_RAW} AS raw_score
      FROM documents),
    winners AS (
      SELECT MIN(doc_id) AS doc_id FROM qc GROUP BY content_md5)
    SELECT q.doc_id, CAST(q.byte_len AS BIGINT) AS byte_len, q.content_md5,
           v.n_segments, v.longest_seg, v.voiced_frac
    FROM qc q
    SEMI JOIN winners w ON q.doc_id = w.doc_id
    JOIN vad v ON q.doc_id = v.doc_id
    WHERE q.raw_score >= 0 AND 2 * v.n_voiced >= v.n_frames
    ORDER BY q.doc_id
    """,
    tags=("PIPE3",),
)
def mm_audio_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIPE3: the composed audio-corpus manifest (block comment above) —
    exemplar-deduped, quality-gated, voiced-majority documents with their
    byte metadata and VAD stats."""
    from .text import quality_raw_score

    payload = F.encode(F.col("text"), "UTF-8")
    qc = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.octet_length(payload).cast("long").alias("byte_len"),
        F.md5(payload).alias("content_md5"),
        quality_raw_score().alias("raw_score"),
    )
    winners = qc.groupBy("content_md5").agg(F.min("doc_id").alias("doc_id"))
    vad = mm_vad_segments(spark, sf_dir)
    return (
        qc.join(winners.select("doc_id"), "doc_id", "semi")
        .filter(F.col("raw_score") >= 0)
        .join(vad, "doc_id")
        .filter(2 * F.col("n_voiced") >= F.col("n_frames"))
        .select(
            "doc_id",
            "byte_len",
            "content_md5",
            "n_segments",
            "longest_seg",
            "voiced_frac",
        )
        .orderBy("doc_id")
    )

