"""Multimodal column plumbing (SURVEY §2.O): image/audio/video as opaque
``binary`` columns with typed metadata, processed via Arrow-batched
``mapInPandas``.

The uncompressed self-describing formats are REALLY decoded in pure
Python — no codec library needed: ``decode_image`` (BMP 24-bit,
PPM P6) feeds real pixel grids to ``resize_images``, and
``decode_audio`` (RIFF/WAVE PCM16) feeds real samples to
``audio_features``; opaque media falls back to deterministic
byte-level stand-ins. Compressed codecs (PNG/JPEG/MP3/video) remain
out of scope for this container; the Spark-side plumbing (schema,
Arrow batch iteration, partitioning, UDF signatures) is identical for
them.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

#: schema of a multimodal asset row: opaque payload + typed metadata
ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", T.StructType(
            [
                T.StructField("byte_len", T.LongType()),
                T.StructField("checksum", T.StringType()),
            ]
        )),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


def decode_image(payload: bytes) -> tuple[int, int, bytes]:
    """Decode an image payload to ``(width, height, rgb)`` — rgb is
    row-major top-down RGB24 (3 bytes/pixel).

    Pure-Python decoders for the two self-describing uncompressed
    formats (no codec library in this container, none needed):

    - **BMP** (``BM`` magic): BITMAPINFOHEADER, 24-bit, uncompressed.
      Rows are 4-byte aligned, stored bottom-up (top-down when the
      header height is negative), BGR byte order.
    - **PPM** (``P6`` magic): binary RGB, ``#`` comments allowed,
      maxval ≤ 255.

    Raises ``ValueError`` on any other payload — callers that accept
    arbitrary media fall back to opaque-bytes handling (resize_images).
    """
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if payload[:2] == b"P6":
        return _decode_ppm(payload)
    raise ValueError("unsupported image format (BMP 24-bit / PPM P6 only)")


def _decode_bmp(payload: bytes) -> tuple[int, int, bytes]:
    import struct

    if len(payload) < 54:
        raise ValueError("truncated BMP header")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", payload, 14)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if hdr_size < 40 or planes != 1:
        raise ValueError("unsupported BMP DIB header")
    if bpp != 24 or compression != 0:
        raise ValueError("only uncompressed 24-bit BMP supported")
    top_down = h < 0
    h = abs(h)
    row_stride = (w * 3 + 3) & ~3  # rows padded to 4-byte boundary
    if len(payload) < data_offset + row_stride * h:
        raise ValueError("truncated BMP pixel data")
    out = bytearray(w * h * 3)
    for row in range(h):
        src_row = row if top_down else h - 1 - row
        base = data_offset + src_row * row_stride
        dst = row * w * 3
        line = payload[base : base + w * 3]
        # BGR → RGB
        out[dst : dst + w * 3 : 3] = line[2::3]
        out[dst + 1 : dst + w * 3 : 3] = line[1::3]
        out[dst + 2 : dst + w * 3 : 3] = line[0::3]
    return w, h, bytes(out)


def _decode_ppm(payload: bytes) -> tuple[int, int, bytes]:
    # header = magic + 3 whitespace-separated ints, '#' comments allowed
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        if pos == start:
            raise ValueError("truncated PPM header")
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    rgb = payload[pos : pos + w * h * 3]
    if len(rgb) != w * h * 3:
        raise ValueError("truncated PPM pixel data")
    return w, h, rgb


def encode_bmp(width: int, height: int, rgb: bytes) -> bytes:
    """Encode row-major top-down RGB24 pixels as an uncompressed 24-bit
    BMP (the sink-side twin of :func:`decode_image`; also builds the
    in-repo decode test fixtures)."""
    import struct

    if len(rgb) != width * height * 3:
        raise ValueError("rgb length != width*height*3")
    row_stride = (width * 3 + 3) & ~3
    pad = b"\x00" * (row_stride - width * 3)
    body = bytearray()
    for row in range(height - 1, -1, -1):  # bottom-up
        line = rgb[row * width * 3 : (row + 1) * width * 3]
        bgr = bytearray(len(line))
        bgr[0::3] = line[2::3]
        bgr[1::3] = line[1::3]
        bgr[2::3] = line[0::3]
        body += bgr + pad
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + len(body), 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return header + bytes(body)


def encode_ppm(width: int, height: int, rgb: bytes) -> bytes:
    """Encode RGB24 pixels as binary PPM (P6)."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb length != width*height*3")
    return b"P6\n%d %d\n255\n" % (width, height) + rgb


def resize_rgb(
    img: tuple[int, int, bytes], width: int, height: int
) -> bytes:
    """Nearest-neighbour resample of decoded RGB24 pixels onto a
    width×height grid (real 2-D geometry, not byte sampling)."""
    sw, sh, rgb = img
    if sw <= 0 or sh <= 0:
        # degenerate-but-decodable source (e.g. PPM "0 4"): keep the
        # declared output geometry; slice-assigning empty sources below
        # would silently SHRINK the bytearray instead
        return bytes(width * height * 3)
    out = bytearray(width * height * 3)
    for y in range(height):
        sy = (y * sh) // height
        row_base = sy * sw * 3
        dst = y * width * 3
        for x in range(width):
            sx = (x * sw) // width
            src = row_base + sx * 3
            out[dst : dst + 3] = rgb[src : src + 3]
            dst += 3
    return bytes(out)


def fake_feature(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in for a learned feature extractor: windowed
    byte-sum projection. Keeps the distributed plumbing honest (real
    bytes in, fixed-width vector out) without a codec dependency."""
    if not payload:
        return [0.0] * dim
    chunk = max(1, len(payload) // dim)
    out = []
    for i in range(dim):
        window = payload[i * chunk : (i + 1) * chunk]
        out.append(float(sum(window) % 997))
    return out


def assets_from_documents(docs: DataFrame) -> DataFrame:
    """Derive a multimodal asset table from the documents fixture: the
    text payload re-encoded as opaque bytes + typed metadata, i.e. the
    storage shape a 100 TB image/audio lake would use (payload column
    kept out of dimension joins; metadata queryable without touching
    bytes)."""
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("text/plain").alias("media_type"),
        payload.alias("payload"),
        F.struct(
            F.octet_length("text").cast("long").alias("byte_len"),
            F.sha2(payload, 256).alias("checksum"),
        ).alias("meta"),
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("pixels", T.BinaryType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
        T.StructField("frame_len", T.LongType()),
    ]
)


def fake_resize(payload: bytes, width: int, height: int) -> bytes:
    """Deterministic stand-in for decode→resize: nearest-neighbour
    sample of the raw bytes onto a width×height grid (a real deployment
    swaps in `decode_image` + an interpolating resampler; the Spark
    plumbing is identical)."""
    n = width * height
    if not payload:
        return bytes(n)
    size = len(payload)
    return bytes(payload[(i * size) // n] for i in range(n))


def resize_images(
    assets: DataFrame, width: int = 16, height: int = 16
) -> DataFrame:
    """Arrow-batched decode→resize over binary payloads (mapInPandas,
    1 row in → 1 row out, fixed-size binary out). Payload bytes never
    visit the driver; output geometry is declared in the schema so the
    downstream feature pipeline can rely on it.

    Decodable payloads (BMP/PPM, see :func:`decode_image`) get a real
    2-D nearest-neighbour resample to RGB24 (``width*height*3`` bytes);
    opaque payloads fall back to the deterministic byte-sample
    (``width*height`` bytes) so the operator is total over mixed-media
    tables — the dispatch happens per row inside the Arrow batch, never
    on the driver.
    """

    def one(p) -> bytes:
        b = bytes(p)
        try:
            return resize_rgb(decode_image(b), width, height)
        except ValueError:
            return fake_resize(b, width, height)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "width": width,
                    "height": height,
                    "pixels": pdf["payload"].map(one),
                }
            )

    return assets.mapInPandas(batches, schema=RESIZED_SCHEMA)


def sample_frames(
    assets: DataFrame, frame_size: int = 256, every_n: int = 4
) -> DataFrame:
    """Frame sampling for video-shaped payloads: treat the payload as
    consecutive ``frame_size``-byte frames and keep every ``every_n``-th
    (mapInPandas, 1 row in → N rows out — the fan-out batch shape a real
    video decoder produces). Frame count per asset is pure arithmetic on
    byte length, so this IS DuckDB-oracle-checkable (catalog x19)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, frames = [], [], []
            for aid, p in zip(pdf["asset_id"], pdf["payload"]):
                b = bytes(p)
                n_frames = (len(b) + frame_size - 1) // frame_size
                for fi in range(0, n_frames, every_n):
                    ids.append(aid)
                    idxs.append(fi)
                    frames.append(b[fi * frame_size : (fi + 1) * frame_size])
            yield pd.DataFrame(
                {
                    "asset_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame": pd.Series(frames, dtype=object),
                    "frame_len": pd.Series(
                        [len(f) for f in frames], dtype="int64"
                    ),
                }
            )

    return assets.mapInPandas(batches, schema=FRAME_SCHEMA)


def extract_features(assets: DataFrame, dim: int = 8) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads via
    mapInPandas — the real 100 TB pattern: batches stream through
    Python, nothing collects on the driver, output schema is declared
    up front."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "byte_len": pdf["payload"].map(len),
                    "feature": pdf["payload"].map(
                        lambda p: fake_feature(bytes(p), dim)
                    ),
                }
            )

    return assets.mapInPandas(batches, schema=FEATURE_SCHEMA)


# --- audio: RIFF/WAVE PCM decode (pure Python, no codec library) ---------

AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.IntegerType()),
    ]
)


def decode_audio(payload: bytes) -> tuple[int, int, "object"]:
    """Decode a RIFF/WAVE PCM16 payload to
    ``(sample_rate, n_channels, samples)`` — samples is a numpy int16
    array, channel-interleaved as stored.

    Walks the RIFF chunk list (fmt/data chunks may be preceded by
    LIST/fact chunks), accepts only audio format 1 (integer PCM) at 16
    bits. Raises ``ValueError`` otherwise — compressed audio stays out
    of scope like compressed images."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, size = payload[pos : pos + 4], struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    if len(fmt) < 16:
        # must be ValueError, not struct.error — audio_features'
        # skip-malformed-rows contract catches ValueError only
        raise ValueError("truncated fmt chunk")
    audio_fmt, n_channels, sample_rate = struct.unpack_from("<HHI", fmt, 0)
    bits = struct.unpack_from("<H", fmt, 14)[0]
    if audio_fmt != 1 or bits != 16:
        raise ValueError("only 16-bit integer PCM supported")
    samples = np.frombuffer(data[: len(data) & ~1], dtype="<i2")
    return sample_rate, n_channels, samples


def encode_wav(
    sample_rate: int, n_channels: int, samples: "object"
) -> bytes:
    """Encode int16 samples (channel-interleaved) as a canonical
    RIFF/WAVE PCM16 payload — sink-side twin of :func:`decode_audio`."""
    import struct

    import numpy as np

    pcm = np.asarray(samples, dtype="<i2").tobytes()
    block = n_channels * 2
    fmt = struct.pack(
        "<HHIIHH", 1, n_channels, sample_rate, sample_rate * block, block, 16
    )
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(pcm))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(pcm))
        + pcm
    )


def audio_features(assets: DataFrame) -> DataFrame:
    """Arrow-batched audio feature extraction over WAV payloads
    (mapInPandas): per asset — sample geometry (rate, channels, count,
    duration) plus signal stats (RMS, absolute peak), all computed
    vectorized in numpy inside the batch. Non-WAV payloads are skipped
    (0 output rows for them), so the operator is total over mixed-media
    asset tables."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k.name: [] for k in AUDIO_FEATURE_SCHEMA.fields}
            for aid, p in zip(pdf["asset_id"], pdf["payload"]):
                try:
                    rate, ch, samples = decode_audio(bytes(p))
                except ValueError:
                    continue
                n = int(samples.size // ch) if ch else 0
                x = samples.astype(np.float64)
                out["asset_id"].append(aid)
                out["sample_rate"].append(rate)
                out["n_channels"].append(ch)
                out["n_samples"].append(n)
                # integer floor, not round(): Python rounds half-to-even
                # while SQL engines round half-away — floor is the one
                # cross-engine-stable choice (catalog x32 oracle)
                out["duration_ms"].append(n * 1000 // rate if rate else 0)
                out["rms"].append(
                    round(float(np.sqrt(np.mean(x * x))), 6)
                    if samples.size
                    else 0.0
                )
                out["peak"].append(
                    int(np.max(np.abs(x))) if samples.size else 0
                )
            yield pd.DataFrame(
                {
                    "asset_id": pd.Series(out["asset_id"], dtype="int64"),
                    "sample_rate": pd.Series(out["sample_rate"], dtype="int32"),
                    "n_channels": pd.Series(out["n_channels"], dtype="int32"),
                    "n_samples": pd.Series(out["n_samples"], dtype="int64"),
                    "duration_ms": pd.Series(out["duration_ms"], dtype="int64"),
                    "rms": pd.Series(out["rms"], dtype="float64"),
                    "peak": pd.Series(out["peak"], dtype="int32"),
                }
            )

    return assets.mapInPandas(batches, schema=AUDIO_FEATURE_SCHEMA)


def wav_assets_from_documents(docs: DataFrame, sample_rate: int = 8000) -> DataFrame:
    """Derive a WAV asset table from the documents fixture: the UTF-8
    text bytes reinterpreted as PCM16 mono samples and wrapped in a
    canonical 44-byte WAV header — deterministic real-codec fixtures at
    any scale, built JVM-side (concat/encode builtins, no Python in the
    payload path).

    The geometry is then pure arithmetic on text length (n_samples =
    floor(octet_length(text)/2)), which is what makes the decode
    round-trip DuckDB-oracle-checkable (catalog x32)."""
    # PCM body = text bytes truncated to whole int16 samples
    pcm = F.expr(
        "substring(encode(text, 'UTF-8'), 1, "
        "CAST(2 * floor(octet_length(encode(text, 'UTF-8')) / 2) AS INT))"
    )
    n_bytes = F.octet_length(pcm)
    block = sample_rate * 2
    header = F.concat(
        F.lit(b"RIFF"),
        _le32(n_bytes + 36),
        F.lit(b"WAVEfmt "),
        _le32(F.lit(16)),
        F.lit(
            (1).to_bytes(2, "little")
            + (1).to_bytes(2, "little")
            + sample_rate.to_bytes(4, "little")
            + block.to_bytes(4, "little")
            + (2).to_bytes(2, "little")
            + (16).to_bytes(2, "little")
        ),
        F.lit(b"data"),
        _le32(n_bytes),
    )
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("audio/wav").alias("media_type"),
        F.concat(header, pcm).alias("payload"),
    )


def _le32(col) -> "F.Column":
    """Little-endian uint32 bytes of an int column, built JVM-side via
    unhex of byte-swapped hex (chr/concat on strings would corrupt
    bytes ≥ 0x80 under UTF-8). Masked to 32 bits first: RIFF size
    fields wrap mod 2^32 by definition, and lpad would otherwise
    TRUNCATE longer hex keeping the leftmost (high) digits — silently
    corrupt bytes instead of a defined wrap."""
    hexed = F.lpad(
        F.hex(col.cast("long").bitwiseAND(F.lit(0xFFFFFFFF))), 8, "0"
    )
    return F.unhex(
        F.concat(
            F.substring(hexed, 7, 2),
            F.substring(hexed, 5, 2),
            F.substring(hexed, 3, 2),
            F.substring(hexed, 1, 2),
        )
    )


# --- image perceptual hash: average-hash dedup ---------------------------

AHASH_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("ahash", T.LongType()),
    ]
)


def ahash_bytes(payload: bytes) -> int:
    """Average-hash of one image payload (pure function, reused by the
    numpy cross-check tests): decode → 8×8 nearest-neighbour
    resample → per-cell brightness (r+g+b) → threshold at the grid mean
    → bits packed row-major MSB-first into a SIGNED 64-bit int (the
    BIGINT the DataFrame column carries). Opaque payloads fall back to
    the deterministic byte-sample grid (:func:`fake_resize`) so the
    hash is total over mixed-media tables — same per-row dispatch rule
    as :func:`resize_images`."""
    n = 64
    try:
        rgb = resize_rgb(decode_image(payload), 8, 8)
        vals = [
            rgb[3 * i] + rgb[3 * i + 1] + rgb[3 * i + 2] for i in range(n)
        ]
    except ValueError:
        vals = list(fake_resize(payload, 8, 8))
    mean = sum(vals) / n
    bits = 0
    for v in vals:
        bits = (bits << 1) | (1 if v > mean else 0)
    return bits - (1 << 64) if bits >= (1 << 63) else bits


def image_ahash(assets: DataFrame) -> DataFrame:
    """Arrow-batched perceptual hashing over binary payloads
    (mapInPandas, 1 row in → 1 row out, 8 bytes out per image): the
    64-bit average-hash whose Hamming distance approximates visual
    similarity. This is the image twin of the text pipeline's SimHash
    (x12) — after this map, image dedup is pure integer DataFrame ops;
    payload bytes never visit the driver and never enter an exchange."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "ahash": pd.Series(
                        [
                            ahash_bytes(bytes(p))
                            for p in pdf["payload"]
                        ],
                        dtype="int64",
                    ),
                }
            )

    return assets.mapInPandas(batches, schema=AHASH_SCHEMA)


def image_near_dup(assets: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Image near-duplicate pairs via banded average-hash — the visual
    analogue of MinHash-LSH dedup (x10) with an EXACTNESS guarantee
    instead of a recall curve: the 64-bit hash splits into 4 disjoint
    16-bit bands, candidates share at least one band, and by
    pigeonhole any pair within Hamming distance ≤ 3 differs in at most
    3 bands, so at least one band matches exactly → candidate
    generation has recall 1.0 for ``max_hamming`` ≤ 3 (asserted
    against the brute-force cross join in tests). Returns
    ``(id_a, id_b, hamming)`` with ``id_a < id_b``.

    Scale shape: after the Arrow-batched hash map, the only shuffles
    carry ``(asset_id, ahash, band)`` rows (~24 B) and the band-bucket
    equality self-join — never payload bytes, never all-pairs. The
    per-bucket fan-out is bounded by the band cardinality (2^16
    buckets per band position), the same economy as the text LSH
    family."""
    return near_dup_pairs_from_hashes(
        image_ahash(assets), max_hamming=max_hamming
    )


def near_dup_pairs_from_hashes(
    hashed: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """The integer half of :func:`image_near_dup`, split out so
    callers that already hold ``(asset_id, ahash)`` — a fused
    fixture stage, a lake table of previously-computed hashes — skip
    the decode map entirely. Same banded pigeonhole contract."""
    if not 0 <= max_hamming <= 3:
        raise ValueError(
            "max_hamming must be in [0, 3]: 4-band pigeonhole blocking "
            "is exact only up to 3 differing bits"
        )
    # persist(): the hashed table feeds both self-join sides — decode
    # + hash is the dominant cost at scale (Python/Arrow over pixel
    # payloads), and without materialization Catalyst re-executes the
    # MapInPandas subtree per join side. 8 B/image cached; the 100 TB
    # shape lands the hash column in the lake once and consumers join
    # against it (cf. hyperplane_lsh_buckets).
    h = hashed.persist()
    bands = h.select(
        "asset_id",
        "ahash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("ahash"), s).bitwiseAND(
                        F.lit(0xFFFF)
                    )
                    for s in (48, 32, 16, 0)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.asset_id") < F.col("b.asset_id")),
        )
        .select(
            F.col("a.asset_id").alias("id_a"),
            F.col("b.asset_id").alias("id_b"),
            F.col("a.ahash").alias("__ha"),
            F.col("b.ahash").alias("__hb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb")))
    return cand.select(
        "id_a", "id_b", ham.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def _tiled_rgb(text: str, n: int) -> bytes:
    """The ONE definition of the text→pixel tiling rule (UTF-8 bytes
    repeated row-major to ``n`` bytes; empty text tiles a zero byte)
    shared by the two-stage fixture builder and the fused hash stage —
    the x61 fused ≡ two-stage identity depends on these never
    diverging."""
    b = text.encode("utf-8") or b"\x00"
    reps = -(-n // len(b))
    return (b * reps)[:n]


def bmp_assets_from_documents(
    docs: DataFrame, width: int = 16, height: int = 16
) -> DataFrame:
    """Deterministic real-BMP fixtures from the documents table: each
    document's UTF-8 bytes tiled row-major onto a width×height RGB
    grid and wrapped in a genuine 24-bit BMP (:func:`encode_bmp`), so
    the decode path in :func:`image_ahash` exercises the real codec at
    any scale. Duplicate texts yield byte-identical images (Hamming 0
    pairs — the fixture's exact-dup structure carries over) and
    shared-prefix texts yield visually-near images. Arrow-batched;
    payloads are built executor-side and never visit the driver.

    The input is spread() BEFORE the Python stage: a narrow source (a
    single-file fixture table — observed: the whole encode+decode+hash
    pipeline collapsing into ONE task on a 32-core host, r10 watch
    item) round-robins the (id, text) rows across the shuffle width,
    so the compute-bound Arrow stages parallelize; only text crosses
    that exchange — payload bytes are built after it and still never
    enter one. At scale (files >= cores) spread() is a no-op."""
    n = width * height * 3

    def one(text: str) -> bytes:
        return encode_bmp(width, height, _tiled_rgb(text, n))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["doc_id"],
                    "media_type": "image/bmp",
                    "payload": pdf["text"].map(one),
                }
            )

    from stock_market_etl_spark.operators.parallelism import spread

    return spread(docs.select("doc_id", "text")).mapInPandas(
        batches,
        schema=T.StructType(
            [
                T.StructField("asset_id", T.LongType()),
                T.StructField("media_type", T.StringType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )


def bmp_ahash_from_documents(
    docs: DataFrame,
    width: int = 16,
    height: int = 16,
) -> DataFrame:
    """:func:`bmp_assets_from_documents` ∘ :func:`image_ahash` FUSED
    into one Arrow stage (r10 VERDICT: the chained form ships every
    BMP payload across the JVM↔Python Arrow boundary twice — built in
    the encode map, serialized back to the JVM, then re-serialized
    into the hash map's worker; on thousands of tiny images the
    per-stage Arrow dispatch floor, not compute, dominated the bench
    row). Here the payload is encoded, decoded, and hashed inside one
    Python worker and only ``(asset_id, ahash)`` — 16 B/row — ever
    returns to the JVM. Identity with the two-stage form is pinned in
    tests/test_extensions.py; production tables with real payloads
    keep using :func:`image_ahash`."""
    n = width * height * 3

    def one(text: str) -> int:
        return ahash_bytes(encode_bmp(width, height, _tiled_rgb(text, n)))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["doc_id"],
                    "ahash": pd.Series(
                        [one(t) for t in pdf["text"]], dtype="int64"
                    ),
                }
            )

    from stock_market_etl_spark.operators.parallelism import spread

    return spread(docs.select("doc_id", "text")).mapInPandas(
        batches, schema=AHASH_SCHEMA
    )
