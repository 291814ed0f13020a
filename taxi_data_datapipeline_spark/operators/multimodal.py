"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Convention for image/audio/video at 100 TB scale:

* content is an opaque ``binary`` column (or a reference struct
  ``{uri string, offset long, length long}`` for out-of-table blobs);
* typed metadata travels in a sibling struct column (``media_meta``);
* decode / feature-extract / resize / frame-sample run as Arrow-batched
  ``mapInPandas`` stages — Python touches each batch once, everything
  before/after stays JVM-side;
* partitioning: payload rows are large, so stages run after a
  ``repartition`` sized to keep ~tens of MB of payload per Arrow batch
  (``spark.sql.execution.arrow.maxRecordsPerBatch`` caps rows).

Codec reality in this container: BMP (24-bit BI_RGB), WAV (PCM mono
16-bit), and PNG (all 8-bit non-palette color types — gray, RGB,
gray+alpha, RGBA — stdlib zlib, all five scanline filters) are
implemented FOR REAL in pure numpy/struct/zlib below —
header parsing, stride padding, bottom-up rows, RIFF chunk walking,
per-chunk CRC verification, filter inversion — each round-trip proven
by a SQL value-hash oracle (multimodal_bmp_roundtrip /
multimodal_wav_roundtrip / multimodal_png_roundtrip). ``decode_image``
routes those formats to the built-in codecs unconditionally; remaining
compressed formats (JPEG, palette/16-bit PNG, MP3/ffmpeg) stay gated on
an optional Pillow import: real decode when present (``HAS_PIL``), a
clean NotImplementedError when not. The generic feature extractor uses
a deterministic byte-derived stand-in so its oracle is engine-exact.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:  # optional codec: real image decode when Pillow is installed
    from PIL import Image as _PILImage

    HAS_PIL = True
except ImportError:  # pragma: no cover - environment-dependent
    _PILImage = None
    HAS_PIL = False

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("byte_entropy", T.DoubleType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def decode_image(payload: bytes) -> "object":
    """Decode an image payload. Built-in pure-Python codecs handle the
    formats this engine can always decode — any 8-bit non-palette PNG
    (gray/RGB/gray+alpha/RGBA, ``decode_png8``, stdlib zlib) and 24-bit
    BMP (``decode_bmp24``) — returning HxW / HxWxC uint8 numpy arrays;
    anything else (JPEG, palette/16-bit/interlaced PNG, …) routes to
    Pillow when available and raises a clean NotImplementedError
    otherwise (capability flag: ``HAS_PIL``)."""
    if payload[:8] == _PNG_SIG:
        try:
            return decode_png8(payload)
        except ValueError as ex:
            # Unsupported-but-valid variants (color, 16-bit, interlaced)
            # fall through to Pillow; corruption (bad CRC/magic/length)
            # is an error regardless of installed codecs.
            if not str(ex).startswith("unsupported"):
                raise
            if not HAS_PIL:
                raise NotImplementedError(str(ex)) from ex
    elif payload[:2] == b"BM":
        try:
            return decode_bmp24(payload)
        except ValueError as ex:
            if not str(ex).startswith("unsupported"):
                raise
            if not HAS_PIL:
                raise NotImplementedError(str(ex)) from ex
    if not HAS_PIL:
        raise NotImplementedError(
            "no built-in codec for this payload: install Pillow to enable"
            " full decode_image"
        )
    import io

    img = _PILImage.open(io.BytesIO(payload))
    img.load()
    return img


def _fake_features(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in for an image/audio embedding: fixed-dim byte
    histogram projection in exact integer fixed-point — feature[j] =
    ((sum of bytes at positions ≡ j mod dim) * 10^6) // total / 10^6.
    Integer arithmetic end-to-end, so any SQL engine reproduces the values
    bit-for-bit (the cross-engine verification contract). numpy for the
    byte sums — per-byte Python loops are ~50x slower inside the Arrow
    batch."""
    import numpy as np

    arr = np.frombuffer(payload, dtype=np.uint8)
    if arr.size == 0:
        return [0.0] * dim
    pad = (-arr.size) % dim
    acc = np.pad(arr, (0, pad)).reshape(-1, dim).sum(axis=0, dtype=np.int64)
    total = max(int(acc.sum()), 1)
    return [(int(a) * 1_000_000 // total) / 1e6 for a in acc]


def _entropy(payload: bytes) -> float:
    """Shannon entropy of the byte histogram, with each -p*log2(p) term
    rounded to 9 decimals and summed exactly (Decimal) before the final
    round to 6 — the engine's decimal-summation convention (see
    `token_entropy`): shuffle/batch order and last-ulp libm differences
    cannot move the result, so SQL oracles match bit-for-bit. The FINAL
    round also happens in the decimal domain (quantize half-up, matching
    SQL ROUND on DECIMAL): rounding the double instead flips at exact
    .5e-6 boundaries — e.g. a sum of 4.1406975 rounds down as a double
    (its nearest double sits below the boundary) but up as a decimal."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    arr = np.frombuffer(payload, dtype=np.uint8)
    if arr.size == 0:
        return 0.0
    counts = np.bincount(arr, minlength=256)
    p = counts[counts > 0] / arr.size
    terms = -(p * np.log2(p))
    ent = Decimal(0)
    for t in terms:
        ent += Decimal(str(round(float(t), 9)))
    return float(ent.quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def extract_features(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads (mapInPandas).

    One Python pass per Arrow batch; output schema is fixed/typed so
    downstream joins and similarity ops stay JVM-side.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf[payload_col]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_bytes": payloads.map(len).astype("int32"),
                    "byte_entropy": payloads.map(_entropy),
                    "feature": payloads.map(_fake_features),
                }
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(fn, FEATURE_SCHEMA)


def sample_frames(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    every_n_bytes: int = 64,
    frame_len: int = 16,
) -> DataFrame:
    """Frame sampling plumbing: one row per sampled 'frame' (byte slice as a
    stand-in for video frames). Output explodes rows, so run it after
    repartitioning to keep per-task output bounded."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids, out_idx, out_frames = [], [], []
            for _id, payload in zip(pdf[id_col], pdf[payload_col]):
                for k, off in enumerate(range(0, len(payload), every_n_bytes)):
                    out_ids.append(_id)
                    out_idx.append(k)
                    out_frames.append(bytes(payload[off : off + frame_len]))
            yield pd.DataFrame({"doc_id": out_ids, "frame_idx": out_idx, "frame": out_frames})

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame", T.BinaryType()),
        ]
    )
    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(fn, schema)


def resize_payloads(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    target_len: int = 256,
) -> DataFrame:
    """Resize plumbing: normalize every payload to ``target_len`` bytes
    (truncate / zero-pad). A DETERMINISTIC FAKE for image resize — the real
    implementation decodes via ``decode_image`` and resamples; the Spark
    shape (Arrow-batched mapInPandas, binary in/binary out, stable schema)
    is exactly what production uses."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            resized = pdf[payload_col].map(
                lambda p: bytes(p[:target_len]) + b"\x00" * max(0, target_len - len(p))
            )
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype("int64"), "resized": resized}
            )

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("resized", T.BinaryType())]
    )
    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(fn, schema)


def resize_image_payloads(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    out_w: int = 4,
    out_h: int = 3,
) -> DataFrame:
    """REAL image resize (not the byte-truncation stand-in above): decode
    each payload through the built-in codecs (8-bit grayscale PNG / 24-bit
    BMP — ``decode_image``), nearest-neighbor resample to (out_h, out_w)
    with the standard floor mapping src = floor(dst * in/out), and
    re-encode as PNG. Binary in / binary out over Arrow-batched
    mapInPandas — the production shape for a decode→transform→encode
    stage; swap the resampler for an area/bilinear kernel without
    touching the plumbing. Nearest-neighbor is chosen because it is
    exactly reproducible in integer arithmetic, which is what lets a SQL
    oracle verify the full decode→resize→encode→decode chain
    (multimodal_resize_real)."""
    import numpy as np

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for p in pdf[payload_col]:
                pix = np.asarray(decode_image(bytes(p)), dtype=np.uint8)
                h, w = pix.shape
                ys = (np.arange(out_h) * h // out_h).astype(int)
                xs = (np.arange(out_w) * w // out_w).astype(int)
                out.append(encode_png8(pix[ys][:, xs]))
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype("int64"), "resized": out}
            )

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("resized", T.BinaryType())]
    )
    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(fn, schema)


def resample_wav_payloads(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    out_rate: int = 4000,
) -> DataFrame:
    """REAL audio resample, the WAV twin of ``resize_image_payloads``:
    decode each PCM payload (``decode_wav16`` — RIFF chunk walk),
    nearest-neighbor resample the sample stream to ``out_rate`` with the
    same floor mapping src = floor(dst * in/out), and re-encode at the
    new rate. Nearest-neighbor (sample-drop) rather than a windowed-sinc
    kernel so the whole decode→resample→encode chain stays integer-exact
    and SQL-verifiable (multimodal_wav_resample); production swaps the
    kernel without touching the Arrow-batched plumbing."""
    import numpy as np

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for p in pdf[payload_col]:
                samples, rate = decode_wav16(bytes(p))
                n_out = samples.size * out_rate // rate
                idx = (np.arange(n_out) * rate // out_rate).astype(int)
                out.append(encode_wav16(samples[idx], out_rate))
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype("int64"), "resampled": out}
            )

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("resampled", T.BinaryType())]
    )
    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(fn, schema)


def synth_wav_payloads(
    df: DataFrame, text_col: str = "text", n_samples: int = 64, rate: int = 8000,
    sep: str = "~",
) -> DataFrame:
    """Synthesize a REAL WAV payload per document from the deterministic
    md5(text || sep || block) int16 sample stream (same stream as
    wav_roundtrip, so the SQL oracles share one generator)."""
    import hashlib

    import numpy as np

    blocks = (n_samples * 2 + 15) // 16

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for text in pdf[text_col]:
                stream = b"".join(
                    hashlib.md5(f"{text}{sep}{b}".encode()).digest()
                    for b in range(blocks)
                )[: n_samples * 2]
                payloads.append(
                    encode_wav16(np.frombuffer(stream, dtype="<i2"), rate)
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
            )

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("payload", T.BinaryType())]
    )
    return df.select("doc_id", text_col).mapInPandas(fn, schema)


def wav_checksums(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Decode WAV payloads and emit the audio-profile integers from the
    DECODED samples only (the verification tail the audio round-trip /
    resample oracles share)."""
    import numpy as np

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for doc_id, p in zip(pdf[id_col], pdf[payload_col]):
                s, rate = decode_wav16(bytes(p))
                s64 = s.astype(np.int64)
                recs.append(
                    (
                        int(doc_id),
                        int(s.size),
                        int(rate),
                        int(np.abs(s64).max()) if s.size else 0,
                        int((s64 * s64).sum()),
                        int((s64 * np.arange(s.size, dtype=np.int64)).sum()),
                    )
                )
            yield pd.DataFrame(
                recs,
                columns=[
                    "doc_id", "n_samples", "sample_rate",
                    "peak", "energy", "weighted_sum",
                ],
            )

    out_schema = (
        "doc_id long, n_samples int, sample_rate int,"
        " peak int, energy long, weighted_sum long"
    )
    return df.select(id_col, payload_col).mapInPandas(fn, out_schema)


def synth_png_payloads(
    df: DataFrame, text_col: str = "text", w: int = 8, h: int = 6, sep: str = "@"
) -> DataFrame:
    """Synthesize a REAL PNG payload per document from the deterministic
    md5(text || sep || block) pixel stream — the corpus-side generator
    the codec/resize oracles share (the same stream is recomputable in
    SQL, which is what makes downstream binary stages verifiable)."""
    import hashlib

    import numpy as np

    n = w * h
    blocks = (n + 15) // 16

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for text in pdf[text_col]:
                stream = b"".join(
                    hashlib.md5(f"{text}{sep}{b}".encode()).digest()
                    for b in range(blocks)
                )[:n]
                payloads.append(
                    encode_png8(np.frombuffer(stream, dtype=np.uint8).reshape(h, w))
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
            )

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("payload", T.BinaryType())]
    )
    return df.select("doc_id", text_col).mapInPandas(fn, schema)


def image_checksums(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    permissive: bool = False,
) -> DataFrame:
    """Decode image payloads (built-in codecs) and emit the integrity
    features (dimensions, pixel_sum, row-major position-weighted sum)
    from the DECODED array only — the verification tail every codec
    round-trip query shares.

    ``permissive=True`` is the production posture for a 100 TB scan over
    crawled payloads (the same contract as Spark's PERMISSIVE JSON/CSV
    parse modes): a payload that fails to decode yields a row with NULL
    features and the error message in an ``error`` column instead of
    failing the task — corrupt records are quarantined with
    ``WHERE error IS NOT NULL``, never lost, and one bad byte cannot
    kill a multi-hour job. The default strict mode keeps fail-fast
    semantics for the oracle-verified round-trip queries."""
    import numpy as np

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for doc_id, p in zip(pdf[id_col], pdf[payload_col]):
                try:
                    pix = np.asarray(decode_image(bytes(p)), dtype=np.uint8)
                except (ValueError, NotImplementedError) as ex:
                    if not permissive:
                        raise
                    recs.append(
                        (int(doc_id), None, None, None, None, str(ex)[:200])
                    )
                    continue
                flat = pix.reshape(-1).astype(np.int64)
                recs.append(
                    (
                        int(doc_id),
                        int(pix.shape[1]),
                        int(pix.shape[0]),
                        int(flat.sum()),
                        int((flat * np.arange(flat.size, dtype=np.int64)).sum()),
                    )
                    + ((None,) if permissive else ())
                )
            cols = ["doc_id", "width", "height", "pixel_sum", "weighted_sum"]
            if permissive:
                cols.append("error")
            pdf_out = pd.DataFrame(recs, columns=cols)
            # Nullable ints must ride Arrow as nullable dtypes, not the
            # object/NaN-float coercion pandas defaults to.
            for c in ("width", "height"):
                pdf_out[c] = pdf_out[c].astype("Int32")
            for c in ("pixel_sum", "weighted_sum"):
                pdf_out[c] = pdf_out[c].astype("Int64")
            yield pdf_out

    out_schema = (
        "doc_id long, width int, height int, pixel_sum long, weighted_sum long"
    )
    if permissive:
        out_schema += ", error string"
    return df.select(id_col, payload_col).mapInPandas(fn, out_schema)


def attach_media_meta(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Attach the typed metadata struct (stubbed mime sniff from magic bytes —
    JVM-side expression, no Python)."""
    p = F.col(payload_col)
    mime = (
        F.when(F.substring(p, 1, 3) == bytes([0xFF, 0xD8, 0xFF]), "image/jpeg")
        .when(F.substring(p, 1, 4) == b"\x89PNG", "image/png")
        .when(F.substring(p, 1, 4) == b"RIFF", "audio/wav")
        .otherwise("application/octet-stream")
    )
    return df.withColumn(
        "media_meta",
        F.struct(
            mime.alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ),
    )


def bytes_meta_arrow(df: "DataFrame") -> "DataFrame":
    """Arrow-native twin of the built-in bytes-metadata projection:
    ``mapInArrow`` streams RecordBatches through pyarrow directly — no
    pandas materialization, no per-column Series construction — which is
    the lowest-overhead Python hop Spark offers and the right API tier
    when the Python side is a thin vectorized transform over big binary
    payloads. Byte lengths and the size class come from vectorized
    pyarrow.compute kernels; the content hash is hashlib per row
    (hashing is per-element CPU work under any API). Emits exactly the
    schema of the built-in multimodal_bytes projection so the two tiers
    share one oracle."""
    import hashlib

    import pyarrow as pa
    import pyarrow.compute as pc

    out_schema = (
        "doc_id long, n_bytes int, content_sha string, size_class string"
    )

    def batches(it):
        for batch in it:
            doc_id = batch.column(batch.schema.get_field_index("doc_id"))
            text = batch.column(batch.schema.get_field_index("text"))
            blob = pc.cast(text, pa.binary())
            n_bytes = pc.cast(pc.binary_length(blob), pa.int32())
            shas = pa.array(
                [
                    None if v is None else hashlib.sha256(v).hexdigest()
                    for v in blob.to_pylist()
                ],
                type=pa.string(),
            )
            # NULL text must classify as 'small' like the built-in tier's
            # F.when(...).otherwise('small') and the oracle's CASE (a null
            # if_else condition would propagate NULL instead).
            size_class = pc.if_else(
                pc.fill_null(pc.greater_equal(n_bytes, 256), False),
                pa.scalar("large"),
                pa.scalar("small"),
            )
            yield pa.RecordBatch.from_arrays(
                [doc_id, n_bytes, shas, size_class],
                ["doc_id", "n_bytes", "content_sha", "size_class"],
            )

    return df.select("doc_id", "text").mapInArrow(batches, out_schema)


# --- real BMP codec (pure numpy — no external image library) ------------------

_BMP_HEADER = 54  # 14-byte file header + 40-byte BITMAPINFOHEADER


def encode_bmp24(pix) -> bytes:
    """Encode an HxW uint8 grayscale array as a REAL 24-bit BI_RGB BMP:
    bottom-up row order, rows padded to 4 bytes, BGR channel order —
    the actual on-disk format, decodable by any image viewer. Pure
    numpy + struct; BMP is the one mainstream image format that needs
    no codec library, which makes the multimodal decode path REAL in
    this container instead of a Pillow-gated stub."""
    import struct

    import numpy as np

    h, w = pix.shape
    stride = (3 * w + 3) // 4 * 4
    img_size = stride * h
    header = struct.pack(
        "<2sIHHIIiiHHIIiiII",
        b"BM", _BMP_HEADER + img_size, 0, 0, _BMP_HEADER,
        40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0,
    )
    rows = np.zeros((h, stride), dtype=np.uint8)
    bgr = np.repeat(pix[:, :, None], 3, axis=2)  # gray -> B=G=R
    rows[:, : 3 * w] = bgr.reshape(h, 3 * w)
    return header + rows[::-1].tobytes()  # bottom-up


def decode_bmp24(payload: bytes):
    """Decode a 24-bit uncompressed BMP to an HxW uint8 grayscale array
    (channels verified equal for gray inputs; returns the B channel).
    Validates magic/bpp/compression; handles row padding and bottom-up
    order — the parts an incorrect decoder silently gets wrong, which
    the round-trip oracle catches via the position-weighted checksum."""
    import struct

    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    if len(payload) < _BMP_HEADER:
        raise ValueError("truncated BMP header")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    comp = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP variant: bpp={bpp} comp={comp}")
    stride = (3 * w + 3) // 4 * 4
    rows = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=data_off)
    rows = rows.reshape(h, stride)[::-1]  # back to top-down
    return rows[:, : 3 * w].reshape(h, w, 3)[:, :, 0].copy()


def bmp_roundtrip(df: "DataFrame", text_col: str = "text", w: int = 8, h: int = 6) -> "DataFrame":
    """Synthesize a deterministic w*h grayscale image per document (pixel
    stream = md5(text || ':' || block) bytes), ENCODE it as a real BMP,
    DECODE it back, and emit integrity features computed from the
    DECODED array only: pixel_sum and the row-major position-weighted
    sum (which catches bottom-up/padding/channel mistakes that a plain
    sum cannot — reordering rows changes the weights). The SQL oracle
    recomputes both from the same md5 stream, so a hash match proves
    the full binary codec round-trip, not a stub."""
    import hashlib

    import numpy as np

    n = w * h
    blocks = (n + 15) // 16
    out_schema = (
        "doc_id long, width int, height int, n_bytes int,"
        " pixel_sum long, weighted_sum long"
    )

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            recs = []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                stream = b"".join(
                    hashlib.md5(f"{text}:{b}".encode()).digest()
                    for b in range(blocks)
                )[:n]
                pix = np.frombuffer(stream, dtype=np.uint8).reshape(h, w)
                payload = encode_bmp24(pix)
                dec = decode_bmp24(payload)
                flat = dec.reshape(-1).astype(np.int64)
                recs.append(
                    (
                        int(doc_id),
                        int(dec.shape[1]),
                        int(dec.shape[0]),
                        len(payload),
                        int(flat.sum()),
                        int((flat * np.arange(n, dtype=np.int64)).sum()),
                    )
                )
            yield pd.DataFrame(
                recs,
                columns=[
                    "doc_id", "width", "height", "n_bytes",
                    "pixel_sum", "weighted_sum",
                ],
            )

    return df.select("doc_id", text_col).mapInPandas(run, out_schema)


# --- real PNG codec (stdlib zlib — no Pillow) ---------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    # PNG spec §9 Paeth predictor: pick the neighbor closest to a+b-c.
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def encode_png8(pix) -> bytes:
    """Encode an HxW uint8 grayscale array as a REAL spec-compliant PNG
    (8-bit, color type 0) using only stdlib zlib — the compressed-image
    path without Pillow. Rows deliberately cycle through ALL FIVE scanline
    filters (None/Sub/Up/Average/Paeth, filter = row % 5) so a decoder
    that fakes or mis-implements any filter cannot round-trip; any image
    viewer opens the output. Closes the last capability gate of the
    multimodal tier in the default container (BMP/WAV landed in r4;
    `HAS_PIL` now gates only JPEG)."""
    import struct
    import zlib

    import numpy as np

    pix = np.asarray(pix, dtype=np.uint8)
    h, w = pix.shape
    raw = bytearray()
    prior = np.zeros(w, dtype=np.int16)
    for y in range(h):
        row = pix[y].astype(np.int16)
        ft = y % 5
        if ft == 0:
            out = row.copy()
        elif ft == 1:  # Sub
            left = np.concatenate(([0], row[:-1]))
            out = row - left
        elif ft == 2:  # Up
            out = row - prior
        elif ft == 3:  # Average
            left = np.concatenate(([0], row[:-1]))
            out = row - (left + prior) // 2
        else:  # Paeth
            left = np.concatenate(([0], row[:-1]))
            upleft = np.concatenate(([0], prior[:-1]))
            out = row.copy()
            for x in range(w):
                out[x] = row[x] - _paeth(int(left[x]), int(prior[x]), int(upleft[x]))
        raw.append(ft)
        raw.extend((out % 256).astype(np.uint8).tobytes())
        prior = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 9))
        + _png_chunk(b"IEND", b"")
    )


def encode_png24(pix) -> bytes:
    """Encode an HxWx3 uint8 RGB array as a spec-compliant truecolor PNG
    (8-bit, color type 2), stdlib zlib only. Rows cycle through all five
    scanline filters like ``encode_png8``, but the left-predictor
    distance is bpp=3 bytes — a decoder that reuses the grayscale
    distance cannot round-trip any Sub/Average/Paeth row."""
    import struct
    import zlib

    import numpy as np

    pix = np.asarray(pix, dtype=np.uint8)
    h, w, ch = pix.shape
    if ch != 3:
        raise ValueError(f"encode_png24 needs HxWx3, got {pix.shape}")
    wb = w * ch
    flat = pix.reshape(h, wb)
    raw = bytearray()
    prior = np.zeros(wb, dtype=np.int16)
    for y in range(h):
        row = flat[y].astype(np.int16)
        ft = y % 5
        shift = np.concatenate((np.zeros(ch, dtype=np.int16), row[:-ch]))
        if ft == 0:
            out = row.copy()
        elif ft == 1:  # Sub
            out = row - shift
        elif ft == 2:  # Up
            out = row - prior
        elif ft == 3:  # Average
            out = row - (shift + prior) // 2
        else:  # Paeth
            pshift = np.concatenate((np.zeros(ch, dtype=np.int16), prior[:-ch]))
            out = row.copy()
            for x in range(wb):
                out[x] = row[x] - _paeth(int(shift[x]), int(prior[x]), int(pshift[x]))
        raw.append(ft)
        raw.extend((out % 256).astype(np.uint8).tobytes())
        prior = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 9))
        + _png_chunk(b"IEND", b"")
    )


def decode_png8(payload: bytes):
    """Decode any 8-bit non-palette non-interlaced PNG (color types
    0/2/4/6: gray, RGB, gray+alpha, RGBA) to an HxW / HxWxC uint8 array
    using only stdlib zlib. Verifies the signature and EVERY chunk CRC, walks chunks
    by declared length (concatenating multiple IDATs, the part a
    fixed-offset reader gets wrong), and un-applies all five scanline
    filters including Average's floor-division and the Paeth predictor —
    all BYTEWISE with the left-neighbor at distance bpp (per the spec a
    pixel's predecessor is the byte bpp positions back, the detail an
    RGB decoder ported naively from grayscale gets wrong) — which the
    round-trip oracle catches via the position-weighted sum."""
    import struct
    import zlib

    import numpy as np

    if payload[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    off = len(_PNG_SIG)
    w = h = None
    ch = 1
    idat = bytearray()
    saw_end = False
    while off + 8 <= len(payload):
        (ln,) = struct.unpack_from(">I", payload, off)
        if off + 12 + ln > len(payload):
            raise ValueError("truncated PNG chunk")
        ctype = payload[off + 4 : off + 8]
        body = payload[off + 8 : off + 8 + ln]
        (crc,) = struct.unpack_from(">I", payload, off + 8 + ln)
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {ctype!r} chunk")
        if ctype == b"IHDR":
            w, h, depth, ctype_c, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if (
                depth != 8
                or ctype_c not in (0, 2, 4, 6)
                or comp != 0
                or filt != 0
                or interlace != 0
            ):
                raise ValueError(
                    f"unsupported PNG variant: depth={depth} color={ctype_c}"
                    f" interlace={interlace}"
                )
            # channels per color type: gray / RGB / gray+alpha / RGBA
            ch = {0: 1, 2: 3, 4: 2, 6: 4}[ctype_c]
        elif ctype == b"IDAT":
            idat.extend(body)
        elif ctype == b"IEND":
            saw_end = True
            break
        off += 12 + ln
    if w is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    if not saw_end:
        raise ValueError("missing IEND chunk (truncated PNG)")
    raw = zlib.decompress(bytes(idat))
    wb = w * ch  # scanline bytes (bpp = ch for 8-bit)
    if len(raw) != h * (wb + 1):
        raise ValueError("IDAT length mismatch")
    out = np.zeros((h, wb), dtype=np.uint8)
    prior = np.zeros(wb, dtype=np.int32)
    stride = wb + 1
    for y in range(h):
        ft = raw[y * stride]
        line = np.frombuffer(raw, dtype=np.uint8, count=wb, offset=y * stride + 1)
        row = line.astype(np.int32)
        if ft == 0:
            pass
        elif ft == 1:  # Sub — running left dependency, sequential
            for x in range(ch, wb):
                row[x] = (row[x] + row[x - ch]) % 256
        elif ft == 2:  # Up
            row = (row + prior) % 256
        elif ft == 3:  # Average
            for x in range(wb):
                left = row[x - ch] if x >= ch else 0
                row[x] = (row[x] + (left + prior[x]) // 2) % 256
        elif ft == 4:  # Paeth
            for x in range(wb):
                left = row[x - ch] if x >= ch else 0
                upleft = prior[x - ch] if x >= ch else 0
                row[x] = (row[x] + _paeth(int(left), int(prior[x]), int(upleft))) % 256
        else:
            raise ValueError(f"bad filter type {ft}")
        out[y] = row.astype(np.uint8)
        prior = row
    return out if ch == 1 else out.reshape(h, w, ch)


def png_roundtrip(df: "DataFrame", text_col: str = "text", w: int = 8, h: int = 6) -> "DataFrame":
    """Synthesize a deterministic w*h grayscale image per document (pixel
    stream = md5(text || '#' || block) bytes), ENCODE it as a real
    zlib-compressed PNG whose rows cycle through all five scanline
    filters, DECODE it back (CRC-checked chunk walk + filter reversal),
    and emit integrity features from the DECODED array only: pixel_sum
    and the row-major position-weighted sum (catches filter/stride/row
    mistakes a plain sum cannot). The SQL oracle recomputes both from
    the same md5 stream, so a hash match proves the full compressed-
    image round-trip. n_bytes is NOT emitted: zlib output length is
    library-version-dependent, and the oracle must not depend on it."""
    import hashlib

    import numpy as np

    n = w * h
    blocks = (n + 15) // 16
    out_schema = "doc_id long, width int, height int, pixel_sum long, weighted_sum long"

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            recs = []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                stream = b"".join(
                    hashlib.md5(f"{text}#{b}".encode()).digest()
                    for b in range(blocks)
                )[:n]
                pix = np.frombuffer(stream, dtype=np.uint8).reshape(h, w)
                payload = encode_png8(pix)
                dec = decode_png8(payload)
                flat = dec.reshape(-1).astype(np.int64)
                recs.append(
                    (
                        int(doc_id),
                        int(dec.shape[1]),
                        int(dec.shape[0]),
                        int(flat.sum()),
                        int((flat * np.arange(n, dtype=np.int64)).sum()),
                    )
                )
            yield pd.DataFrame(
                recs,
                columns=["doc_id", "width", "height", "pixel_sum", "weighted_sum"],
            )

    return df.select("doc_id", text_col).mapInPandas(run, out_schema)


# --- real WAV/PCM codec (pure numpy — no external audio library) --------------


def encode_wav16(samples, sample_rate: int = 8000) -> bytes:
    """Encode a 1-D int16 array as a REAL canonical 44-byte-header
    RIFF/WAVE file (PCM, mono, 16-bit little-endian) — playable by any
    audio tool. Like BMP, WAV-PCM needs no codec library, so the audio
    decode path is real in this container."""
    import struct

    import numpy as np

    data = np.asarray(samples, dtype="<i2").tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16,
        b"data", len(data),
    )
    return hdr + data


def decode_wav16(payload: bytes):
    """Decode a canonical PCM mono 16-bit WAV; returns (samples int16
    array, sample_rate). Validates RIFF/WAVE magic, PCM format code,
    mono, 16 bits — and walks chunks by their declared sizes, the part
    a naive fixed-offset reader gets wrong."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    off = 12
    rate, data = None, None
    while off + 8 <= len(payload):
        cid, size = struct.unpack_from("<4sI", payload, off)
        body = payload[off + 8 : off + 8 + size]
        if len(body) < size:
            raise ValueError("truncated WAV chunk")
        if cid == b"fmt ":
            fmt, ch, rate, _br, _ba, bits = struct.unpack_from("<HHIIHH", body, 0)
            if fmt != 1 or ch != 1 or bits != 16:
                raise ValueError(f"unsupported WAV variant: fmt={fmt} ch={ch} bits={bits}")
        elif cid == b"data":
            data = np.frombuffer(body, dtype="<i2").copy()
        off += 8 + size + (size & 1)  # RIFF chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    return data, rate


def wav_roundtrip(
    df: "DataFrame", text_col: str = "text", n_samples: int = 64, rate: int = 8000
) -> "DataFrame":
    """Synthesize a deterministic int16 PCM clip per document (md5-derived
    sample stream), ENCODE as a real WAV, DECODE it back, and emit the
    audio-profile integers computed from the DECODED samples only:
    duration, peak amplitude, zero-crossing count, and the exact energy
    sum — the features an audio-curation pipeline keys its quality
    filters on (clipping, silence, noise). Integer-only outputs; the
    SQL oracle recomputes all four from the same md5 stream, proving
    chunk walking, sample width, and endianness."""
    import hashlib

    import numpy as np

    blocks = (n_samples * 2 + 15) // 16
    out_schema = (
        "doc_id long, n_samples int, sample_rate int, duration_ms int,"
        " peak int, zero_crossings int, energy long"
    )

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            recs = []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                stream = b"".join(
                    hashlib.md5(f"{text}~{b}".encode()).digest()
                    for b in range(blocks)
                )[: n_samples * 2]
                samples = np.frombuffer(stream, dtype="<i2")
                payload = encode_wav16(samples, rate)
                dec, dec_rate = decode_wav16(payload)
                s = dec.astype(np.int64)
                nonneg = s >= 0
                recs.append(
                    (
                        int(doc_id),
                        int(dec.size),
                        int(dec_rate),
                        int(dec.size * 1000 // dec_rate),
                        int(np.abs(s).max()),
                        int((nonneg[1:] != nonneg[:-1]).sum()),
                        int((s * s).sum()),
                    )
                )
            yield pd.DataFrame(
                recs,
                columns=[
                    "doc_id", "n_samples", "sample_rate", "duration_ms",
                    "peak", "zero_crossings", "energy",
                ],
            )

    return df.select("doc_id", text_col).mapInPandas(run, out_schema)


def _thumbnail_hash(df: "DataFrame", text_col: str, w: int, h: int, reduce) -> "DataFrame":
    """(_id, sh): a 64-bit perceptual hash of each document's image.

    The image is a deterministic w*h grayscale "thumbnail" whose pixel i
    is the CLIPPED WORD-HISTOGRAM count of the words hashing to bucket i
    (24 per word whose md5 prefix is i mod w*h, at most 255): a visual
    bag-of-words, the stand-in for the decoded scan/photo payload this
    stage sees in production. Near-duplicate texts render to
    near-identical images, exactly the property real re-encoded/cropped
    image dupes have. The render round-trips the REAL BMP codec, and
    ``reduce`` maps the DECODED int64 (h, w) array to 64 bits in exact
    integer arithmetic, so any engine recomputing from the same pixels
    lands on the identical signature. Bit i of ``sh`` is bit i of the
    reduction (bit 63 is the sign), the layout ``hamming_pairs`` blocks.
    """
    import hashlib

    import numpy as np

    n = w * h

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            sigs = []
            bucket_cache: dict = {}
            for text in pdf[text_col]:
                pix = np.zeros(n, dtype=np.int64)
                for word in str(text).split(" "):
                    if not word:
                        continue
                    b = bucket_cache.get(word)
                    if b is None:
                        b = int(hashlib.md5(word.encode()).hexdigest()[:8], 16) % n
                        bucket_cache[word] = b
                    pix[b] += 24
                pix = np.minimum(pix, 255).astype(np.uint8).reshape(h, w)
                dec = decode_bmp24(encode_bmp24(pix)).astype(np.int64)
                packed = np.packbits(np.asarray(reduce(dec), dtype=bool), bitorder="little")
                sigs.append(packed.view("<i8")[0])
            yield pd.DataFrame(
                {"_id": pdf["doc_id"].astype("int64"), "sh": np.array(sigs, dtype=np.int64)}
            )

    return df.select("doc_id", text_col).mapInPandas(run, "_id long, sh long")


def ahash_table(df: "DataFrame", text_col: str = "text") -> "DataFrame":
    """(_id, sh): perceptual average-hash (aHash) of the 16x16
    ``_thumbnail_hash`` image: downsample the decoded array 2x2 and set
    bit_i = (block mean > global mean), row-major, computed as
    64*block_sum > total_sum."""

    def reduce(dec):
        bs = dec.reshape(8, 2, 8, 2).sum(axis=(1, 3)).ravel()
        return bs * bs.size > dec.sum()

    return _thumbnail_hash(df, text_col, 16, 16, reduce)


def dhash_table(df: "DataFrame", text_col: str = "text") -> "DataFrame":
    """(_id, sh): perceptual difference-hash (dHash) of the 18x16
    ``_thumbnail_hash`` image (one extra block COLUMN, because dHash
    compares horizontally adjacent blocks and needs 9 columns to emit 8
    bits per row): 2x2-block-sum the decoded array into an 8x9 grid and
    set bit (r, c) = (block(r, c) > block(r, c+1)) — the brightness
    GRADIENT signature, which survives global brightness/contrast shifts
    that flip aHash's mean-threshold bits (the two hashes are
    complementary screens and production image dedup typically runs
    both)."""

    def reduce(dec):
        bs = dec.reshape(8, 2, 9, 2).sum(axis=(1, 3))
        return (bs[:, :-1] > bs[:, 1:]).ravel()

    return _thumbnail_hash(df, text_col, 18, 16, reduce)


# Fixed-point 8x32 DCT-II basis shared VERBATIM by phash_table and the
# phash_dct_dedup DuckDB oracle (queries_curation2): coef[u][r] =
# round(2^14 * cos(pi*(2r+1)u/64)). Integer constants inlined into both
# engines make the low-frequency DCT an exact int64 matrix product —
# no libm cos() at query time, no cross-engine float drift, no overflow
# (|coef| <= 16384, pixel <= 255: D2 terms bound at ~7e13 << 2^63).
_DCT_SCALE = 16384


def dct_basis_8x32() -> list[list[int]]:
    import math

    return [
        [
            round(_DCT_SCALE * math.cos(math.pi * (2 * r + 1) * u / 64))
            for r in range(32)
        ]
        for u in range(8)
    ]


def phash_table(df: "DataFrame", text_col: str = "text") -> "DataFrame":
    """(_id, sh): perceptual DCT-hash (pHash) of the 32x32
    ``_thumbnail_hash`` image (pHash's canonical input size): take the
    8x8 LOW-FREQUENCY block of the 2-D DCT-II via the fixed-point integer
    basis above (D = C P C^T — two int64 matrix products), and set bit
    k = (63 * coef_k > sum of the 63 non-DC coefficients), DC forced to
    0. pHash survives blur/resize/compression perturbations that move
    many individual pixels but little low-frequency energy — the third
    complementary screen next to aHash (mean) and dHash (gradient)."""
    import numpy as np

    basis = np.array(dct_basis_8x32(), dtype=np.int64)

    def reduce(dec):
        coefs = (basis @ dec @ basis.T).ravel()
        bits = 63 * coefs > coefs[1:].sum()
        bits[0] = False
        return bits

    return _thumbnail_hash(df, text_col, 32, 32, reduce)
