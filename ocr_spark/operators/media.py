"""Multimodal (binary) column operators — T11 image transforms + media
feature plumbing for a training-data pipeline.

The reference loads images from disk, resizes/recompresses them under a
25,000-byte cap with a JPEG quality loop (80→20 step −10,
/root/reference/src/gemini_image_analyzer.py:536-576), and feeds bytes to
embedding APIs (:578-667). Here media are opaque ``binary`` columns with
typed metadata. Transforms that produce bytes (decode, resize) are
Arrow-batched pandas UDFs over the bytes (never per-row Python loops in the
plan); metadata-only consumers use the native twins
:func:`decode_meta_native`/:func:`resize_meta_native`, which never cross
the Arrow boundary.

Image decoding libraries (PIL et al.) are NOT in this container, so the
pixel-level math is STUBBED behind a clearly-marked deterministic fake
(:func:`_fake_decode`, :func:`_fake_recompress`); the Spark-side plumbing —
binary schema, UDF signatures, Arrow batch shapes, partitioning — is real
and oracle-tested. Swap the two ``_fake_*`` functions for PIL calls to get
real decoding with zero plan changes; with PIL absent, the real path raises
``NotImplementedError`` (see :func:`_real_decode`).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf

_PNG_MAGIC = b"\x89PNG"
_JPEG_MAGIC = b"\xff\xd8"


def _real_decode(b: bytes) -> tuple[int, int, str]:
    """REAL decode — same (width, height, format) contract as
    :func:`_fake_decode`, backed by PIL. Import lives inside the function so
    the module (and the UDF factories closing over this symbol) stays
    importable on workers without PIL; calling it there raises
    ``NotImplementedError`` instead of failing at import time. Plug into
    :func:`make_decode_udf` via ``decode_fn=_real_decode`` — zero plan or
    schema changes (tests/test_codec_seams.py pins both)."""
    try:
        from PIL import Image
    except ImportError as exc:
        raise NotImplementedError(
            "real image decoding needs PIL; swap point only — this "
            "environment ships none"
        ) from exc
    import io

    with Image.open(io.BytesIO(b)) as im:
        return im.width, im.height, (im.format or "unknown").lower()


def _real_recompress(b: bytes, quality: int) -> bytes:
    """REAL recompress — same (bytes, quality) → bytes contract as
    :func:`_fake_recompress`: re-encode as JPEG at ``quality`` via PIL
    (the reference's ``img.save(..., quality=q)`` loop body,
    /root/reference/src/gemini_image_analyzer.py:556-565). Plug into
    :func:`make_resize_udf` via ``recompress_fn=_real_recompress``."""
    try:
        from PIL import Image
    except ImportError as exc:
        raise NotImplementedError(
            "real image recompression needs PIL; swap point only — this "
            "environment ships none"
        ) from exc
    import io

    with Image.open(io.BytesIO(b)) as im:
        out = io.BytesIO()
        im.convert("RGB").save(out, format="JPEG", quality=quality)
        return out.getvalue()


def synthesize_media_bytes(
    ref_col: Column | str, payload_col: Column | str
) -> Column:
    """Deterministic fake media bytes: ``media_ref || ':' || payload`` UTF-8
    encoded. Stands in for reading blobs from an object store
    (``spark.read.format('binaryFile')`` in production)."""
    r = F.col(ref_col) if isinstance(ref_col, str) else ref_col
    p = F.col(payload_col) if isinstance(payload_col, str) else payload_col
    return F.encode(F.concat(r, F.lit(":"), p), "utf-8")


def _fake_decode(b: bytes) -> tuple[int, int, str]:
    """STUB decode — deterministic pure function of the bytes.

    width  = 1 + n_bytes mod 600
    height = 1 + (sum of first 16 byte values) mod 600
    format sniffed from magic numbers, else 'fake-bin'.
    """
    n = len(b)
    w = 1 + n % 600
    h = 1 + (sum(b[:16]) % 600)
    if b.startswith(_PNG_MAGIC):
        fmt = "png"
    elif b.startswith(_JPEG_MAGIC):
        fmt = "jpeg"
    else:
        fmt = "fake-bin"
    return w, h, fmt


def make_decode_udf(decode_fn=None):
    """Arrow-batched metadata decode over a binary column.

    ``decode_fn`` is the codec seam: any ``bytes → (width, height, format)``
    callable — defaults to the deterministic :func:`_fake_decode`; pass
    :func:`_real_decode` on clusters with PIL. The UDF signature, output
    schema and plan shape are identical either way.

    Factory (not a module-level decorator): the worker re-imports this
    module when deserializing by reference, and a module-level
    ``@pandas_udf`` with a DDL-string return type would try to parse the
    type without an active session there."""
    decode = decode_fn or _fake_decode

    @pandas_udf("struct<width:int,height:int,format:string,n_bytes:int>")
    def decode_image_meta(blobs: pd.Series) -> pd.DataFrame:
        rows = []
        for b in blobs:
            if b is None:
                rows.append((None, None, None, None))
                continue
            w, h, fmt = decode(bytes(b))
            rows.append((w, h, fmt, len(b)))
        return pd.DataFrame(rows, columns=["width", "height", "format", "n_bytes"])

    return decode_image_meta


_QUALITY_STEPS = tuple(range(80, 19, -10))  # 80,70,...,20 — reference loop
_MAX_BYTES = 25_000  # reference cap (src/gemini_image_analyzer.py:539)
# The quality-loop semantics exist in TWO forms sharing these constants:
# make_resize_udf (the blob-producing Python loop) and resize_meta_native
# (JVM closed form, the metadata-only scale path). tests/
# test_media_ann_sampling.py::test_native_meta_equals_udf_paths pins them
# equal on boundary inputs, so a semantic change to either constant fails
# loudly.


def _fake_recompress(b: bytes, quality: int) -> bytes:
    """STUB recompress: keep the first ``len*quality/100`` bytes.

    Deterministic, monotone in ``quality`` — mirrors the *control flow* of
    the reference's JPEG-quality loop exactly; only the pixel math is fake.
    """
    return b[: int(len(b) * quality / 100)]


def make_resize_udf(recompress_fn=None):
    """T11: if bytes > 25,000 — recompress at quality 80→20 step −10 until
    under the cap (taking the q=20 result if none passes), else pass through
    (/root/reference/src/gemini_image_analyzer.py:536-576).

    ``recompress_fn`` is the codec seam: any ``(bytes, quality) → bytes``
    callable — defaults to :func:`_fake_recompress`; pass
    :func:`_real_recompress` on clusters with PIL. Control flow, schema and
    plan are identical either way."""
    recompress = recompress_fn or _fake_recompress

    @pandas_udf("struct<data:binary,n_bytes:int,quality:int,resized:boolean>")
    def resize_image_if_needed(blobs: pd.Series) -> pd.DataFrame:
        rows = []
        for b in blobs:
            if b is None:
                rows.append((None, None, None, None))
                continue
            b = bytes(b)
            if len(b) <= _MAX_BYTES:
                rows.append((b, len(b), 100, False))
                continue
            out, q_used = b, _QUALITY_STEPS[-1]
            for q in _QUALITY_STEPS:
                out = recompress(b, q)
                q_used = q
                if len(out) <= _MAX_BYTES:
                    break
            rows.append((out, len(out), q_used, True))
        return pd.DataFrame(rows, columns=["data", "n_bytes", "quality", "resized"])

    return resize_image_if_needed


def decode_meta_native(data: Column | str) -> Column:
    """JVM-side twin of :func:`make_decode_udf`'s stub decode — zero Python.

    Byte stats come straight off the binary column (`length`, hex of the
    16-byte head folded pairwise), so metadata sniffing fuses into the scan
    under whole-stage codegen. At 100 TB this is the right plan for
    metadata-only queries: no Arrow hop, no Python workers; the pandas-UDF
    path remains for transforms that must materialize decoded pixels.
    Property-tested equal to the UDF on arbitrary bytes."""
    d = F.col(data) if isinstance(data, str) else data
    n = F.length(d)
    head_hex = F.hex(F.substr(d, F.lit(1), F.lit(16)))
    head_sum = F.aggregate(
        F.regexp_extract_all(head_hex, F.lit("(..)"), 1),
        F.lit(0).cast("long"),
        lambda acc, p: acc + F.conv(p, 16, 10).cast("long"),
    )
    fmt = (
        F.when(head_hex.startswith("89504E47"), "png")
        .when(head_hex.startswith("FFD8"), "jpeg")
        .otherwise("fake-bin")
    )
    return F.struct(
        (1 + n % 600).cast("int").alias("width"),
        (1 + head_sum % 600).cast("int").alias("height"),
        fmt.alias("format"),
        n.cast("int").alias("n_bytes"),
    )


def resize_meta_native(n_bytes: Column | str) -> Column:
    """JVM-side twin of :func:`make_resize_udf`'s (n_bytes, quality,
    resized) fields: the descending quality loop is closed-form in the byte
    count alone (quality = largest step whose truncated size fits the 25 KB
    cap, else 20), so the T11 control flow needs no Python at all when the
    recompressed blob isn't consumed."""
    n = (F.col(n_bytes) if isinstance(n_bytes, str) else n_bytes).cast("long")
    steps = F.array(*[F.lit(q) for q in _QUALITY_STEPS])  # descending
    fitting = F.filter(steps, lambda q: F.floor(n * q / 100) <= F.lit(_MAX_BYTES))
    quality = F.when(n <= _MAX_BYTES, F.lit(100)).otherwise(
        # try_: the fitting array is EMPTY when even q=20 misses the cap
        F.coalesce(F.try_element_at(fitting, F.lit(1)), F.lit(_QUALITY_STEPS[-1]))
    )
    resized = n > _MAX_BYTES
    final = F.when(resized, F.floor(n * quality / 100)).otherwise(n)
    return F.struct(
        final.cast("int").alias("n_bytes"),
        quality.cast("int").alias("quality"),
        resized.alias("resized"),
    )


def byte_histogram_features(dim: int = 64):
    """Arrow-batched byte-histogram feature vector (unit-L2,
    ``array<double>``) — the deterministic stand-in for pixel-level feature
    extraction (T15's image half). numpy ``bincount`` over the whole batch;
    no per-byte Python. Float64 end to end: the ``media_features`` gate
    rounds to 4 dp against its DuckDB oracle, where float32 quantization
    would make the rounding ambiguous."""

    @pandas_udf("array<double>")
    def features(blobs: pd.Series) -> pd.Series:
        out = []
        for b in blobs:
            if b is None:
                out.append(None)
                continue
            arr = np.frombuffer(bytes(b), dtype=np.uint8)
            hist = np.bincount(arr % dim, minlength=dim).astype(np.float64)
            norm = np.linalg.norm(hist)
            out.append(hist / norm if norm > 0 else hist)
        return pd.Series(out)

    return features


def sample_frames(
    media: DataFrame,
    bytes_col: str = "data",
    id_col: str = "doc_id",
    frame_size: int = 1024,
    every_k: int = 5,
) -> DataFrame:
    """Video-style frame sampling over a binary column via ``mapInPandas``.

    The container has no video codecs, so a "video" is modeled as a
    concatenation of fixed-size ``frame_size`` chunks (the STUB decode, same
    policy as :func:`_fake_decode`); every ``every_k``-th frame is emitted as
    ``(id, frame_no, frame_bytes)``. The plumbing — iterator-of-batches
    mapInPandas with per-batch fan-out (one input row → many frame rows),
    Arrow both ways — is exactly the real video path's shape; swap the
    chunker for an av/ffmpeg keyframe iterator for real decoding.
    """

    def _frames(batches):
        for pdf in batches:
            out_ids, out_nos, out_frames = [], [], []
            for doc_id, b in zip(pdf[id_col], pdf[bytes_col]):
                if b is None:
                    continue
                b = bytes(b)
                n_frames = max(1, (len(b) + frame_size - 1) // frame_size)
                for fno in range(0, n_frames, every_k):
                    out_ids.append(doc_id)
                    out_nos.append(fno)
                    out_frames.append(b[fno * frame_size : (fno + 1) * frame_size])
            yield pd.DataFrame(
                {id_col: out_ids, "frame_no": out_nos, "frame": out_frames}
            )

    id_field = media.schema[id_col]
    return media.select(id_col, bytes_col).mapInPandas(
        _frames,
        schema=f"{id_col} {id_field.dataType.simpleString()}, frame_no int, frame binary",
    )
