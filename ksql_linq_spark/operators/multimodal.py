"""Multimodal (image/audio/video) column plumbing.

Design per the build brief: media travels as opaque ``binary`` columns
with a typed metadata struct; decode / feature-extract / resize /
frame-sample run as Arrow-batched Pandas iterators (``mapInPandas``) so
the Python boundary is per-batch, not per-row.  The decode step itself is
STUBBED (image/audio codecs are not in this container): set
``ksql_linq_spark.operators.multimodal.DECODER`` to a real codec hook in
production, or pass ``fake=True`` for a deterministic fake used by tests.

Spark-side realities this module gets right for 100 TB:
- media schema: content BINARY + media_type STRING + meta MAP — splittable
  parquet, no driver materialization;
- mapInPandas with a bounded ``spark.sql.execution.arrow.maxRecordsPerBatch``
  keeps executor memory flat regardless of blob sizes;
- feature extraction emits fixed-width arrays (embedding-ready), so the
  downstream similarity operators apply unchanged.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("content", T.BinaryType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# production hook: replace with a real codec (PIL/librosa/pyav), signature
# (content: bytes, media_type: str) -> dict with width/height/duration/...
DECODER: Callable[[bytes, str], dict[str, Any]] | None = None


def _fake_decode(content: bytes, media_type: str) -> dict[str, Any]:
    """Deterministic stand-in decode: metadata derived from content hash."""
    h = hashlib.md5(content or b"").digest()
    return {
        "width": 64 + h[0] % 192,
        "height": 64 + h[1] % 192,
        "n_frames": 1 + h[2] % 32 if media_type == "video" else 1,
        "duration_ms": int.from_bytes(h[3:5], "big") if media_type != "image" else 0,
    }


def stdlib_decode(content: bytes, media_type: str) -> dict[str, Any]:
    """REAL decode via the pure-stdlib codecs (operators/codecs.py):
    full pixel decode for PNG/BMP, full PCM decode for WAV,
    header-dimension sniff for GIF/JPEG.  Raises NotImplementedError
    for containers that genuinely need an external codec (JPEG pixels,
    video) — the honest boundary of a no-dependency environment.

    Returns width/height/n_frames/duration_ms plus ``format`` and, when
    pixels/samples were actually decoded, their means (``px_mean`` /
    ``sample_mean``) — decodable proof the byte path is real.
    """
    from . import codecs

    content = content or b""
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        w = codecs.decode_wav(content)
        mean = (
            sum(w["samples"]) / len(w["samples"])
            if w.get("samples")
            else None
        )
        return {
            "format": "wav", "width": 0, "height": 0, "n_frames": 1,
            "duration_ms": w["duration_ms"], "px_mean": None,
            "sample_mean": mean,
        }
    sniff = codecs.sniff_dimensions(content)
    if sniff is None:
        raise NotImplementedError(
            f"unrecognized container for media_type={media_type!r}: only "
            "PNG/BMP/GIF/JPEG/WAV decode without external codec libs"
        )
    out = {
        "format": sniff["format"], "width": sniff["width"],
        "height": sniff["height"], "n_frames": 1, "duration_ms": 0,
        "px_mean": None, "sample_mean": None,
    }
    if sniff["format"] == "png":
        px = codecs.decode_png(content)
        out["px_mean"] = sum(px["pixels"]) / len(px["pixels"])
    elif sniff["format"] == "bmp":
        px = codecs.decode_bmp(content)
        out["px_mean"] = sum(px["pixels"]) / len(px["pixels"])
    return out


def decode_media(df: DataFrame) -> DataFrame:
    """REAL-bytes decode stage: content BINARY -> format/width/height/
    n_frames/duration_ms/px_mean/sample_mean via :func:`stdlib_decode`
    in an Arrow-batched ``mapInPandas`` (same plumbing contract as
    :func:`decode_metadata`; no fake path — bytes must be genuine
    PNG/BMP/GIF/JPEG/WAV)."""
    out_schema = T.StructType(
        df.schema.fields
        + [
            T.StructField("format", T.StringType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("n_frames", T.IntegerType()),
            T.StructField("duration_ms", T.LongType()),
            T.StructField("px_mean", T.DoubleType()),
            T.StructField("sample_mean", T.DoubleType()),
        ]
    )
    cols = ["format", "width", "height", "n_frames", "duration_ms",
            "px_mean", "sample_mean"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [
                stdlib_decode(c, m)
                for c, m in zip(pdf["content"], pdf["media_type"])
            ]
            for k in cols:
                pdf[k] = [m[k] for m in metas]
            yield pdf

    return df.mapInPandas(run, out_schema)


def decode_metadata(df: DataFrame, fake: bool = False) -> DataFrame:
    """content BINARY -> typed decode metadata columns (width/height/...).

    Arrow-batched; decoder resolution order: the production ``DECODER``
    hook, else the deterministic fake when ``fake=True``, else the REAL
    pure-stdlib codec decode (PNG/BMP/GIF/JPEG/WAV — raises
    NotImplementedError per blob only for containers that need external
    codec libs, e.g. video).
    """
    if DECODER is not None:
        decoder = DECODER
    elif fake:
        decoder = _fake_decode
    else:
        decoder = stdlib_decode

    out_schema = T.StructType(
        df.schema.fields
        + [
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("n_frames", T.IntegerType()),
            T.StructField("duration_ms", T.LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [
                decoder(c, m)
                for c, m in zip(pdf["content"], pdf["media_type"])
            ]
            for k in ("width", "height", "n_frames", "duration_ms"):
                pdf[k] = [m[k] for m in metas]
            yield pdf

    return df.mapInPandas(run, out_schema)


def extract_features(df: DataFrame, dim: int = 16, fake: bool = False) -> DataFrame:
    """content BINARY -> fixed-width feature vector (array<float>).

    Stub featurizer: md5-seeded deterministic vector.  Real deployments
    swap the inner function for a model forward pass; the Spark plumbing
    (schema, Arrow batching, partition preservation) is identical.
    """
    if not fake and DECODER is None:
        raise NotImplementedError(
            "no media featurizer in this environment: call with fake=True"
        )

    out_schema = T.StructType(
        [f for f in df.schema.fields if f.name != "content"]
        + [T.StructField("features", T.ArrayType(T.FloatType()))]
    )

    def featurize(content: bytes) -> list[float]:
        h = hashlib.md5(content or b"").digest()
        return [((h[i % 16] / 255.0) * 2 - 1) for i in range(dim)]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["features"] = [featurize(c) for c in pdf["content"]]
            yield pdf.drop(columns=["content"])

    return df.mapInPandas(run, out_schema)


def sample_frames(df: DataFrame, every_n: int = 10, fake: bool = False) -> DataFrame:
    """video rows -> one row per sampled frame (frame_idx, frame BINARY).

    Frame-source resolution per blob: the production ``DECODER`` hook;
    else a FRPK1 frame pack (operators/codecs.py — REAL extractable
    frames, each its own PNG/BMP) parsed directly; else the
    deterministic fake when ``fake=True``; else NotImplementedError
    (H.264-family containers genuinely need an external codec).
    flatMap shape: mapInPandas emitting >1 row per input — sampled
    frames never materialize on one node.
    """
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame", T.BinaryType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from . import codecs

        for pdf in batches:
            rows = []
            for mid, content, mtype in zip(
                pdf["media_id"], pdf["content"], pdf["media_type"]
            ):
                if mtype != "video":
                    continue
                content = content or b""
                if content.startswith(b"FRPK1"):
                    frames = codecs.decode_frames(content)
                    for i in range(0, len(frames), every_n):
                        rows.append((int(mid), i, frames[i]))
                elif fake:
                    n = _fake_decode(content, mtype)["n_frames"]
                    for i in range(0, n, every_n):
                        fr = hashlib.md5(content + bytes([i])).digest()
                        rows.append((int(mid), i, fr))
                else:
                    raise NotImplementedError(
                        "no video codec for this container: pack frames as "
                        "FRPK1, set multimodal.DECODER, or pass fake=True"
                    )
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "frame"])

    return df.mapInPandas(run, out_schema)


def video_frame_hashes(
    df: DataFrame, every_n: int = 1, hash_col: str = "dhash"
) -> DataFrame:
    """(media_id, frame_idx, dhash): sample REAL frames and dHash each —
    the video near-dup primitive.  Two videos sharing most frame hashes
    are near-duplicates; feed the per-video hash sets to the n-gram
    Jaccard / banded machinery exactly like text shingles."""
    frames = sample_frames(df, every_n=every_n)
    as_media = frames.select(
        F.col("media_id"),
        F.col("frame_idx"),
        F.lit("image").alias("media_type"),
        F.col("frame").alias("content"),
        F.lit(None).cast("map<string,string>").alias("meta"),
    )
    return image_dhash(as_media).select("media_id", "frame_idx", hash_col)


def image_dhash(df: DataFrame, hash_col: str = "dhash") -> DataFrame:
    """Perceptual difference-hash per image row — the image-side
    near-dup fingerprint (the multimodal analog of text SimHash).

    Real pixels, pure stdlib: decode PNG/BMP (operators/codecs.py),
    grayscale, nearest-neighbor resize to 9x8, then bit j of the 64-bit
    hash = [row gradient is increasing] for each of the 8 adjacent-column
    pairs per row.  Robust to re-encoding, resizing, and small noise —
    near-duplicate images land within a few hamming bits, so downstream
    clustering reuses the SimHash banded-join machinery unchanged.

    Arrow-batched mapInPandas; non-image / undecodable rows get NULL
    (they are not silently hashed).  Scale: a projection — no shuffle;
    the pair search that follows is banded, never all-pairs.
    """
    out_schema = T.StructType(
        df.schema.fields + [T.StructField(hash_col, T.LongType())]
    )

    def _dhash(content: bytes) -> int | None:
        from . import codecs

        content = content or b""
        try:
            if content.startswith(b"\x89PNG"):
                px = codecs.decode_png(content)
            elif content[:2] == b"BM":
                px = codecs.decode_bmp(content)
            else:
                return None
        except Exception:
            return None
        pix, w, h, ch = px["pixels"], px["width"], px["height"], px["channels"]
        if ch > 1:  # integer luma (BT.601 weights scaled by 256)
            gray = bytes(
                (77 * pix[i] + 150 * pix[i + 1] + 29 * pix[i + 2]) >> 8
                for i in range(0, len(pix), ch)
            )
        else:
            gray = pix
        small = codecs.resize_nearest(gray, w, h, 1, 9, 8)
        bits = 0
        for y in range(8):
            for x in range(8):
                if small[y * 9 + x + 1] > small[y * 9 + x]:
                    bits |= 1 << (y * 8 + x)
        # keep the BIGINT positive (bit 63 folded) so banded arithmetic
        # downstream never sees sign-extension surprises
        return bits & 0x7FFFFFFFFFFFFFFF

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf[hash_col] = [
                _dhash(c) if m == "image" else None
                for c, m in zip(pdf["content"], pdf["media_type"])
            ]
            yield pdf

    return df.mapInPandas(run, out_schema)


def dhash_near_dup_pairs(
    hashed: DataFrame,
    id_col: str = "media_id",
    hash_col: str = "dhash",
    max_hamming: int = 4,
    bands: int = 8,
) -> DataFrame:
    """(id_a, id_b, hamming) for image pairs within ``max_hamming`` bits.

    Banded LSH on the 64-bit hash: split into ``bands`` 8-bit bands;
    pairs within hamming h <= bands-1 share at least one exact band
    (pigeonhole), so candidates come from per-band bucket joins — never
    an all-pairs product — and the exact popcount filter runs on
    candidates only.  Same topology as the text SimHash path.
    """
    width = 64 // bands
    h = hashed.filter(F.col(hash_col).isNotNull()).select(
        F.col(id_col), F.col(hash_col)
    )
    banded = h.select(
        id_col,
        hash_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col(hash_col), b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("bval"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, hash_col, F.col("bb.band").alias("band"), F.col("bb.bval").alias("bval"))
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{hash_col}").alias("ha"),
            F.col(f"b.{hash_col}").alias("hb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def audio_fingerprint(df: DataFrame, hash_col: str = "afp", frames: int = 65) -> DataFrame:
    """Energy-delta fingerprint per audio row — the PCM analog of
    :func:`image_dhash` (coarse chromaprint shape: hash the SIGN of
    energy change between adjacent fixed-count frames, which survives
    gain changes, resampling, and re-encoding).

    Real samples, pure stdlib: decode 16-bit PCM WAV
    (operators/codecs.py), split into ``frames`` equal windows, compute
    integer frame energy, bit j = [energy(j+1) > energy(j)] → a 64-bit
    hash whose hamming distance measures envelope similarity.  Constant
    or empty audio hashes to 0.  Non-audio / undecodable rows get NULL.
    Pair search = :func:`dhash_near_dup_pairs` on this column (same
    banded topology)."""
    out_schema = T.StructType(
        df.schema.fields + [T.StructField(hash_col, T.LongType())]
    )

    def _afp(content: bytes) -> int | None:
        from . import codecs

        try:
            w = codecs.decode_wav(content or b"")
        except Exception:
            return None
        samples = w.get("samples")
        if not samples:
            return None
        n = len(samples)
        step = max(n // frames, 1)
        energies = []
        for f in range(frames):
            seg = samples[f * step : (f + 1) * step]
            if not seg:
                break
            energies.append(sum(s * s for s in seg))
        bits = 0
        for j in range(min(len(energies) - 1, 64)):
            if energies[j + 1] > energies[j]:
                bits |= 1 << j
        return bits & 0x7FFFFFFFFFFFFFFF

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf[hash_col] = [
                _afp(c) if m == "audio" else None
                for c, m in zip(pdf["content"], pdf["media_type"])
            ]
            yield pdf

    return df.mapInPandas(run, out_schema)


# production hook for resize; signature (content, media_type, w, h) -> bytes
RESIZER: Callable[[bytes, str, int, int], bytes] | None = None


def resize_images(
    df: DataFrame, width: int, height: int, fake: bool = False
) -> DataFrame:
    """image rows -> re-encoded content at (width, height), meta updated.

    Same Arrow plumbing contract as decode: per-batch Python, bounded by
    arrow.maxRecordsPerBatch, schema preserved (MEDIA_SCHEMA + resized
    content), so a resize stage slots into any media pipeline without a
    schema migration.  Kernel resolution: the production ``RESIZER``
    hook; else with ``fake=True`` a deterministic md5-stream stand-in;
    else the REAL pure-stdlib path — decode PNG/BMP pixels
    (operators/codecs.py), nearest-neighbor resample, re-encode as PNG
    (other containers raise NotImplementedError per blob).  Non-image
    rows pass through untouched (resize is an image-only transform)."""
    resizer = RESIZER
    if resizer is None:
        if fake:

            def resizer(content: bytes, media_type: str, w: int, h: int) -> bytes:
                seed = hashlib.md5(
                    (content or b"") + f"|{w}x{h}".encode()
                ).digest()
                out, n = [], max(w * h // 64, 16)
                while sum(len(c) for c in out) < n:
                    seed = hashlib.md5(seed).digest()
                    out.append(seed)
                return b"".join(out)[:n]

        else:

            def resizer(content: bytes, media_type: str, w: int, h: int) -> bytes:
                from . import codecs

                content = content or b""
                if content.startswith(b"\x89PNG"):
                    px = codecs.decode_png(content)
                elif content[:2] == b"BM":
                    px = codecs.decode_bmp(content)
                else:
                    raise NotImplementedError(
                        "real resize covers PNG/BMP only without codec libs"
                    )
                resized = codecs.resize_nearest(
                    px["pixels"], px["width"], px["height"], px["channels"], w, h
                )
                return codecs.encode_png(resized, w, h, px["channels"])

    schema = T.StructType(
        list(MEDIA_SCHEMA.fields)
        + [
            T.StructField("out_width", T.IntegerType()),
            T.StructField("out_height", T.IntegerType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            is_img = b["media_type"] == "image"
            b = b.copy()
            b.loc[is_img, "content"] = b.loc[is_img].apply(
                lambda r: resizer(r["content"], r["media_type"], width, height),
                axis=1,
            )
            b["out_width"] = [width if i else None for i in is_img]
            b["out_height"] = [height if i else None for i in is_img]
            yield b

    return df.mapInPandas(run, schema)
