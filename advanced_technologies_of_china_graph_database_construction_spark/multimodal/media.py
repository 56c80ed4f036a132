"""Multimodal columns: image/audio/video as opaque ``binary`` payloads
with typed metadata, processed through Arrow-batched pandas seams.

No media tables exist in the reference (text-only bibliometrics) or the
driver's fixtures, so payloads are synthesized deterministically from
``documents`` — but the Spark-side plumbing is the real thing a 100 TB
training-data pipeline needs: a stable media schema, ``mapInPandas``
decode/feature/resize/frame-sample operators with per-row error
channels, and partitioning that keeps payload bytes from shuffling
twice.

All THREE modalities run REAL no-dependency decode paths in-container,
each gated bit-exact against a SQL oracle: ``audio_energy`` (8-bit PCM
→ numpy energy stats, m04), ``image_stats`` (PPM P6 header parse + raw
RGB plane → channel means, m05), and ``video_stats`` (YUV4MPEG2 header
parse + FRAME-marker walk → per-frame luma stats, m06).
``pil_decoder`` raises ``NotImplementedError`` unless Pillow appears
(general compressed formats need a codec library), and the
deterministic ``fake_decoder`` survives as the pluggable-stub example
for the generic ``extract_features`` seam.  Swapping decoders changes
one callable, not the pipeline.

One decode seam: each decode operator is a per-payload function
``decode(raw) -> dict`` handed to ``_decode_payloads``, the module's
only ``mapInPandas``.  A NULL payload decodes as ``b""``; a field the
dict omits is NULL.  Dead-letter rule: an undecodable row is
``{"error": ...}`` plus the fields already known (``audio_energy``'s
and ``quiet_segments``' count of 0).  The seam catches nothing, so a
bug in a built-in decoder fails the job; only ``extract_features``
wraps its pluggable ``decoder``.

Scale notes: feature extraction is a narrow Arrow-batched map — no
shuffle touches payload bytes; aggregations downstream group on the
small feature/meta columns only (column pruning drops ``payload`` at
the scan when the query never reads it — verify with
``.explain`` ReadSchema).  Frame sampling explodes metadata-derived
offsets, not frames, so the blow-up is bounded by ``duration/step``.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

KINDS = ("image", "audio", "video")

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("doc_id", LongType()),
        StructField("kind", StringType()),
        StructField("payload", StringType()),  # cast to binary in attach_media
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("features", ArrayType(FloatType())),
        StructField("error", StringType()),
    ]
)


def _ascii_checked(docs: DataFrame) -> DataFrame:
    """Fail LOUDLY if any document text is non-ASCII.  Every attach_*
    constructor sizes pixel/sample planes in CHARACTERS but emits
    ``encode(..., 'UTF-8')`` BYTES, and the m02/m04/m05/m06 oracles
    read the payload back with byte-positional ``ascii()`` arithmetic —
    the byte==char assumption is load-bearing for all of them.  It held
    only as a docstring promise before; this guard turns a fixture
    charset change into an immediate raise_error at construction
    instead of a mystery hash mismatch downstream.  One narrow JVM
    projection — no extra scan, no Python."""
    return docs.withColumn(
        "text",
        F.when(
            F.octet_length("text") != F.length("text"),
            F.raise_error(
                F.concat(
                    F.lit("non-ASCII text breaks byte==char media sizing: doc_id="),
                    F.col("doc_id").cast("string"),
                )
            ),
        ).otherwise(F.col("text")),
    )


def attach_media(docs: DataFrame) -> DataFrame:
    """Synthesize a deterministic media table from documents: payload =
    UTF-8 text bytes, kind by doc_id mod 3, metadata from n_chars."""
    docs = _ascii_checked(docs)
    d = F.col("doc_id")
    kind = F.element_at(F.array(*[F.lit(k) for k in KINDS]), (d % 3 + 1).cast("int"))
    return docs.select(
        (d + 5_000_000).alias("media_id"),
        d.alias("doc_id"),
        kind.alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        (d % 640 + 64).cast("int").alias("width"),
        (d % 480 + 48).cast("int").alias("height"),
        (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
    )


# ------------------------------------------------------------- decoders ----

# decoder: bytes -> list[float] feature vector; raises on undecodable.
Decoder = Callable[[bytes], list[float]]


def fake_decoder(payload: bytes) -> list[float]:
    """Deterministic stand-in: [n_bytes, first_byte, last_byte].
    Empty payloads are undecodable (exercises the error channel)."""
    if not payload:
        raise ValueError("empty payload")
    return [float(len(payload)), float(payload[0]), float(payload[-1])]


def pil_decoder(payload: bytes) -> list[float]:
    """Real image decode → [width, height, channels, mean intensity],
    gated on Pillow being present (the test container ships no imaging
    libs, so there this raises the documented ``NotImplementedError``
    and the conditional test skips; on a cluster with Pillow it runs
    as-is — same ``Decoder`` contract as ``fake_decoder``)."""
    try:
        from PIL import Image
    except ImportError as exc:  # pragma: no cover — exercised only sans PIL
        raise NotImplementedError(
            "image decoding requires Pillow; install it on the cluster or "
            "use fake_decoder for plumbing tests"
        ) from exc
    import io

    with Image.open(io.BytesIO(payload)) as im:
        arr = np.asarray(im.convert("RGB"), dtype=np.float64)
    h, w, c = arr.shape
    return [float(w), float(h), float(c), float(arr.mean())]


def _decode_payloads(
    media: DataFrame,
    schema: StructType,
    decode: Callable[[bytes], dict],
    keep: tuple[str, ...] = ("media_id",),
) -> DataFrame:
    """The module's one Arrow-batched decode seam (see the module
    docstring for the contract ``decode`` follows).  ``keep`` columns
    pass through unchanged; every other ``schema`` field comes from the
    dicts ``decode`` returns, NULL where a dict omits it."""
    names = schema.fieldNames()

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [decode(bytes(p) if p is not None else b"") for p in pdf["payload"]]
            yield pd.DataFrame(
                {c: pdf[c] if c in keep else [r.get(c) for r in rows] for c in names}
            )

    return media.select(*keep, "payload").mapInPandas(decode_batches, schema)


def extract_features(media: DataFrame, decoder: Decoder | None = None) -> DataFrame:
    """Arrow-batched feature extraction with a per-row error channel
    (same dead-letter shape as enrichment)."""
    dec = decoder or fake_decoder

    def decode(raw: bytes) -> dict:
        try:
            return {"n_bytes": len(raw), "features": dec(raw)}
        except Exception as exc:  # noqa: BLE001 — dead-letter, not crash
            return {"n_bytes": len(raw), "error": f"decode_error: {exc}"}

    return _decode_payloads(media, FEATURE_SCHEMA, decode, keep=("media_id", "kind"))


ENERGY_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_samples", LongType()),
        StructField("mean_level", DoubleType()),
        StructField("rms_level", DoubleType()),
        StructField("error", StringType()),
    ]
)


def audio_energy(media: DataFrame) -> DataFrame:
    """REAL decode path that needs no external library: payload bytes as
    unsigned 8-bit PCM samples → per-clip energy stats (mean level, RMS)
    with vectorized numpy — the audio counterpart of ``pil_decoder``
    that actually runs in this container, so the mapInPandas decode seam
    is exercised end-to-end, not just through the fake decoder.

    Determinism: samples are summed as int64 (every intermediate is an
    exact integer well inside 2^53), so mean = sum/n and rms =
    sqrt(sumsq/n) are each ONE float64 division/sqrt — bit-identical to
    the SQL oracle's avg/sqrt regardless of summation order.  Output is
    double end-to-end (the float32 feature array of ``extract_features``
    would destroy the 6-digit rounding contract).  Per-row errors ride
    the same dead-letter channel."""

    def decode(raw: bytes) -> dict:
        if not raw:
            return {"n_samples": 0, "error": "decode_error: empty payload"}
        x = np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
        n = len(x)
        return {
            "n_samples": n,
            "mean_level": float(x.sum()) / n,
            "rms_level": float(np.sqrt(float((x * x).sum()) / n)),
        }

    return _decode_payloads(media, ENERGY_SCHEMA, decode)


_PPM_HDR = re.compile(rb"^P6\s+(\d+)\s+(\d+)\s+(\d+)[ \t\r\n]")
_Y4M_HDR = re.compile(rb"^YUV4MPEG2 W(\d+) H(\d+) [^\n]*\n")


def _parse_p6(raw: bytes):
    """(w, h, plane_bytes, None) on success, (None, None, None, err)
    on any dead-letter condition — ONE copy of the P6 header parse and
    guards shared by ``image_stats`` and ``resized_image_stats``, so a
    guard fix can't silently diverge between the two decode faces."""
    m = _PPM_HDR.match(raw)
    if not m:
        return None, None, None, "decode_error: not a P6 ppm"
    w, h, maxv = (int(x) for x in m.groups())
    if maxv != 255:
        return None, None, None, f"decode_error: unsupported maxval {maxv}"
    if w * h == 0:
        # a zero-dim header parses but has no pixels — dead-letter,
        # never a ZeroDivision that kills the job
        return None, None, None, "decode_error: zero-dimension image"
    plane = raw[m.end() : m.end() + w * h * 3]
    if len(plane) < w * h * 3:
        return None, None, None, "decode_error: truncated pixel plane"
    return w, h, plane, None


def _parse_y4m(raw: bytes):
    """(w, h, body_offset, None) or (None, None, None, err): the
    YUV4MPEG2 header parse + guards shared by ``video_stats`` and
    ``sampled_frame_stats``; frame-level walking stays per-operator
    (full marker walk vs byte-offset seek).  The colourspace check is
    an exact token match (param boundary = whitespace): a substring
    test would let Cmono12/Cmono16 (multi-byte samples) slip through
    and be misdecoded as 8-bit luma instead of dead-lettering."""
    m = _Y4M_HDR.match(raw)
    if not m:
        return None, None, None, "decode_error: not a YUV4MPEG2 stream"
    if not re.search(rb"\sCmono[\s\n]", raw[: m.end()]):
        return None, None, None, "decode_error: unsupported colourspace"
    w, h = int(m.group(1)), int(m.group(2))
    if w * h == 0:
        # same dead-letter guard as _parse_p6
        return None, None, None, "decode_error: zero-dimension stream"
    return w, h, m.end(), None


def attach_ppm_images(docs: DataFrame) -> DataFrame:
    """Synthesize REAL image payloads: a binary PPM (P6) file per image
    document — `P6\\n{w} {h}\\n255\\n` header followed by w·h·3 raw RGB
    bytes taken from the document text (repeated/truncated to length).
    Dims vary per row (w = doc_id%5+2, h = doc_id%7+2) so the decoder
    must actually parse the header — it cannot assume a shape.  All
    construction is JVM column expressions; text must be ASCII so
    encode() is byte-per-char and the payload is SQL-derivable
    (enforced by ``_ascii_checked``, not assumed)."""
    docs = _ascii_checked(docs)
    d = F.col("doc_id")
    w = (d % 5 + 2).cast("int")
    h = (d % 7 + 2).cast("int")
    npix = (w * h * 3).cast("int")
    pixels = F.substring(
        F.repeat(F.col("text"), F.ceil(npix / F.length("text")).cast("int")), 1, npix
    )
    header = F.concat(
        F.lit("P6\n"), w.cast("string"), F.lit(" "), h.cast("string"), F.lit("\n255\n")
    )
    return docs.filter((d % 3 == 0) & (F.length("text") > 0)).select(
        (d + 5_000_000).alias("media_id"),
        d.alias("doc_id"),
        F.lit("image").alias("kind"),
        F.encode(F.concat(header, pixels), "UTF-8").alias("payload"),
    )


IMAGE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_r", DoubleType()),
        StructField("mean_g", DoubleType()),
        StructField("mean_b", DoubleType()),
        StructField("mean_intensity", DoubleType()),
        StructField("error", StringType()),
    ]
)


def image_stats(media: DataFrame) -> DataFrame:
    """REAL image decode with no external library: parse the PPM (P6)
    header out of the payload bytes (magic, dims, maxval — dims come
    from the file, not the metadata columns), reinterpret the raw RGB
    plane as a (h, w, 3) numpy array, and reduce to per-channel means —
    the image counterpart of ``audio_energy``'s PCM path, so the
    mapInPandas decode seam runs a true binary format end-to-end in
    this container (``fake_decoder`` now stands in only for video).

    Determinism: channel sums are int64 (exact), each mean is ONE
    float64 division — bit-identical to the SQL oracle's avg.
    Undecodable payloads (bad magic, truncated plane, non-255 maxval)
    ride the dead-letter channel (guards live in ``_parse_p6``)."""

    def decode(raw: bytes) -> dict:
        w, h, plane, err = _parse_p6(raw)
        if err is not None:
            return {"error": err}
        arr = (
            np.frombuffer(plane, dtype=np.uint8)
            .astype(np.int64)
            .reshape(h, w, 3)
        )
        n = w * h
        sums = arr.sum(axis=(0, 1))  # int64 per channel
        return {
            "width": w,
            "height": h,
            "mean_r": float(sums[0]) / n,
            "mean_g": float(sums[1]) / n,
            "mean_b": float(sums[2]) / n,
            "mean_intensity": float(sums.sum()) / (3 * n),
        }

    return _decode_payloads(media, IMAGE_SCHEMA, decode)


def attach_y4m_videos(docs: DataFrame) -> DataFrame:
    """Synthesize REAL video payloads: a YUV4MPEG2 (.y4m) stream per
    video document — the standard uncompressed interchange format
    (`YUV4MPEG2 W.. H.. F25:1 Ip A1:1 Cmono\\n` header, then per frame
    a `FRAME\\n` marker + w·h raw luma bytes).  Dims AND frame count
    vary per row (w = doc_id%4+2, h = doc_id%5+2, frames = doc_id%7+2)
    so the decoder must parse the header and walk the frame markers.
    Luma bytes continue through the document text across frames (frame
    f, pixel i = text[(f·w·h + i) mod len]) — SQL-derivable like the
    PPM/PCM payloads (byte==char enforced by ``_ascii_checked``)."""
    docs = _ascii_checked(docs)
    d = F.col("doc_id")
    w = (d % 4 + 2).cast("int")
    h = (d % 5 + 2).cast("int")
    nf = (d % 7 + 2).cast("int")
    frame_px = (w * h).cast("int")
    header = F.concat(
        F.lit("YUV4MPEG2 W"), w.cast("string"),
        F.lit(" H"), h.cast("string"),
        F.lit(" F25:1 Ip A1:1 Cmono\n"),
    )
    # frame f's plane = chars [f·wh, (f+1)·wh) of the text repeated —
    # one repeat() sized for all frames, sliced per frame
    total = (frame_px * nf).cast("int")
    reps = F.ceil(total / F.length("text")).cast("int")
    all_px = F.substring(F.repeat(F.col("text"), reps), 1, total)
    frames = F.aggregate(
        F.sequence(F.lit(0), nf - 1),
        F.lit(""),
        lambda acc, f: F.concat(
            acc, F.lit("FRAME\n"), F.substring(all_px, f * frame_px + 1, frame_px)
        ),
    )
    return docs.filter((d % 3 == 2) & (F.length("text") > 0)).select(
        (d + 5_000_000).alias("media_id"),
        d.alias("doc_id"),
        F.lit("video").alias("kind"),
        F.encode(F.concat(header, frames), "UTF-8").alias("payload"),
    )


VIDEO_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("mean_luma", DoubleType()),
        StructField("first_frame_mean", DoubleType()),
        StructField("last_frame_mean", DoubleType()),
        StructField("error", StringType()),
    ]
)


def video_stats(media: DataFrame) -> DataFrame:
    """REAL video decode with no external library: parse the YUV4MPEG2
    stream header (dims come from the file), walk the FRAME markers,
    reinterpret each mono luma plane as numpy, and reduce to stream +
    per-frame stats — with ``image_stats`` and ``audio_energy`` this
    makes all three modalities' decode seams REAL in-container
    (``fake_decoder`` survives only as the pluggable-stub example).

    Determinism: int64 luma sums, one float64 division per stat —
    bit-identical to the SQL oracle's avg.  Undecodable payloads (bad
    magic, unsupported colourspace, truncated/absent frames) ride the
    dead-letter channel (header guards live in ``_parse_y4m``)."""

    def decode(raw: bytes) -> dict:
        w, h, body, herr = _parse_y4m(raw)
        if herr is not None:
            return {"error": herr}
        plane = w * h
        pos, planes = body, []
        while pos < len(raw):
            if raw[pos : pos + 6] != b"FRAME\n":
                return {"error": "decode_error: bad frame marker"}
            pos += 6
            if pos + plane > len(raw):
                return {"error": "decode_error: truncated frame"}
            planes.append(
                np.frombuffer(raw[pos : pos + plane], dtype=np.uint8).astype(np.int64)
            )
            pos += plane
        if not planes:
            return {"error": "decode_error: no frames"}
        sums = [int(p.sum()) for p in planes]
        return {
            "width": w,
            "height": h,
            "n_frames": len(planes),
            "mean_luma": float(sum(sums)) / (plane * len(planes)),
            "first_frame_mean": float(sums[0]) / plane,
            "last_frame_mean": float(sums[-1]) / plane,
        }

    return _decode_payloads(media, VIDEO_SCHEMA, decode)


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("target_w", IntegerType()),
        StructField("target_h", IntegerType()),
        StructField("mean_r", DoubleType()),
        StructField("mean_g", DoubleType()),
        StructField("mean_b", DoubleType()),
        StructField("error", StringType()),
    ]
)


def resized_image_stats(media: DataFrame, target: int = 3) -> DataFrame:
    """REAL pixel resample (the step ``resize_plan`` only plans):
    nearest-neighbor resize of each PPM payload to a fixed
    ``target``×``target`` thumbnail, reduced to per-channel means of
    the RESIZED image — the normalize-before-featurize step of a
    vision-training pipeline, where every image must land on one
    tensor shape regardless of source dims.  Nearest-neighbor index
    map: resized (r, c) reads source (r·h//t, c·w//t) — pure integer
    arithmetic, no interpolation, so the result is SQL-derivable and
    the gate proves the RESAMPLED pixels, not just metadata (both up-
    and down-sampling occur: source dims straddle ``target`` on both
    sides).  Decode guards are ``image_stats``'s — both faces share
    ``_parse_p6``, so dead-letter behavior cannot diverge.

    Scale: the resample is numpy fancy-indexing inside the same
    narrow mapInPandas seam — payload bytes never shuffle, and the
    output is O(t²) per image regardless of source size, so the
    operator's output volume is decoupled from corpus byte volume."""
    if target < 1:
        raise ValueError(f"target={target}; must be >= 1")
    idx = np.arange(target)

    def decode(raw: bytes) -> dict:
        w, h, plane, perr = _parse_p6(raw)
        if perr is not None:
            return {"error": perr}
        arr = (
            np.frombuffer(plane, dtype=np.uint8)
            .reshape(h, w, 3)
        )
        rows = (idx * h) // target  # nearest-neighbor index map
        colz = (idx * w) // target
        resized = arr[np.ix_(rows, colz)].astype(np.int64)
        n = target * target
        sums = resized.sum(axis=(0, 1))
        return {
            "width": w,
            "height": h,
            "target_w": target,
            "target_h": target,
            "mean_r": float(sums[0]) / n,
            "mean_g": float(sums[1]) / n,
            "mean_b": float(sums[2]) / n,
        }

    return _decode_payloads(media, RESIZED_SCHEMA, decode)


SAMPLED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("n_sampled", IntegerType()),
        StructField("mean_sampled_luma", DoubleType()),
        StructField("error", StringType()),
    ]
)


def sampled_frame_stats(media: DataFrame, step: int = 2) -> DataFrame:
    """SELECTIVE frame decode: stats over every ``step``-th frame of a
    YUV4MPEG2 stream, touching ONLY the sampled frames' bytes — the
    100 TB video pattern.  ``video_stats`` walks every frame; at scale
    a 1-fps sample over 30-fps footage must not decode (or ideally even
    read) the other 29/30 of the corpus.  Fixed-size mono frames make
    every frame's byte offset closed-form (header_end + f·(6 + w·h) +
    6), so the decoder SEEKS: frame count from length arithmetic, then
    a marker check + plane slice per sampled frame only.  In a real
    store the same offsets become parquet/object-store byte-range reads
    — the in-payload slice here is that access pattern with the I/O
    layer collapsed.  Compressed formats would instead seek via a
    keyframe index; fixed-size-frame arithmetic is that index's
    degenerate closed form.

    Determinism: int64 sums, one float64 division — bit-identical to
    the SQL oracle's filtered avg.  A byte length that doesn't divide
    into whole frames, or a non-FRAME marker at any sampled offset,
    dead-letters the row (the marker check at every SEEKED offset means
    corruption in sampled regions is still caught; corruption in
    skipped frames is by design invisible — the cost of not reading
    them)."""
    if step < 1:
        raise ValueError(f"step={step}; must be >= 1")

    def decode(raw: bytes) -> dict:
        w, h, hdr_end, herr = _parse_y4m(raw)
        if herr is not None:
            return {"error": herr}
        plane = w * h
        body = len(raw) - hdr_end
        block = 6 + plane  # FRAME\n marker + luma plane
        nf, rem = divmod(body, block)
        if rem or nf == 0:
            return {"error": "decode_error: body is not whole frames"}
        total = 0
        n_sampled = 0
        for f in range(0, nf, step):  # the SEEK: skipped frames untouched
            pos = hdr_end + f * block
            if raw[pos : pos + 6] != b"FRAME\n":
                return {"error": "decode_error: bad frame marker"}
            luma = np.frombuffer(
                raw[pos + 6 : pos + 6 + plane], dtype=np.uint8
            )
            total += int(luma.astype(np.int64).sum())
            n_sampled += 1
        return {
            "width": w,
            "height": h,
            "n_frames": nf,
            "n_sampled": n_sampled,
            "mean_sampled_luma": float(total) / (plane * n_sampled),
        }

    return _decode_payloads(media, SAMPLED_SCHEMA, decode)


def resize_plan(media: DataFrame, max_side: int = 256) -> DataFrame:
    """Resize planning is pure metadata arithmetic — JVM-side, no decode:
    compute target dims preserving aspect ratio; the actual pixel
    resample rides the decode seam in ``resized_image_stats``."""
    scale = F.least(
        F.lit(1.0),
        F.lit(max_side) / F.greatest("width", "height"),
    )
    return media.select(
        "media_id",
        "kind",
        "width",
        "height",
        F.round(F.col("width") * scale).cast("int").alias("target_width"),
        F.round(F.col("height") * scale).cast("int").alias("target_height"),
    )


def sample_frames(media: DataFrame, step_ms: int = 1000) -> DataFrame:
    """Frame sampling for video: explode metadata-derived frame offsets
    (0, step, 2*step, ... < duration).  The per-frame decode is the
    stubbed seam; the offsets/explode/partitioning are real.
    A ZERO-duration clip yields no frames — the sequence's greatest(d−1,
    0) floor would otherwise emit a phantom offset-0 frame for media
    with no content (r12 review; the oracle mirrors the filter)."""
    video = media.filter((F.col("kind") == "video") & (F.col("duration_ms") > 0))
    offsets = F.sequence(
        F.lit(0).cast("long"),
        F.greatest(F.col("duration_ms") - 1, F.lit(0).cast("long")),
        F.lit(step_ms).cast("long"),
    )
    return video.select(
        "media_id",
        "doc_id",
        "duration_ms",
        F.explode(offsets).alias("frame_offset_ms"),
    )


QUIET_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_windows", LongType()),
        StructField("n_quiet", LongType()),
        StructField("n_segments", LongType()),
        StructField("longest_quiet", LongType()),
        StructField("error", StringType()),
    ]
)


def quiet_segments(media: DataFrame, window: int = 16) -> DataFrame:
    """VAD-style silence-segment detection over 8-bit PCM clips — the
    preprocessing step an audio-training pipeline runs before chunking
    (trim/skip low-activity spans): fixed ``window``-sample frames, a
    frame is QUIET when its mean level is strictly below the clip's own
    mean (scale-free adaptive threshold — no fixture-tuned constant,
    non-vacuous on any non-constant clip), consecutive quiet frames
    merge into segments (gaps-and-islands).  Per clip: frame count,
    quiet-frame count, segment count, longest segment.

    Determinism: frame and clip means are single float64 divisions of
    exact int64 sums (the audio_energy discipline), so the quiet
    comparison is bit-identical to the SQL oracle's avg-vs-avg; every
    output is an integer count.  The tail frame keeps its own (shorter)
    denominator.  Same mapInPandas seam, same dead-letter channel."""
    if window < 1:
        # the sibling decode operators' convention (sampled_frame_stats,
        # resized_image_stats): reject at the driver, not an opaque
        # numpy error per task after a full scan
        raise ValueError("quiet_segments needs window >= 1")

    def decode(raw: bytes) -> dict:
        if not raw:
            return {"n_windows": 0, "error": "decode_error: empty payload"}
        x = np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
        n = len(x)
        starts = np.arange(0, n, window, dtype=np.int64)
        sums = np.add.reduceat(x, starts)
        counts = np.minimum(starts + window, n) - starts
        wmeans = sums.astype(np.float64) / counts
        cmean = float(x.sum()) / n
        quiet = wmeans < cmean
        # islands vectorized (the file's numpy discipline — a
        # per-frame Python loop would dominate long clips):
        # pad with False, diff marks run starts (+1) / ends (-1)
        d = np.diff(np.concatenate(([0], quiet.astype(np.int8), [0])))
        runs = np.flatnonzero(d == -1) - np.flatnonzero(d == 1)
        return {
            "n_windows": len(starts),
            "n_quiet": int(quiet.sum()),
            "n_segments": len(runs),
            "longest_quiet": int(runs.max()) if len(runs) else 0,
        }

    return _decode_payloads(media, QUIET_SCHEMA, decode)
