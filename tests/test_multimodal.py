"""Multimodal plumbing: payload typing, decode error channel, resize
planning, frame sampling, and payload column pruning."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

from advanced_technologies_of_china_graph_database_construction_spark.catalog import load_table
from advanced_technologies_of_china_graph_database_construction_spark.multimodal import media as mm

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def media_df(spark):
    return mm.attach_media(load_table(spark, SF, "documents"))


def test_media_schema(media_df):
    assert isinstance(media_df.schema["payload"].dataType, BinaryType)
    kinds = {r["kind"] for r in media_df.select("kind").distinct().collect()}
    assert kinds == set(mm.KINDS)


def test_decode_error_channel(spark, media_df):
    # inject an empty payload: must land in the error channel, not crash
    bad = media_df.limit(1).withColumn("payload", F.lit(b""))
    feats = mm.extract_features(media_df.limit(5).unionByName(bad))
    rows = feats.collect()
    errs = [r for r in rows if r["error"] is not None]
    ok = [r for r in rows if r["error"] is None]
    assert len(errs) == 1 and "empty payload" in errs[0]["error"]
    for r in ok:
        assert r["features"][0] == float(r["n_bytes"])


def test_pil_decoder_is_stubbed():
    try:
        import PIL  # noqa: F401

        pytest.skip("Pillow present: the decode seam is live, not stubbed")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError):
        mm.pil_decoder(b"\x89PNG")


def test_ppm_decode_roundtrip_known_pixels(spark):
    """image_stats must REALLY parse the P6 header (dims from the file)
    and decode the RGB plane: a hand-built 2x2 image with known channel
    values comes back with exact means."""
    # pixels: (10,20,30) (40,50,60) / (70,80,90) (100,110,120)
    plane = bytes(range(10, 130, 10))
    payload = b"P6\n2 2\n255\n" + plane
    df = spark.createDataFrame([(1, payload)], "media_id long, payload binary")
    r = mm.image_stats(df).collect()[0]
    assert r["error"] is None
    assert (r["width"], r["height"]) == (2, 2)
    assert (r["mean_r"], r["mean_g"], r["mean_b"]) == (55.0, 65.0, 75.0)
    assert r["mean_intensity"] == 65.0


def test_ppm_decode_error_channel(spark):
    """Bad magic, truncated plane, and non-255 maxval ride the
    dead-letter channel instead of crashing the batch."""
    rows = [
        (1, b"JFIF not a ppm"),
        (2, b"P6\n4 4\n255\nshort"),
        (3, b"P6\n1 1\n65535\n" + b"\x00" * 6),
        (4, b"P6\n1 1\n255\nabc"),  # exactly enough bytes: decodes
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in mm.image_stats(df).collect()}
    assert "not a P6" in got[1]["error"]
    assert "truncated" in got[2]["error"]
    assert "maxval" in got[3]["error"]
    assert got[4]["error"] is None and got[4]["mean_r"] == float(ord("a"))


def test_attach_ppm_images_payload_shape(spark):
    """Synthesized payloads are well-formed PPMs whose plane length
    matches the header dims, for every row."""
    imgs = mm.attach_ppm_images(load_table(spark, SF, "documents"))
    stats = mm.image_stats(imgs)
    assert stats.filter(F.col("error").isNotNull()).count() == 0
    # decoded dims must equal the doc_id-derived construction dims
    bad = stats.join(imgs, "media_id").filter(
        (F.col("width") != (F.col("doc_id") % 5 + 2))
        | (F.col("height") != (F.col("doc_id") % 7 + 2))
    )
    assert bad.count() == 0


def test_y4m_decode_roundtrip_known_frames(spark):
    """video_stats must parse the stream header and walk the FRAME
    markers: a hand-built 2x1 mono stream with two known frames comes
    back with exact per-frame and stream means."""
    payload = (
        b"YUV4MPEG2 W2 H1 F25:1 Ip A1:1 Cmono\n"
        b"FRAME\n\x0a\x14"   # frame 0: 10, 20 -> mean 15
        b"FRAME\n\x1e\x28"   # frame 1: 30, 40 -> mean 35
    )
    df = spark.createDataFrame([(1, payload)], "media_id long, payload binary")
    r = mm.video_stats(df).collect()[0]
    assert r["error"] is None
    assert (r["width"], r["height"], r["n_frames"]) == (2, 1, 2)
    assert (r["first_frame_mean"], r["last_frame_mean"]) == (15.0, 35.0)
    assert r["mean_luma"] == 25.0


def test_y4m_decode_error_channel(spark):
    rows = [
        (1, b"RIFF not y4m"),
        (2, b"YUV4MPEG2 W2 H2 F25:1 Ip A1:1 C444\n" + b"FRAME\n" + b"\x00" * 12),
        (3, b"YUV4MPEG2 W2 H2 F25:1 Ip A1:1 Cmono\nFRAME\n\x00\x00"),  # truncated
        (4, b"YUV4MPEG2 W2 H2 F25:1 Ip A1:1 Cmono\nXRAME\n\x00\x00\x00\x00"),
        (5, b"YUV4MPEG2 W2 H2 F25:1 Ip A1:1 Cmono\n"),  # no frames
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r["error"] for r in mm.video_stats(df).collect()}
    assert "not a YUV4MPEG2" in got[1]
    assert "colourspace" in got[2]
    assert "truncated" in got[3]
    assert "marker" in got[4]
    assert "no frames" in got[5]


def test_y4m_multibyte_colourspace_rides_dead_letter(spark):
    """Cmono12/Cmono16 are multi-byte-per-sample streams: the guard
    must match the colourspace TOKEN exactly, not the substring — a
    substring test would silently misdecode them as 8-bit luma."""
    rows = [
        (1, b"YUV4MPEG2 W2 H2 F25:1 Ip A1:1 Cmono12\n" + b"FRAME\n" + b"\x00" * 8),
        (2, b"YUV4MPEG2 W2 H2 F25:1 Ip A1:1 Cmono16\n" + b"FRAME\n" + b"\x00" * 8),
        (3, b"YUV4MPEG2 W2 H2 F25:1 Ip A1:1 Cmono\n" + b"FRAME\n" + b"\x08" * 4),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in mm.video_stats(df).collect()}
    assert "colourspace" in got[1]["error"]
    assert "colourspace" in got[2]["error"]
    assert got[3]["error"] is None and got[3]["mean_luma"] == 8.0


def test_non_ascii_text_fails_loudly_at_attach(spark):
    """The byte==char sizing assumption is ENFORCED, not assumed: a
    non-ASCII document text must raise at construction (m02/m04/m05/m06
    oracles read payloads with byte-positional ascii() arithmetic)."""
    import pytest as _pytest

    # ids chosen to survive each constructor's doc_id%3 selection filter
    docs = spark.createDataFrame(
        [(0, "café text", 9), (2, "naïve", 5)],
        "doc_id long, text string, n_chars long",
    )
    for attach in (mm.attach_media, mm.attach_ppm_images, mm.attach_y4m_videos):
        with _pytest.raises(Exception, match="non-ASCII"):
            attach(docs).collect()


def test_zero_dimension_payloads_ride_dead_letter(spark):
    """A zero-dim header parses (\\d+ matches '0') but has no pixels —
    it must land in the error channel, never a ZeroDivisionError that
    kills the whole job (review-found crash, pinned)."""
    imgs = spark.createDataFrame(
        [(1, b"P6\n0 0\n255\n"), (2, b"P6\n2 0\n255\n")],
        "media_id long, payload binary",
    )
    for r in mm.image_stats(imgs).collect():
        assert r["error"] and "zero-dimension" in r["error"], r
    vids = spark.createDataFrame(
        [(1, b"YUV4MPEG2 W0 H3 F25:1 Ip A1:1 Cmono\nFRAME\n")],
        "media_id long, payload binary",
    )
    r = mm.video_stats(vids).collect()[0]
    assert r["error"] and "zero-dimension" in r["error"], r


def test_attach_y4m_videos_payload_shape(spark):
    """Synthesized streams are well-formed for every row, and decoded
    dims/frame counts equal the doc_id-derived construction."""
    vids = mm.attach_y4m_videos(load_table(spark, SF, "documents"))
    stats = mm.video_stats(vids)
    assert stats.filter(F.col("error").isNotNull()).count() == 0
    bad = stats.join(vids, "media_id").filter(
        (F.col("width") != (F.col("doc_id") % 4 + 2))
        | (F.col("height") != (F.col("doc_id") % 5 + 2))
        | (F.col("n_frames") != (F.col("doc_id") % 7 + 2))
    )
    assert bad.count() == 0


def test_resize_plan_aspect_ratio(media_df):
    plan = mm.resize_plan(media_df, max_side=256).collect()
    for r in plan:
        assert max(r["target_width"], r["target_height"]) <= 256
        if max(r["width"], r["height"]) <= 256:
            assert (r["target_width"], r["target_height"]) == (r["width"], r["height"])
        else:
            ratio = r["width"] / r["height"]
            t_ratio = r["target_width"] / r["target_height"]
            assert abs(ratio - t_ratio) / ratio < 0.05


def test_sample_frames_counts(media_df):
    frames = mm.sample_frames(media_df, step_ms=1000)
    got = {r["media_id"]: r["n"] for r in
           frames.groupBy("media_id").agg(F.count("*").alias("n")).collect()}
    want = {
        r["media_id"]: (max(r["duration_ms"] - 1, 0)) // 1000 + 1
        for r in media_df.filter(F.col("kind") == "video").collect()
    }
    assert got == want


def test_payload_pruned_when_unread(media_df):
    # metadata-only query must not read the payload column from source
    plan = mm.resize_plan(media_df)._jdf.queryExecution().optimizedPlan().toString()
    assert "payload" not in plan


def test_pil_decoder_real_decode(spark):
    """Runs only where Pillow exists (skipped in the shipped container):
    the real decoder must honor the same Decoder contract through the
    extract_features seam — features [w, h, channels, mean]."""
    PIL = pytest.importorskip("PIL")  # noqa: N806
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (4, 2), color=(10, 20, 30)).save(buf, format="PNG")
    png = buf.getvalue()
    media = spark.createDataFrame(
        [(1, 1, "image", bytearray(png), 4, 2, 0)],
        "media_id long, doc_id long, kind string, payload binary, "
        "width int, height int, duration_ms long",
    )
    row = mm.extract_features(media, decoder=mm.pil_decoder).collect()[0]
    assert row["error"] is None
    assert row["features"] == [4.0, 2.0, 3.0, 20.0]


def test_sampled_frame_stats_seeks_only_sampled_frames(spark):
    """step=2 over a 3-frame stream must average frames 0 and 2 only —
    and corruption confined to a SKIPPED frame's marker must go
    unnoticed (the operator never reads it), while corruption at a
    SAMPLED offset dead-letters."""
    hdr = b"YUV4MPEG2 W2 H1 F25:1 Ip A1:1 Cmono\n"
    good = (
        hdr
        + b"FRAME\n\x0a\x14"  # frame 0: 10, 20
        + b"FRAME\n\xff\xff"  # frame 1: skipped
        + b"FRAME\n\x1e\x28"  # frame 2: 30, 40
    )
    skipped_bad = good.replace(b"FRAME\n\xff\xff", b"XRAME\n\xff\xff")
    sampled_bad = good.replace(b"FRAME\n\x1e\x28", b"XRAME\n\x1e\x28")
    ragged = hdr + b"FRAME\n\x0a\x14" + b"FRA"  # not whole frames
    df = spark.createDataFrame(
        [(1, good), (2, skipped_bad), (3, sampled_bad), (4, ragged)],
        "media_id long, payload binary",
    )
    got = {r["media_id"]: r for r in mm.sampled_frame_stats(df, step=2).collect()}
    assert got[1]["error"] is None
    assert (got[1]["n_frames"], got[1]["n_sampled"]) == (3, 2)
    assert got[1]["mean_sampled_luma"] == 25.0  # (10+20+30+40)/4
    assert got[2]["error"] is None  # skipped frame's bytes never read
    assert got[2]["mean_sampled_luma"] == 25.0
    assert "marker" in got[3]["error"]
    assert "whole frames" in got[4]["error"]


def test_resized_image_stats_index_map(spark):
    """Nearest-neighbor downsample of a hand-built 4x2 image to 2x2:
    resized (r, c) must read source (r*h//2, c*w//2) — rows 0,1 and
    cols 0,2 — so the channel means cover exactly those 4 pixels."""
    # pixel (row, col) has R = 10*row + col, G = 100 + R, B = 200 + R
    px = bytes(
        b
        for row in range(2)
        for col in range(4)
        for b in (10 * row + col, 100 + 10 * row + col, 200 + 10 * row + col)
    )
    payload = b"P6\n4 2\n255\n" + px
    df = spark.createDataFrame([(1, payload)], "media_id long, payload binary")
    r = mm.resized_image_stats(df, target=2).collect()[0]
    assert r["error"] is None
    assert (r["width"], r["height"], r["target_w"], r["target_h"]) == (4, 2, 2, 2)
    # sampled source pixels: (0,0)=0, (0,2)=2, (1,0)=10, (1,2)=12
    assert r["mean_r"] == (0 + 2 + 10 + 12) / 4
    assert r["mean_g"] == 100 + (0 + 2 + 10 + 12) / 4
    assert r["mean_b"] == 200 + (0 + 2 + 10 + 12) / 4


def test_resized_image_stats_upsample_and_errors(spark):
    """Upsampling a 1x1 image to 3x3 repeats the single pixel; decode
    guards match image_stats (truncated plane dead-letters)."""
    df = spark.createDataFrame(
        [
            (1, b"P6\n1 1\n255\n\x05\x06\x07"),
            (2, b"P6\n2 2\n255\n\x00\x00"),  # truncated
        ],
        "media_id long, payload binary",
    )
    got = {r["media_id"]: r for r in mm.resized_image_stats(df, target=3).collect()}
    assert got[1]["error"] is None
    assert (got[1]["mean_r"], got[1]["mean_g"], got[1]["mean_b"]) == (5.0, 6.0, 7.0)
    assert "truncated" in got[2]["error"]


# ------------------------------ quiet segments (m10, staged) -------------


def _quiet_df(spark, payloads):
    rows = [(i, bytearray(p)) for i, p in enumerate(payloads)]
    return spark.createDataFrame(rows, "media_id long, payload binary")


def test_quiet_segments_known_islands(spark):
    """Clip built from 4-sample windows: [low, high, low, low] around a
    clip mean between low and high → quiet mask [T, F, T, T]: two
    segments, longest 2."""
    clip = bytes([10] * 4 + [200] * 4 + [10] * 4 + [10] * 4)
    out = mm.quiet_segments(_quiet_df(spark, [clip]), window=4).collect()[0]
    assert out["error"] is None
    assert out["n_windows"] == 4
    assert out["n_quiet"] == 3
    assert out["n_segments"] == 2
    assert out["longest_quiet"] == 2


def test_quiet_segments_constant_clip_has_no_quiet(spark):
    """Every window mean equals the clip mean; strict < means a
    constant clip has zero quiet windows (never all-quiet)."""
    out = mm.quiet_segments(_quiet_df(spark, [bytes([7] * 32)]), window=8).collect()[0]
    assert (out["n_windows"], out["n_quiet"], out["n_segments"], out["longest_quiet"]) == (
        4, 0, 0, 0,
    )


def test_quiet_segments_tail_window_own_denominator(spark):
    """A 10-sample clip at window=4 yields 3 windows (4, 4, 2): the
    2-sample tail must average over 2, not 4 — a zero-padded tail of
    high samples would be spuriously quiet."""
    clip = bytes([100, 100, 100, 100, 100, 100, 100, 100, 200, 200])
    out = mm.quiet_segments(_quiet_df(spark, [clip]), window=4).collect()[0]
    # clip mean = 120; windows = [100, 100, 200]: tail NOT quiet
    assert out["n_windows"] == 3
    assert out["n_quiet"] == 2
    assert out["n_segments"] == 1
    assert out["longest_quiet"] == 2


def test_quiet_segments_empty_payload_dead_letters(spark):
    out = mm.quiet_segments(_quiet_df(spark, [b""]), window=4).collect()[0]
    assert out["error"] is not None and out["n_windows"] == 0


# ------------------------------------------- the one decode seam --------

_Y4M_HDR = b"YUV4MPEG2 W2 H1 F25:1 Ip A1:1 Cmono\n"
_PPM_2X1 = b"P6\n2 1\n255\n" + bytes([10, 20, 30, 40, 50, 60])
_Y4M_2F = _Y4M_HDR + b"FRAME\n\x0a\x14" + b"FRAME\n\x1e\x28"

# operator → (valid payload, NULL row's error, fields the dead-letter
# row still carries, the valid row's stats)
SEAM_CASES = {
    "extract_features": (
        mm.extract_features, b"abc", "decode_error: empty payload",
        {"n_bytes": 0}, {"n_bytes": 3, "features": [3.0, 97.0, 99.0]},
    ),
    "audio_energy": (
        mm.audio_energy, bytes([10, 20, 30, 40]), "decode_error: empty payload",
        {"n_samples": 0},
        {"n_samples": 4, "mean_level": 25.0, "rms_level": 750.0 ** 0.5},
    ),
    "image_stats": (
        mm.image_stats, _PPM_2X1, "decode_error: not a P6 ppm", {},
        {"width": 2, "height": 1, "mean_r": 25.0, "mean_g": 35.0,
         "mean_b": 45.0, "mean_intensity": 35.0},
    ),
    "video_stats": (
        mm.video_stats, _Y4M_2F, "decode_error: not a YUV4MPEG2 stream", {},
        {"width": 2, "height": 1, "n_frames": 2, "mean_luma": 25.0,
         "first_frame_mean": 15.0, "last_frame_mean": 35.0},
    ),
    "sampled_frame_stats": (
        mm.sampled_frame_stats, _Y4M_2F, "decode_error: not a YUV4MPEG2 stream", {},
        {"width": 2, "height": 1, "n_frames": 2, "n_sampled": 1,
         "mean_sampled_luma": 15.0},
    ),
    # 2x1 → 3x3 nearest neighbor reads source cols [0, 0, 1]
    "resized_image_stats": (
        mm.resized_image_stats, _PPM_2X1, "decode_error: not a P6 ppm", {},
        {"width": 2, "height": 1, "target_w": 3, "target_h": 3,
         "mean_r": 20.0, "mean_g": 30.0, "mean_b": 40.0},
    ),
    # window 2 over [10 10 | 200 200 | 10 10]: quiet, loud, quiet
    "quiet_segments": (
        lambda media: mm.quiet_segments(media, window=2),
        bytes([10, 10, 200, 200, 10, 10]), "decode_error: empty payload",
        {"n_windows": 0},
        {"n_windows": 3, "n_quiet": 2, "n_segments": 2, "longest_quiet": 1},
    ),
}


@pytest.mark.parametrize("name", list(SEAM_CASES))
def test_decode_seam_null_payload_dead_letters(spark, name):
    """A NULL payload decodes as b"": the row dead-letters with the
    operator's own error, keeps only the fields the decoder knows
    (every other field NULL), and the valid row in the same batch
    carries its stats; extract_features passes ``kind`` through."""
    op, payload, err, known, stats = SEAM_CASES[name]
    df = spark.createDataFrame(
        [(1, "audio", None), (2, "image", bytearray(payload))],
        "media_id long, kind string, payload binary",
    )
    out = op(df)
    got = {r["media_id"]: r.asDict() for r in out.collect()}
    dead = {c: None for c in out.columns} | {"media_id": 1, "error": err} | known
    ok = got[2]
    if "kind" in out.columns:
        dead["kind"] = "audio"
        assert ok["kind"] == "image"
    assert got[1] == dead
    assert ok["error"] is None
    assert {k: ok[k] for k in stats} == stats
