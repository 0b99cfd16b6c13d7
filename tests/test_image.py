"""Multimodal image/video layer: gxraw codec, flags UDF, resize, phash,
frame sampling, and the two image expectations end-to-end."""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from gx_spark import EngineOptions, ExpectationSuite, validate  # noqa: E402
from gx_spark import image as gim  # noqa: E402


def test_raw_codec_roundtrip():
    px = gim.synth_image("img_007", 32, 24)
    assert px.shape == (24, 32, 3)
    back = gim.raw_decode(gim.raw_encode(px))
    assert np.array_equal(px, back)


def test_decode_stubs_and_malformed():
    with pytest.raises(ValueError):
        gim.decode_image(b"\xff\xd8\xff", "jpeg")  # truncated JPEG
    with pytest.raises(NotImplementedError):
        gim.decode_image(b"\x00\x00\x01\xba", "h264")
    with pytest.raises(ValueError):
        gim.raw_decode(b"NOPE" + b"\x00" * 20)
    with pytest.raises(ValueError):
        # truncated pixel payload
        good = gim.raw_encode(gim.synth_image("x", 8, 8))
        gim.raw_decode(good[:-5])


def _image_df(spark, n=60):
    rows = []
    for i in range(n):
        img_id = f"img_{i:05d}"
        w, h = 16 + (i % 3) * 8, 16
        px = gim.synth_image(img_id, w, h)
        b = gim.raw_encode(px)
        width, fmt = w, "gxraw"
        if i % 10 == 7:
            width = w + 1  # metadata lies about width
        if i % 10 == 9:
            b = b[: len(b) // 2]  # corrupt payload
        rows.append((img_id, bytearray(b), width, h, 3, fmt))
    return spark.createDataFrame(
        rows,
        "img_id string, bytes binary, width int, height int, channels int, format string",
    )


def test_image_expectations_end_to_end(spark):
    df = _image_df(spark)
    suite = (
        ExpectationSuite("img")
        .add("expect_image_metadata_to_be_consistent")
        .add("expect_image_mean_intensity_to_be_between",
             min_value=0.0, max_value=255.0)
    )
    b = validate(spark, df, suite,
                 EngineOptions(unexpected_index_column_names=("img_id",)))
    r_meta, r_mean = b.suite_result.results
    # 6 width-lies + 6 corrupt payloads out of 60
    assert r_meta.result["unexpected_count"] == 12
    assert not r_meta.success
    assert r_mean.success  # means always inside [0, 255]
    viol = {r.img_id for r in b.violations_table().collect()}
    b.unpersist()
    assert viol == {f"img_{i:05d}" for i in range(60) if i % 10 in (7, 9)}


def test_image_flags_mislabeled_format(spark):
    px = gim.synth_image("a", 8, 8)
    flags = gim.compute_image_flags_row(gim.raw_encode(px), 8, 8, 3, "jpeg")
    assert flags["decodable"] is False  # gxraw payload labeled jpeg -> flagged
    flags2 = gim.compute_image_flags_row(b"\xff\xd8\xff\xe0stub", 8, 8, 3, "jpeg")
    # jpeg decodes for real now (gx_spark/jpeg.py): a truncated/garbage
    # stream with a valid SOI is a decode FAILURE, not an excluded stub
    assert flags2["decodable"] is False
    flags3 = gim.compute_image_flags_row(b"garbage-bytes", 8, 8, 3, "jpeg")
    assert flags3["decodable"] is False  # bad magic -> violation
    # a real baseline JPEG decodes and verifies dims
    from gx_spark.jpeg import jpeg_encode

    good = gim.compute_image_flags_row(jpeg_encode(px, 90), 8, 8, 3, "jpeg")
    assert good["decodable"] is True and good["dims_ok"] is True
    bad = gim.compute_image_flags_row(jpeg_encode(px, 90), 9, 8, 3, "jpeg")
    assert bad["decodable"] is True and bad["dims_ok"] is False


def test_resize_and_phash(spark):
    df = _image_df(spark, 30).where("format = 'gxraw'")
    small = gim.resize_images(df, 8, 8)
    rows = {r["id"]: r["bytes"] for r in small.collect()}
    ok = [b for b in rows.values() if b is not None]
    assert ok
    px = gim.raw_decode(bytes(ok[0]))
    assert px.shape == (8, 8, 3)
    # phash: identical image -> same hash; resized image -> same hash
    # (nearest-neighbour 8x8 signature is resize-invariant for our gradient)
    ph_full = {r["id"]: r["phash"] for r in gim.image_phash64(df).collect()}
    resized_df = small.selectExpr("id as img_id", "bytes", "'gxraw' as format")
    ph_small = {r["id"]: r["phash"] for r in gim.image_phash64(resized_df).collect()}
    same = sum(1 for k in ph_full
               if ph_full[k] is not None and ph_full[k] == ph_small.get(k))
    valid = sum(1 for k in ph_full if ph_full[k] is not None)
    assert valid > 0
    assert same / valid >= 0.7, (same, valid)


def test_video_frame_sampling(spark):
    frames = [gim.raw_encode(gim.synth_image(f"v0f{i}", 8, 8)) for i in range(25)]
    payload = b"".join(frames)
    df = spark.createDataFrame(
        [("vid_0", bytearray(payload), 25, 12.5, 8, 8, "gxraw_frames")],
        "vid_id string, bytes binary, n_frames int, fps double, "
        "width int, height int, format string",
    )
    out = gim.sample_video_frames(df, every_k=10).collect()
    assert [(r["vid_id"], r["frame_idx"]) for r in out] == [
        ("vid_0", 0), ("vid_0", 10), ("vid_0", 20)]
    # each sampled frame is an intact decodable gxraw image
    for r in out:
        px = gim.raw_decode(bytes(r["bytes"]))
        assert px.shape == (8, 8, 3)
    # frame content matches the original frame at that index
    assert bytes(out[1]["bytes"]) == frames[10]


# ---------------------------------------------------------------------------
# PNG codec (gx_spark/png.py): pure zlib+numpy decode, real in-sandbox
# ---------------------------------------------------------------------------


def test_png_roundtrip_all_channel_counts():
    from gx_spark.png import png_decode, png_encode

    for c in (1, 2, 3, 4):
        rng = np.random.default_rng(c)
        px = rng.integers(0, 256, size=(13, 17, c), dtype=np.uint8)
        back = png_decode(png_encode(px))
        assert back.shape == (13, 17, c)
        assert np.array_equal(px, back)
    # 2-d grayscale input normalizes to (h, w, 1)
    g = np.arange(64, dtype=np.uint8).reshape(8, 8)
    assert np.array_equal(png_decode(png_encode(g))[:, :, 0], g)


def test_png_all_scanline_filters():
    from gx_spark.png import png_decode, png_encode_filtered

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(11, 9, 3), dtype=np.uint8)
    for f in range(5):
        back = png_decode(png_encode_filtered(px, f))
        assert np.array_equal(px, back), f"filter {f} roundtrip failed"


def test_png_malformed_payloads():
    from gx_spark.png import png_decode, png_encode

    good = png_encode(gim.synth_image("p", 16, 16))
    with pytest.raises(ValueError):
        png_decode(b"NOTPNG" + good[6:])
    with pytest.raises(ValueError):
        png_decode(good[: len(good) // 2])  # truncated
    # corrupt one IDAT byte -> CRC mismatch
    bad = bytearray(good)
    bad[len(bad) // 2] ^= 0xFF
    with pytest.raises(ValueError):
        png_decode(bytes(bad))
    # interlaced header rejected honestly
    import struct as _s
    import zlib as _z
    hdr = bytearray(good)
    # IHDR data starts at offset 16; interlace byte is the 13th data byte
    hdr[16 + 12] = 1
    # fix the CRC so ONLY the unsupported feature triggers
    crc = _z.crc32(b"IHDR" + bytes(hdr[16:29])) & 0xFFFFFFFF
    hdr[29:33] = _s.pack(">I", crc)
    with pytest.raises(ValueError, match="interlace"):
        png_decode(bytes(hdr))


def test_png_flags_and_expectation_end_to_end(spark):
    """PNG rows in the image suite: real decode drives dims_ok/mean, and the
    same corruption arithmetic as gxraw flags exactly the bad rows."""
    from gx_spark.png import png_encode

    rows = []
    for i in range(40):
        img_id = f"png_{i:05d}"
        w, h = 16 + (i % 3) * 8, 16
        px = gim.synth_image(img_id, w, h)
        b = png_encode(px)
        width = w + 1 if i % 10 == 7 else w
        if i % 10 == 9:
            b = b[: len(b) // 2]
        rows.append((img_id, bytearray(b), width, h, 3, "png"))
    df = spark.createDataFrame(
        rows,
        "img_id string, bytes binary, width int, height int, channels int, format string",
    )
    suite = (
        ExpectationSuite("png")
        .add("expect_image_metadata_to_be_consistent")
        .add("expect_image_mean_intensity_to_be_between",
             min_value=0.0, max_value=255.0)
    )
    b = validate(spark, df, suite,
                 EngineOptions(unexpected_index_column_names=("img_id",)))
    r_meta, r_mean = b.suite_result.results
    assert r_meta.result["unexpected_count"] == 8  # 4 width-lies + 4 truncated
    viol = {r.img_id for r in b.violations_table().collect()}
    b.unpersist()
    assert viol == {f"png_{i:05d}" for i in range(40) if i % 10 in (7, 9)}
    assert r_mean.success
    # flags row: decoded means match numpy ground truth exactly
    px = gim.synth_image("png_00000", 16, 16)
    fl = gim.compute_image_flags_row(png_encode(px), 16, 16, 3, "png")
    assert fl["decodable"] is True and fl["dims_ok"] is True
    assert fl["mean_r"] == pytest.approx(px[:, :, 0].mean())


# ---------------------------------------------------------------------------
# MP4/ISO-BMFF container + expect_video_metadata_to_be_consistent
# ---------------------------------------------------------------------------


def test_mp4_container_roundtrip_and_rejection():
    import pytest

    from gx_spark.isobmff import mp4_encode, mp4_parse

    b = mp4_encode("vid_1", n_frames=120, fps=24.0, width=320, height=240)
    m = mp4_parse(b)
    assert m == {"dur_ms": 5000, "width": 320, "height": 240, "n_tracks": 1}
    assert b == mp4_encode("vid_1", 120, 24.0, 320, 240)  # deterministic
    for mutate in (lambda x: x[: len(x) // 2],
                   lambda x: x + b"tail",
                   lambda x: (3).to_bytes(4, "big") + x[4:]):
        with pytest.raises(ValueError):
            mp4_parse(mutate(b))


def test_video_metadata_expectation(spark):
    from gx_spark.executor import validate
    from gx_spark.h264 import annexb_encode as h264_encode
    from gx_spark.isobmff import mp4_encode
    from gx_spark.model import EngineOptions, ExpectationSuite

    frames = [gim.raw_encode(gim.synth_image(f"gf{i}", 8, 8)) for i in range(10)]
    rows = [
        # valid mp4
        ("v_ok", bytearray(mp4_encode("v_ok", 100, 25.0, 64, 48)),
         100, 25.0, 64, 48, "mp4"),
        # mvhd duration contradicts n_frames/fps
        ("v_dur", bytearray(mp4_encode("v_dur", 300, 25.0, 64, 48)),
         100, 25.0, 64, 48, "mp4"),
        # tkhd dims contradict metadata
        ("v_dim", bytearray(mp4_encode("v_dim", 100, 25.0, 32, 32)),
         100, 25.0, 64, 48, "mp4"),
        # truncated container
        ("v_trunc", bytearray(mp4_encode("v_trunc", 100, 25.0, 64, 48)[:200]),
         100, 25.0, 64, 48, "mp4"),
        # valid gxraw_frames
        ("v_raw", bytearray(b"".join(frames)), 10, 10.0, 8, 8, "gxraw_frames"),
        # frame-count lie
        ("v_rawn", bytearray(b"".join(frames)), 12, 10.0, 8, 8, "gxraw_frames"),
        # bare h264 is now bitstream-validated (gx_spark/h264.py):
        # consistent stream passes...
        ("v_h264", bytearray(h264_encode("v_h264", 100, 25.0, 64, 48)),
         100, 25.0, 64, 48, "h264"),
        # ...SPS-dims lie violates...
        ("v_h264dim", bytearray(h264_encode("v_h264dim", 100, 25.0, 32, 32)),
         100, 25.0, 64, 48, "h264"),
        # ...garbage that was formerly 'excluded' now violates
        ("v_h264junk", bytearray(b"\x00\x00\x00\x01\x67deadbeef"),
         100, 25.0, 64, 48, "h264"),
        # genuinely unknown labels stay excluded (no violation)
        ("v_unknown", bytearray(b"????"), 100, 25.0, 64, 48, "vp9"),
    ]
    df = spark.createDataFrame(
        rows,
        "vid_id string, bytes binary, n_frames int, fps double, "
        "width int, height int, format string",
    )
    bundle = validate(
        spark, df,
        ExpectationSuite("video")
        .add("expect_video_metadata_to_be_consistent"),
        EngineOptions(unexpected_index_column_names=("vid_id",)),
    )
    viol = {r["vid_id"] for r in bundle.violations_table().collect()}
    bundle.unpersist()
    assert viol == {"v_dur", "v_dim", "v_trunc", "v_rawn", "v_h264dim",
                    "v_h264junk"}, viol


def test_progressive_jpeg_end_to_end(spark):
    """Full expectation semantics for valid-but-unsupported coding
    processes: a valid progressive JPEG row passes (decodable NULL,
    container-consistent), a progressive row whose metadata lies about
    width fails on header dims WITHOUT decoding, garbage behind a JPEG
    magic fails as corrupt."""
    from tests.test_jpeg import _synth_progressive_jpeg

    prog = _synth_progressive_jpeg(24, 16)
    garbage = b"\xff\xd8" + bytes(range(1, 65))
    rows = [
        ("ok_prog", bytearray(prog), 24, 16, 3, "jpeg"),
        ("lying_prog", bytearray(prog), 25, 16, 3, "jpeg"),
        ("garbage", bytearray(garbage), 24, 16, 3, "jpeg"),
    ]
    df = spark.createDataFrame(
        rows,
        "img_id string, bytes binary, width int, height int, channels int, "
        "format string",
    )
    b = validate(
        spark, df,
        ExpectationSuite("prog").add("expect_image_metadata_to_be_consistent"),
        EngineOptions(unexpected_index_column_names=("img_id",)),
    )
    bad = {r["img_id"] for r in b.violations_table().collect()}
    b.unpersist()
    assert bad == {"lying_prog", "garbage"}


def test_null_metadata_rows_are_unexpected_not_errors(spark):
    """pandas hands a null int column to the flags UDFs as NaN: a null
    width (image) or n_frames (video) must make that row unexpected, not
    fail the batch and with it every expectation reading the struct."""
    rows = [r if i else r[:2] + (None,) + r[3:]
            for i, r in enumerate(_image_df(spark, 20).collect())]
    df = spark.createDataFrame(rows, _image_df(spark, 1).schema)
    b = validate(spark, df, ExpectationSuite("img")
                 .add("expect_image_metadata_to_be_consistent")
                 .add("expect_image_mean_intensity_to_be_between",
                      min_value=0.0, max_value=255.0),
                 EngineOptions(unexpected_index_column_names=("img_id",)))
    r_meta, r_mean = b.suite_result.results
    assert not r_meta.exception_info.get("raised_exception")
    assert not r_mean.exception_info.get("raised_exception")
    viol = {r.img_id for r in b.violations_table().collect()}
    b.unpersist()
    assert r_mean.success
    assert viol == {"img_00000"} | {f"img_{i:05d}" for i in range(20)
                                    if i % 10 in (7, 9)}, viol

    vrows = [r[:3] + (None,) + r[4:] if r[0] == 1 else r
             for r in golden_videos()]
    b = validate(spark, spark.createDataFrame(vrows, VIDEOS_SCHEMA),
                 ExpectationSuite("video")
                 .add("expect_video_metadata_to_be_consistent"),
                 EngineOptions(unexpected_index_column_names=("vid_id",)))
    (r_video,) = b.suite_result.results
    viol = {r.vid_id for r in b.violations_table().collect()}
    b.unpersist()
    assert not r_video.exception_info.get("raised_exception")
    assert "v1" in viol, viol


def _raising_on(flags_row, pos, value):
    """flags_row, but raising TypeError on rows whose metadata argument at
    ``pos`` equals ``value`` (the driver then nulls that row's struct)."""
    def row(b, *meta):
        if meta[pos] == value:
            raise TypeError("flags row failed")
        return flags_row(b, *meta)
    return row


def test_nulled_flags_struct_fails_closed(spark, monkeypatch):
    """A struct the driver nulled because its row function raised is
    unexpected in the image and video metadata checks, not excluded."""
    from gx_spark.expectations import image_exp
    from gx_spark.row_udf import _row_udf

    monkeypatch.setattr(image_exp, "make_image_flags_udf", lambda: _row_udf(
        gim.IMAGE_FLAGS_SCHEMA, _raising_on(gim._image_flags_row, 0, 24)))
    monkeypatch.setattr(image_exp, "make_video_flags_udf", lambda: _row_udf(
        gim.VIDEO_FLAGS_SCHEMA, _raising_on(gim._video_flags_row, 2, 8)))
    b = validate(spark, _image_df(spark, 20), ExpectationSuite("img")
                 .add("expect_image_metadata_to_be_consistent"),
                 EngineOptions(unexpected_index_column_names=("img_id",)))
    viol = {r.img_id for r in b.violations_table().collect()}
    b.unpersist()
    assert viol == {f"img_{i:05d}" for i in range(20)
                    if i % 10 in (7, 9) or i % 3 == 1}, viol
    b = validate(spark, spark.createDataFrame(golden_videos(), VIDEOS_SCHEMA),
                 ExpectationSuite("video")
                 .add("expect_video_metadata_to_be_consistent"),
                 EngineOptions(unexpected_index_column_names=("vid_id",)))
    viol = {r.vid_id for r in b.violations_table().collect()}
    b.unpersist()
    # v1 (valid gxraw_frames) is nulled; v7 shares its width and already
    # fails on frame count
    assert "v1" in viol and "v0" not in viol, viol

def test_image_ops_import_on_workers_outside_repo(tmp_path):
    """UDFs built outside and inside the row-UDF driver, run from a cwd
    outside the checkout with the checkout on sys.path only in the
    driver: the Python workers must still import gx_spark.  Also pins the
    ship guard: one gx_spark.zip include per SparkContext, none added
    beside one registered by hand (spark-submit --py-files)."""
    import subprocess

    script = f"""
import os, sys
sys.path.insert(0, {REPO!r})
from pyspark.sql import SparkSession
from gx_spark import ExpectationSuite, validate
from gx_spark import audio_ops, ops
from gx_spark import image as gim
from gx_spark.audio import synth_pcm, wav_encode
from gx_spark.avro_source import read_avro, write_avro

def session():
    return (SparkSession.builder.master("local[1]")
            .config("spark.ui.enabled", "false").getOrCreate())

spark = session()
# ops outside the row-UDF driver first, on fresh Python workers: workers
# are reused, so one that imported gx_spark for an earlier task could
# hide a missing include
tx = spark.createDataFrame([("t", "a b c", "a x c")],
                           "id string, hyp string, ref string")
assert ops.transcript_error_stats(tx, "id", "hyp", "ref").collect()[0][
    "word_edits"] == 1
vecs = spark.createDataFrame([("u", [1.0, 0.0]), ("w", [0.0, 1.0])],
                             "id string, v array<double>")
assert ops.cosine_topk(vecs, "id", "v", [1.0, 0.1], k=1).collect()[0][
    "id"] == "u"
b = bytearray(gim.raw_encode(gim.synth_image("a", 8, 8)))
df = spark.createDataFrame([("a", b, "gxraw")],
                           "img_id string, bytes binary, format string")
assert gim.image_phash64(df).collect()[0]["phash"] is not None
assert gim.resize_images(df, 4, 4).collect()[0]["bytes"] is not None
clip = bytearray(wav_encode(synth_pcm("c", 16000, 500), 16000))
clips = spark.createDataFrame([("c", clip, "pcm_s16le")],
                              "clip_id string, bytes binary, codec string")
assert audio_ops.segment_audio(clips).count() >= 1
js = spark.createDataFrame([('{{"a": 1}}',), ('{{"a": "x"}}',)], "j string")
r = validate(spark, js, ExpectationSuite("js").add(
    "expect_column_values_to_match_json_schema", column="j",
    json_schema={{"type": "object",
                  "properties": {{"a": {{"type": "integer"}}}}}}
)).suite_result.results[0]
assert not r.exception_info.get("raised_exception"), r.exception_info
assert r.result["unexpected_count"] == 1, r.result
assert write_avro(tx, "avro") == 1
assert read_avro(spark, "avro").collect()[0]["ref"] == "a x c"

from gx_spark.row_udf import _ship, _zip_package

sc = spark.sparkContext
_ship(sc)
_ship(sc)
assert sc._python_includes.count("gx_spark.zip") == 1, sc._python_includes
spark.stop()
spark = session()
sc = spark.sparkContext
assert "gx_spark.zip" not in sc._python_includes, sc._python_includes
sc.addPyFile(_zip_package(os.path.abspath("gx_spark.zip")))
_ship(sc)
_ship(sc)
assert sc._python_includes.count("gx_spark.zip") == 1, sc._python_includes
tx = spark.createDataFrame([("t", "a b", "a b")],
                           "id string, hyp string, ref string")
assert ops.transcript_error_stats(tx, "id", "hyp", "ref").collect()[0][
    "word_edits"] == 0
spark.stop()
print("WORKERS_OK")
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                       capture_output=True, text=True, timeout=600)
    assert "WORKERS_OK" in p.stdout, p.stderr[-3000:]

# ---------------------------------------------------------------------------
# golden parity: image / video flags structs, resize_images, image_phash64
# ---------------------------------------------------------------------------

IMAGES_SCHEMA = ("idx int, img_id string, bytes binary, width int, "
                 "height int, channels int, format string")
VIDEOS_SCHEMA = ("idx int, vid_id string, bytes binary, n_frames int, "
                 "fps double, width int, height int, format string")


def golden_images() -> list[tuple]:
    """Good gxraw / png / jpeg rows, a width lie, a gxraw payload labeled
    png, garbage, a null payload and an unknown format."""
    from gx_spark.jpeg import jpeg_encode
    from gx_spark.png import png_encode

    raw = gim.raw_encode(gim.synth_image("g0", 16, 12))
    rows = [
        (raw, 16, 12, 3, "gxraw"),
        (png_encode(gim.synth_image("g1", 16, 16)), 16, 16, 3, "png"),
        (jpeg_encode(gim.synth_image("g2", 8, 8), 90), 8, 8, 3, "jpeg"),
        (raw, 17, 12, 3, "gxraw"),
        (raw, 16, 12, 3, "png"),
        (b"garbage-bytes", 16, 12, 3, "gxraw"),
        (None, 16, 12, 3, "gxraw"),
        (raw, 16, 12, 3, "webp"),
    ]
    return [(i, f"i{i}", None if b is None else bytearray(b), w, h, c, f)
            for i, (b, w, h, c, f) in enumerate(rows)]


def golden_videos() -> list[tuple]:
    """Good mp4 / gxraw_frames / h264 rows, an mp4 payload labeled h264,
    garbage, a null payload, an unknown format, a frame-count lie and a
    zero fps."""
    from gx_spark.h264 import annexb_encode
    from gx_spark.isobmff import mp4_encode

    mp4 = mp4_encode("v0", 100, 25.0, 64, 48)
    frames = b"".join(gim.raw_encode(gim.synth_image(f"f{i}", 8, 8))
                      for i in range(10))
    rows = [
        (mp4, 100, 25.0, 64, 48, "mp4"),
        (frames, 10, 10.0, 8, 8, "gxraw_frames"),
        (annexb_encode("v2", 100, 25.0, 64, 48), 100, 25.0, 64, 48, "h264"),
        (mp4, 100, 25.0, 64, 48, "h264"),
        (b"garbage-bytes", 100, 25.0, 64, 48, "mp4"),
        (None, 100, 25.0, 64, 48, "mp4"),
        (b"????", 100, 25.0, 64, 48, "vp9"),
        (frames, 12, 10.0, 8, 8, "gxraw_frames"),
        (mp4, 100, 0.0, 64, 48, "mp4"),
    ]
    return [(i, f"v{i}", None if b is None else bytearray(b), *rest)
            for i, (b, *rest) in enumerate(rows)]


def _image_flags(df):
    return df.select("idx", gim.make_image_flags_udf()(
        "bytes", "width", "height", "channels", "format").alias("flags"))


def _video_flags(df):
    return df.select("idx", gim.make_video_flags_udf()(
        "bytes", "n_frames", "fps", "width", "height", "format"
    ).alias("flags"))


# name -> (op, table, schema, sort key)
IMAGE_OPS = {
    "image_flags": (_image_flags, golden_images, IMAGES_SCHEMA, "idx"),
    "video_flags": (_video_flags, golden_videos, VIDEOS_SCHEMA, "idx"),
    "resize_images": (lambda d: gim.resize_images(d, 8, 6), golden_images,
                      IMAGES_SCHEMA, "id"),
    "image_phash64": (gim.image_phash64, golden_images, IMAGES_SCHEMA, "id"),
}

IMAGE_GOLDEN = {
    'image_flags': '787417862630a36b7b63928478e0e362',
    'image_phash64': '8ed62f561a4537d5bb0f84876aca4abc',
    'resize_images': '5e95b308ab49fa8c4d6107ace80bf485',
    'video_flags': '1cb685938a7083a192ef0357f56a5fd9',
}


def _run_image_op(spark, name):
    op, table, schema, key = IMAGE_OPS[name]
    out = op(spark.createDataFrame(table(), schema))
    return out, sorted(out.collect(), key=lambda r: r[key])


@pytest.mark.parametrize("name", sorted(IMAGE_OPS))
def test_image_golden_digest(spark, name):
    from tests.test_audio_kernels import digest

    out, rows = _run_image_op(spark, name)
    assert digest(out, rows) == IMAGE_GOLDEN[name]


if __name__ == "__main__":
    # print fresh digests (regenerate only after an intended output change)
    from pyspark.sql import SparkSession

    from tests.test_audio_kernels import digest

    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.shuffle.partitions", "2").getOrCreate())
    for name in sorted(IMAGE_OPS):
        out, rows = _run_image_op(spark, name)
        print(f"    {name!r}: {digest(out, rows)!r},")
    spark.stop()
