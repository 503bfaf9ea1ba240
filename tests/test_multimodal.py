"""Multimodal binary-column plumbing tests: schema, batching, UDF
signature, deterministic fake decode (real codecs stubbed per brief)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from zhtml_spark.multimodal import (
    extract_media_features,
    frame_sample_refs,
    resize_dims,
)


@pytest.fixture()
def media(spark):
    rows = [
        ("m-1", "image", b"\x89PNG fake bytes", 800, 600, None),
        ("m-2", "video", b"\x00\x00ftyp fake", 1920, 1080, 8000),
        ("m-3", "audio", b"RIFF fake wav", None, None, 2500),
    ]
    return spark.createDataFrame(
        rows,
        "media_ref string, media_kind string, payload binary, "
        "width int, height int, duration_ms long",
    )


def test_feature_extraction_deterministic(spark, media):
    out = {r["media_ref"]: r for r in
           extract_media_features(media, n_features=8).collect()}
    assert set(out) == {"m-1", "m-2", "m-3"}
    want = hashlib.md5(b"\x89PNG fake bytes").hexdigest()
    assert out["m-1"]["checksum"] == want
    feats = out["m-1"]["features"]
    assert len(feats) == 8
    assert all(0.0 <= f <= 1.0 for f in feats)
    # derived from the digest, reproducible
    assert feats[0] == round(int(want[0:4], 16) / 65535.0, 6)


def test_resize_dims_aspect_ratio(spark, media):
    out = {r["media_ref"]: r for r in resize_dims(media, 512).collect()}
    assert (out["m-1"]["target_width"], out["m-1"]["target_height"]) == (
        512, 384)
    assert (out["m-2"]["target_width"], out["m-2"]["target_height"]) == (
        512, 288)


def _png(w, h):
    import struct

    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">II", w, h)
        + b"\x08\x02\x00\x00\x00" + b"\x00" * 4
    )


def _gif(w, h):
    import struct

    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 6


def _jpeg(w, h):
    import struct

    return (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
        + struct.pack(">HH", h, w) + b"\x03" + b"\x00" * 9
    )


def _bmp(w, h):
    import struct

    return (
        b"BM" + b"\x00" * 12 + struct.pack("<I", 40)
        + struct.pack("<ii", w, -h) + b"\x00" * 8
    )


def _bmp_core(w, h):
    import struct

    return (
        b"BM" + b"\x00" * 12 + struct.pack("<I", 12)
        + struct.pack("<HH", w, h) + b"\x00" * 12
    )


def test_sniff_image_meta_formats():
    """Pure-Python header decoding is REAL, not stubbed (r4): all four
    sniffable formats, plus truncation/garbage safety."""
    from zhtml_spark.multimodal import sniff_image_meta

    assert sniff_image_meta(_png(800, 600)) == ("png", 800, 600)
    assert sniff_image_meta(_gif(320, 200)) == ("gif", 320, 200)
    assert sniff_image_meta(_jpeg(1024, 768)) == ("jpeg", 1024, 768)
    # BMP top-down (negative height) reports absolute value
    assert sniff_image_meta(_bmp(64, 48)) == ("bmp", 64, 48)
    # OS/2 core header: u16 layout, NOT misread as i32s (r4 review)
    assert sniff_image_meta(_bmp_core(64, 48)) == ("bmp", 64, 48)
    # unknown DIB header size: refuse rather than guess
    bad = b"BM" + b"\x00" * 12 + (20).to_bytes(4, "little") + b"\x00" * 10
    assert sniff_image_meta(bad) is None
    assert sniff_image_meta(b"\x89PNG\r\n\x1a\n\x00") is None  # truncated
    assert sniff_image_meta(b"\xff\xd8\x00garbage") is None  # desynced
    assert sniff_image_meta(b"not an image at all") is None


def test_decode_image_meta_spark_paths(spark):
    from zhtml_spark.multimodal import PIL_AVAILABLE, decode_image_meta

    df = spark.createDataFrame(
        [
            ("p", _png(800, 600)),
            ("g", _gif(320, 200)),
            ("j", _jpeg(1024, 768)),
            ("x", b"opaque unknown payload"),
        ],
        "media_ref string, payload binary",
    )
    out = {r["media_ref"]: r for r in decode_image_meta(df).collect()}
    assert (out["p"]["format"], out["p"]["width"], out["p"]["height"],
            out["p"]["decoder"]) == ("png", 800, 600, "sniff")
    assert (out["g"]["width"], out["g"]["height"]) == (320, 200)
    assert (out["j"]["width"], out["j"]["height"]) == (1024, 768)
    # unknown payload: PIL fallback if the container has it, else null
    if not PIL_AVAILABLE:
        assert out["x"]["format"] is None and out["x"]["decoder"] == "none"


def test_decode_image_meta_pil_capability(spark):
    """Pillow is the fallback tier for payloads the header sniffer
    cannot read (TIFF here): it decodes them for real when the library
    exists, and the row gets null dims and decoder='none' where it
    does not (this container)."""
    from zhtml_spark.multimodal import PIL_AVAILABLE, decode_image_meta

    tiff = b"II*\x00" + b"\x00" * 16
    if PIL_AVAILABLE:
        import io

        from PIL import Image

        buf = io.BytesIO()
        Image.new("L", (8, 4)).save(buf, format="TIFF")
        tiff = buf.getvalue()
    df = spark.createDataFrame(
        [("t", tiff)], "media_ref string, payload binary"
    )
    row = decode_image_meta(df).collect()[0]
    if PIL_AVAILABLE:
        assert (row["format"], row["width"], row["height"],
                row["decoder"]) == ("tiff", 8, 4, "pil")
    else:
        assert (row["format"], row["width"], row["decoder"]) == (
            None, None, "none"
        )


def test_frame_sample_even_spacing(spark, media):
    rows = frame_sample_refs(media, n_frames=4).collect()
    assert {r["media_ref"] for r in rows} == {"m-2"}  # only video
    by_idx = sorted((r["frame_idx"], r["frame_ms"], r["frame_ref"])
                    for r in rows)
    assert by_idx == [
        (0, 1000, "m-2#f0"),
        (1, 3000, "m-2#f1"),
        (2, 5000, "m-2#f2"),
        (3, 7000, "m-2#f3"),
    ]


def _mp4_bytes(w=640, h=360, tscale=600, dur=1234, ver=0):
    import struct

    def box(t, payload):
        return struct.pack(">I", 8 + len(payload)) + t + payload

    if ver == 0:
        mvhd = box(b"mvhd", b"\x00" * 12
                   + struct.pack(">II", tscale, dur) + b"\x00" * 80)
    else:
        mvhd = box(b"mvhd", b"\x01\x00\x00\x00" + b"\x00" * 16
                   + struct.pack(">IQ", tscale, dur) + b"\x00" * 80)
    tkhd = box(b"tkhd", b"\x00" * 76
               + struct.pack(">II", w << 16, h << 16))
    return (box(b"ftyp", b"isom\x00\x00\x02\x00")
            + box(b"moov", mvhd + box(b"trak", tkhd)))


def _wav_bytes(ch=2, sr=16000, data_size=192000):
    import struct

    byte_rate = sr * ch * 2
    fmt = b"fmt " + struct.pack("<I", 16) + struct.pack(
        "<HHIIHH", 1, ch, sr, byte_rate, ch * 2, 16)
    data_hdr = b"data" + struct.pack("<I", data_size)
    return (b"RIFF" + struct.pack("<I", 4 + len(fmt) + len(data_hdr))
            + b"WAVE" + fmt + data_hdr)


_WEBM_HEX = (
    "1A45DFA3874282847765626D18538067A41549A9668E2AD7B1830F4240"
    "4489844640E4001654AE6B8CAE8AE088B0820280BA8201E0"
)


def test_sniff_container_meta_formats():
    """r5 (VERDICT r4 #4): real MP4/WAV/WebM/AVI header parsing, pure
    Python — durations via integer //, dims from tkhd 16.16 /
    EBML PixelWidth / avih; truncation and garbage fail to None,
    never raise."""
    import struct

    from zhtml_spark.multimodal import sniff_container_meta

    assert sniff_container_meta(_mp4_bytes()) == (
        "mp4", 640, 360, 1234 * 1000 // 600, None, None)
    # version-1 mvhd (64-bit duration); no trak -> dims None
    v1 = sniff_container_meta(_mp4_bytes(dur=98765, tscale=1000, ver=1))
    assert (v1[0], v1[3]) == ("mp4", 98765)
    assert sniff_container_meta(_wav_bytes()) == (
        "wav", None, None, 3000, 16000, 2)
    # odd data size exercises the // floor
    assert sniff_container_meta(_wav_bytes(ch=1, sr=8000, data_size=16001)
                                )[3] == 16001 * 1000 // 16000
    assert sniff_container_meta(bytes.fromhex(_WEBM_HEX)) == (
        "webm", 640, 480, 12345, None, None)
    # matroska DocType -> mkv (header content: DocType id+size+8 chars)
    mkv = bytes.fromhex("1A45DFA38B428288") + b"matroska"
    assert sniff_container_meta(mkv)[0] == "mkv"
    avih = (b"avih" + struct.pack("<I", 56)
            + struct.pack("<5I", 33333, 0, 0, 0, 900) + b"\x00" * 12
            + struct.pack("<II", 1280, 720) + b"\x00" * 16)
    hdrl = b"LIST" + struct.pack("<I", 4 + len(avih)) + b"hdrl" + avih
    avi = (b"RIFF" + struct.pack("<I", 4 + len(hdrl)) + b"AVI " + hdrl)
    assert sniff_container_meta(avi) == (
        "avi", 1280, 720, 33333 * 900 // 1000, None, None)
    assert sniff_container_meta(b"\x00" * 64) is None
    assert sniff_container_meta(b"RIFF\x10\x00\x00\x00JUNK") is None
    # truncated mp4: format sniffed, fields degrade to None, no raise
    t = sniff_container_meta(_mp4_bytes()[:20])
    assert t[0] == "mp4" and t[3] is None
    assert sniff_container_meta(b"") is None


def test_decode_container_meta_spark(spark):
    """The map_rows stage: mixed containers + an unsniffable payload
    in one DataFrame; decoder column audits the path per row."""
    from zhtml_spark.multimodal import decode_container_meta

    rows = [
        ("v-1", bytearray(_mp4_bytes(w=320, h=240, dur=600))),
        ("a-1", bytearray(_wav_bytes(ch=1, sr=8000, data_size=8000))),
        ("w-1", bytearray(bytes.fromhex(_WEBM_HEX))),
        ("x-1", bytearray(b"not a container")),
    ]
    df = spark.createDataFrame(rows, "media_ref string, payload binary")
    got = {r["media_ref"]: r for r in decode_container_meta(df).collect()}
    assert (got["v-1"]["format"], got["v-1"]["width"],
            got["v-1"]["duration_ms"]) == ("mp4", 320, 1000)
    assert (got["a-1"]["format"], got["a-1"]["sample_rate"],
            got["a-1"]["channels"], got["a-1"]["duration_ms"]) == (
        "wav", 8000, 1, 500)
    assert (got["w-1"]["format"], got["w-1"]["height"]) == ("webm", 480)
    assert got["x-1"]["format"] is None
    assert got["x-1"]["decoder"] == "none"
    assert all(got[k]["decoder"] == "sniff" for k in ("v-1", "a-1", "w-1"))


@pytest.mark.parametrize(
    "decoder, payload, want",
    [
        ("image", _png(2**31, 7), ("png", None, 7, "sniff")),
        ("image", _bmp(5, 2**31), ("bmp", 5, None, "sniff")),
        ("image", None, (None, None, None, "none")),
        ("container", _mp4_bytes(tscale=1, dur=2**64 - 1, ver=1),
         ("mp4", 640, 360, None, None, None, "sniff")),
        ("container", None, (None,) * 6 + ("none",)),
        ("features", None, (None, None, None, "none")),
    ],
    ids=["png_width_2e31", "bmp_height_neg_2e31", "image_null_payload",
         "mp4_duration_past_int64", "container_null_payload",
         "features_null_payload"],
)
def test_bad_media_row_nulls_its_fields(spark, decoder, payload, want):
    """A header claiming a dimension past its column's integer range
    (PNG width 2^31, BMP height -2^31) nulls that field, and a null
    payload gives null fields with decoder 'none' (for the feature
    extractor too: null checksum and features); a good row in the
    same batch still decodes, so one bad row no longer fails the task."""
    from zhtml_spark.multimodal import (
        decode_container_meta,
        decode_image_meta,
    )

    png_md5 = hashlib.md5(_png(8, 6)).hexdigest()
    png_feats = [
        round(int(png_md5[(i * 4) % 32:(i * 4) % 32 + 4], 16) / 65535.0, 6)
        for i in range(8)
    ]
    fn, good, good_want = {
        "image": (decode_image_meta, _png(8, 6), ("png", 8, 6, "sniff")),
        "container": (decode_container_meta, _wav_bytes(),
                      ("wav", None, None, 3000, 16000, 2, "sniff")),
        "features": (extract_media_features, _png(8, 6),
                     (None, png_md5, png_feats, "hash")),
    }[decoder]
    df = spark.createDataFrame(
        [("bad", payload), ("ok", good)], "media_ref string, payload binary"
    )
    got = {r["media_ref"]: tuple(r)[1:] for r in fn(df).collect()}
    assert got == {"bad": want, "ok": good_want}
