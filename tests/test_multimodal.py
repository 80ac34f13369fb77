"""Multimodal plumbing + the real image-header codec: PNG IHDR / JPEG SOFn
byte parsing must round-trip the synthetic builders, reject garbage, and
run as a narrow Arrow stage over a binary column."""

import pytest

from entity_extractor_by_pointer_spark.operators.multimodal import (
    image_dims,
    parse_image_header,
    synth_jpeg,
    synth_png,
)


@pytest.mark.parametrize("w,h", [(1, 1), (13, 7), (640, 480), (70000, 3)])
@pytest.mark.parametrize("ct,ch", [(0, 1), (2, 3), (3, 1), (4, 2), (6, 4)])
def test_png_header_roundtrip(w, h, ct, ch):
    assert parse_image_header(synth_png(w, h, color_type=ct)) == ("png", w, h, ch)


@pytest.mark.parametrize("w,h", [(1, 1), (320, 240), (65535, 65535)])
@pytest.mark.parametrize("comps", [1, 3, 4])
def test_jpeg_header_roundtrip(w, h, comps):
    assert parse_image_header(synth_jpeg(w, h, components=comps)) == ("jpeg", w, h, comps)


def test_jpeg_skips_leading_segments_to_sof():
    # extra COM + second APP segment before SOF0 must be walked over
    import struct

    com = b"a deterministic comment"
    payload = synth_jpeg(99, 44, components=3)
    soi, rest = payload[:2], payload[2:]
    injected = (
        soi
        + b"\xff\xfe" + struct.pack(">H", len(com) + 2) + com
        + b"\xff\xe1" + struct.pack(">H", 6) + b"Exif"
        + rest
    )
    assert parse_image_header(injected) == ("jpeg", 99, 44, 3)


def test_jpeg_fill_bytes_and_tem_marker():
    """ITU-T T.81 §B.1.1.2: any run of 0xFF may pad before a marker code,
    and TEM (0x01) is standalone — both must be walked over, not parsed as
    length-bearing segments."""
    payload = synth_jpeg(77, 33, components=3)
    soi, rest = payload[:2], payload[2:]
    padded = soi + b"\xff" + rest  # fill byte: FF D8 FF FF E0 ...
    assert parse_image_header(padded) == ("jpeg", 77, 33, 3)
    with_tem = soi + b"\xff\x01" + rest  # standalone TEM before APP0
    assert parse_image_header(with_tem) == ("jpeg", 77, 33, 3)
    both = soi + b"\xff\x01" + b"\xff" + rest
    assert parse_image_header(both) == ("jpeg", 77, 33, 3)


def test_parse_rejects_garbage_and_truncation():
    assert parse_image_header(b"") is None
    assert parse_image_header(b"not an image at all") is None
    assert parse_image_header(synth_png(10, 10, color_type=2)[:20]) is None  # truncated IHDR
    assert parse_image_header(b"\xff\xd8\x00\x00") is None  # corrupt marker
    # valid SOI but stream ends before any SOF
    assert parse_image_header(b"\xff\xd8\xff\xe0\x00\x04\x00\x00") is None
    # PNG signature with zero dims is invalid
    assert parse_image_header(synth_png(0, 5, color_type=2)) is None


def test_image_dims_stage_drops_unparseable(spark):
    rows = [
        (1, synth_png(12, 34, color_type=6)),
        (2, synth_jpeg(56, 78, components=1)),
        (3, b"junk payload"),
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: (r["format"], r["width"], r["height"], r["channels"])
           for r in image_dims(media).collect()}
    assert got == {1: ("png", 12, 34, 4), 2: ("jpeg", 56, 78, 1)}


def test_image_dims_plan_is_narrow(spark):
    media = spark.createDataFrame([(1, synth_png(2, 2, color_type=2))], "media_id long, payload binary")
    plan = image_dims(media)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_parse_image_header_never_raises_on_arbitrary_bytes():
    """Robustness over crawl garbage: the parser must return None or a
    well-formed tuple for ANY byte string — never raise (hypothesis
    fuzz, plus adversarial prefixes that mimic real headers)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=200))
    def fuzz(payload):
        out = parse_image_header(payload)
        assert out is None or (
            isinstance(out, tuple)
            and len(out) == 4
            and out[0] in ("png", "jpeg")
            and out[1] > 0
            and out[2] > 0
        )

    fuzz()

    @settings(max_examples=200, deadline=None)
    @given(st.binary(max_size=64))
    def fuzz_with_magic(tail):
        for prefix in (b"\x89PNG\r\n\x1a\n", b"\xff\xd8", b"\xff\xd8\xff"):
            out = parse_image_header(prefix + tail)
            assert out is None or isinstance(out, tuple)

    fuzz_with_magic()
