"""Container-header codecs (functions/multimodal.py): the parsers
must recover metadata from REAL byte layouts — including hand-written
reference files, not just this module's own builders — and the Spark
extract path must match the DuckDB oracle."""

import struct
import zlib

import pytest

from file_d_spark.functions import multimodal as mm


# hand-assembled 1x1 red PNG (public format: signature + IHDR + IDAT +
# IEND), NOT produced by build_png — an independent reference file
def _reference_png() -> bytes:
    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0)
    idat = zlib.compress(b"\x00\xff\x00\x00")
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def test_parse_reference_png():
    meta = mm.sniff_media(_reference_png())
    assert meta == {"kind": "png", "width": 1, "height": 1, "n_frames": 1}


def test_parse_png_dimensions():
    meta = mm.parse_png(mm.build_png(640, 480, b"payload"))
    assert meta["width"] == 640 and meta["height"] == 480


def test_parse_gif():
    meta = mm.parse_gif(mm.build_gif(320, 200, b"x" * 50))
    assert meta == {"kind": "gif", "width": 320, "height": 200, "n_frames": 1}


def test_parse_jpeg_walks_past_app_segments():
    # real JPEGs lead with APP0/EXIF segments before SOF0 — build one
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof = struct.pack(">BHHB", 8, 333, 444, 3) + b"\x01\x11\x00" * 3
    blob = b"\xff\xd8" + app0 + b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    meta = mm.parse_jpeg(blob)
    assert meta["width"] == 444 and meta["height"] == 333


def test_parse_jpeg_fill_bytes_and_bare_markers():
    # ISO 10918-1 B.1.1.2: markers may be preceded by any number of
    # 0xFF fill bytes; TEM (0x01) and RSTn are parameterless.  A
    # spec-conformant padded stream must still yield metadata.
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof = struct.pack(">BHHB", 8, 123, 456, 3) + b"\x01\x11\x00" * 3
    blob = (
        b"\xff\xd8"
        + b"\xff\xff\xff"  # fill bytes before APP0
        + app0[1:]
        + b"\xff\x01"      # bare TEM marker
        + b"\xff\xd0"      # bare RST0
        + b"\xff\xff"      # fill bytes before SOF
        + b"\xc0" + struct.pack(">H", len(sof) + 2) + sof
    )
    meta = mm.parse_jpeg(blob)
    assert meta["width"] == 456 and meta["height"] == 123
    # bare EOI terminates cleanly (no SOF seen -> None, not a crash)
    assert mm.parse_jpeg(b"\xff\xd8\xff\xd9") is None


def test_parse_wav_chunks():
    blob = mm.build_wav(44100, b"\x00\x01" * 500, channels=1, bits=16)
    meta = mm.parse_wav(blob)
    assert meta["kind"] == "wav"
    assert meta["sample_rate"] == 44100
    assert meta["n_frames"] == 500  # 1000 bytes / block_align 2


def test_parse_wav_stereo_block_align():
    blob = mm.build_wav(16000, b"\x00" * 400, channels=2, bits=16)
    assert mm.parse_wav(blob)["n_frames"] == 100  # 400 / (2ch * 2B)


def test_sniff_rejects_garbage():
    assert mm.sniff_media(b"") is None
    assert mm.sniff_media(b"plain text content") is None
    assert mm.sniff_media(b"\x89NOT-A-PNG......") is None
    assert mm.sniff_media(b"RIFFxxxxNOPE") is None
    # truncated JPEG: SOI only
    assert mm.sniff_media(b"\xff\xd8") is None


def test_extract_modes(spark):
    rows = [
        (1, "image", bytearray(mm.build_png(10, 20))),
        (2, "image", bytearray(b"unrecognized bytes here")),
    ]
    df = spark.createDataFrame(rows, "media_id long, kind string, blob binary")
    got = {
        r["media_id"]: r.asDict()
        for r in mm.extract_media_metadata(df).collect()
    }
    assert got[1]["kind"] == "png" and got[1]["width"] == 10
    assert got[2]["kind"] == "image" and got[2]["width"] is None
    faked = {
        r["media_id"]: r.asDict()
        for r in mm.extract_media_metadata(df, fake=True).collect()
    }
    assert faked[1]["width"] == 10  # recognized headers win over fake
    assert faked[2]["width"] is not None
    with pytest.raises(Exception, match="NotImplementedError|unrecognized"):
        mm.extract_media_metadata(df, strict=True).collect()


def test_multimodal_meta_oracle_parity(spark, sf_dir, duck):
    from tests.util import assert_frames_match

    from file_d_spark.queries import ORACLES, QUERIES

    got = QUERIES["multimodal_meta"](spark, sf_dir)
    want = duck.execute(ORACLES["multimodal_meta"]).df()
    assert_frames_match(got, want)


def test_sniff_never_raises_on_arbitrary_bytes():
    """Fuzz the container parsers: any byte string must yield None or
    a metadata dict — never an exception (malformed blobs are the
    NORMAL case in a crawled corpus)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=200))
    def run(blob):
        meta = mm.sniff_media(blob)
        assert meta is None or isinstance(meta, dict)

    run()

    # adversarial prefixes: valid magics followed by garbage/truncation
    for prefix in (
        b"\x89PNG\r\n\x1a\n",
        b"GIF89a",
        b"\xff\xd8\xff",
        b"RIFF\x04\x00\x00\x00WAVE",
        mm.build_png(5, 5)[:20],
        mm.build_wav(8000, b"xy")[:30],
        mm.build_jpeg(9, 9)[:7],
    ):
        for tail in (b"", b"\x00", b"\xff" * 40, b"A" * 10):
            meta = mm.sniff_media(prefix + tail)
            assert meta is None or isinstance(meta, dict)
