"""Stdlib JPEG header parser (operators.jpeg) + decode_media_meta
integration — VERDICT r4 #2: the census/filter path (dimensions, not
pixels) covers the most common image format with zero native deps."""

from __future__ import annotations

import struct

import pytest

from etl_spark.operators.jpeg import is_jpeg, jpeg_header_fixture, jpeg_meta


def test_fixture_roundtrip_basic():
    raw = jpeg_header_fixture(640, 480)
    assert is_jpeg(raw)
    assert jpeg_meta(raw) == (640, 480, 1)


def test_fixture_roundtrip_three_components_and_comment():
    # COM segment BEFORE the SOF: the walk must skip a variable-length
    # segment by its declared big-endian length to reach the frame header
    raw = jpeg_header_fixture(1, 65535, comment=b"x" * 1000, n_components=3)
    assert jpeg_meta(raw) == (1, 65535, 3)


def test_sof2_progressive_is_recognized():
    raw = bytearray(jpeg_header_fixture(320, 200))
    i = raw.index(b"\xff\xc0")
    raw[i + 1] = 0xC2  # SOF0 -> SOF2 (progressive DCT)
    assert jpeg_meta(bytes(raw)) == (320, 200, 1)


def test_dht_is_not_mistaken_for_sof():
    # 0xC4 (DHT) sits inside the 0xC0-0xCF block but is NOT an SOF;
    # plant one before the real SOF with a bogus "dimension" payload
    raw = bytearray(jpeg_header_fixture(7, 9))
    i = raw.index(b"\xff\xc0")
    dht = b"\xff\xc4" + struct.pack(">H", 10) + bytes(8)
    raw[i:i] = dht
    assert jpeg_meta(bytes(raw)) == (7, 9, 1)


def test_marker_fill_bytes_tolerated():
    raw = bytearray(jpeg_header_fixture(33, 44))
    i = raw.index(b"\xff\xc0")
    raw[i:i] = b"\xff\xff\xff"  # fill bytes before the SOF marker (B.1.1.2)
    assert jpeg_meta(bytes(raw)) == (33, 44, 1)


@pytest.mark.parametrize(
    "blob",
    [
        b"",
        b"\xff\xd8",  # SOI only
        b"\xff\xd8\xff",  # SOI + bare marker byte
        jpeg_header_fixture(10, 10)[:14],  # truncated mid-APP0
        b"\xff\xd8\xff\xd9",  # SOI + EOI, no SOF
        b"\xff\xd8\xff\xda\x00\x04\x01\x00",  # SOS before SOF
        b"\x89PNG\r\n\x1a\n",  # not a JPEG at all
    ],
)
def test_malformed_raises_value_error(blob):
    with pytest.raises(ValueError):
        jpeg_meta(blob)


def test_truncated_sof_raises():
    raw = jpeg_header_fixture(100, 100)
    i = raw.index(b"\xff\xc0")
    with pytest.raises(ValueError):
        jpeg_meta(raw[: i + 6])  # SOF marker present, payload cut


def test_fixture_validates_bounds():
    with pytest.raises(ValueError):
        jpeg_header_fixture(0, 1)
    with pytest.raises(ValueError):
        jpeg_header_fixture(1, 70000)
    with pytest.raises(ValueError):
        jpeg_header_fixture(1, 1, comment=b"x" * 70000)


def test_decode_media_meta_jpeg_branch(spark):
    from etl_spark.operators.multimodal import MEDIA_SCHEMA, decode_media_meta

    good = jpeg_header_fixture(800, 600, comment=b"exif-ish padding" * 40)
    trunc = good[:20]  # sniffs as JPEG, dies mid-walk -> null meta row
    rows = [
        ("j0", "image", "image/jpeg", good, (800, 600, 0, len(good))),
        ("j1", "image", "image/jpeg", trunc, (0, 0, 0, len(trunc))),
    ]
    out = {
        r["asset_id"]: r
        for r in decode_media_meta(
            spark.createDataFrame(rows, MEDIA_SCHEMA)
        ).collect()
    }
    assert out["j0"]["decoded_width"] == 800
    assert out["j0"]["decoded_height"] == 600
    assert out["j0"]["payload_bytes"] == len(good)
    assert out["j1"]["decoded_width"] is None  # degraded, task alive
    assert out["j1"]["payload_bytes"] == len(trunc)


def test_decode_media_meta_truncated_png_degrades(spark):
    """ADVICE r4: a 16..23-byte PNG prefix passes the signature+IHDR
    check but must yield a null row, not a struct.error task failure."""
    from etl_spark.operators.multimodal import MEDIA_SCHEMA, decode_media_meta

    from etl_spark.operators.png import encode_png
    import numpy as np

    full = encode_png(np.zeros((2, 3), dtype=np.uint8))
    trunc = full[:20]  # signature + IHDR tag, dimensions cut off
    rows = [("p0", "image", "image/png", trunc, (0, 0, 0, len(trunc)))]
    r = decode_media_meta(spark.createDataFrame(rows, MEDIA_SCHEMA)).first()
    assert r["decoded_width"] is None and r["payload_bytes"] is None


def test_decode_media_meta_gif_and_bmp_headers(spark):
    """GIF logical-screen and BMP info-header dimensions decode
    in-container (header-only, like PNG/JPEG); truncated prefixes and
    non-INFOHEADER DIB headers degrade to null meta rows."""
    import struct

    from etl_spark.operators.multimodal import MEDIA_SCHEMA, decode_media_meta

    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 6
    bmp = (
        b"BM" + struct.pack("<IHHI", 70, 0, 0, 54)
        + struct.pack("<Iii", 40, 640, -480)  # top-down: negative height
        + b"\x00" * 24
    )
    # OS/2 BITMAPCOREHEADER (size 12, u16 dims): not decoded, null row
    core = (
        b"BM" + struct.pack("<IHHI", 26, 0, 0, 26)
        + struct.pack("<IHHHH", 12, 640, 480, 1, 24)
    )
    rows = [
        ("g0", "image", "image/gif", gif, (320, 200, 0, len(gif))),
        ("b0", "image", "image/bmp", bmp, (640, 480, 0, len(bmp))),
        ("g1", "image", "image/gif", b"GIF89a\x01", (0, 0, 0, 7)),
        ("b1", "image", "image/bmp", b"BM\x00\x00", (0, 0, 0, 4)),
        ("b2", "image", "image/bmp", core, (640, 480, 0, len(core))),
    ]
    out = {
        r["asset_id"]: r
        for r in decode_media_meta(
            spark.createDataFrame(rows, MEDIA_SCHEMA)
        ).collect()
    }
    assert (out["g0"]["decoded_width"], out["g0"]["decoded_height"]) == (320, 200)
    assert (out["b0"]["decoded_width"], out["b0"]["decoded_height"]) == (640, 480)
    assert out["g1"]["decoded_width"] is None
    assert out["b1"]["decoded_width"] is None
    assert (out["b2"]["decoded_width"], out["b2"]["decoded_height"]) == (
        None, None
    )


def test_multimodal_roundtrip_clamps_over_long_comment(spark, tmp_path):
    """A document past one COM segment (65533 bytes) is clamped into the
    JPEG fixture instead of raising, and the DuckDB oracle agrees."""
    import duckdb
    import pandas as pd

    from etl_spark.queries import ORACLE_SQL, q_multimodal_roundtrip

    docs = pd.DataFrame({"doc_id": [1, 2], "text": ["x" * 70_000, "short"]})
    path = tmp_path / "documents.parquet"
    docs.to_parquet(path)
    got = {
        r["doc_id"]: r.asDict()
        for r in q_multimodal_roundtrip(spark, str(tmp_path)).collect()
    }
    assert got[1]["jpeg_width"] == 65534
    assert got[1]["png_width"] == 70_001
    assert got[2]["jpeg_width"] == 6
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    want = con.execute(ORACLE_SQL["multimodal_roundtrip"]).fetchdf()
    for r in want.to_dict("records"):
        assert got[r["doc_id"]] == {k: int(v) for k, v in r.items()}
