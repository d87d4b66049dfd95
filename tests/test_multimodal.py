"""Tests for multimodal binary-column plumbing (functions/multimodal.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from yelp_etl_spark.functions.multimodal import (
    attach_blob_metadata,
    decode_blobs,
    synthesize_blobs,
)


def _blob_df(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "another payload"), (3, "x")],
        "doc_id long, text string",
    )
    return synthesize_blobs(df)


def test_attach_blob_metadata(spark):
    out = attach_blob_metadata(_blob_df(spark))
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[1].blob_format == "png"  # magic bytes sniffed
    assert rows[1].blob_bytes == 8 + len("hello world")
    assert rows[1].blob_hash == rows[1].blob_hash  # stable
    # same content → same hash across partitionings
    again = {r.doc_id: r.blob_hash for r in attach_blob_metadata(
        _blob_df(spark).repartition(3)).collect()}
    assert {k: v.blob_hash for k, v in rows.items()} == again


def test_decode_blobs_fake_decoder(spark):
    out = decode_blobs(_blob_df(spark))
    rows = out.collect()
    assert len(rows) == 3
    for r in rows:
        assert r.decode_ok is True
        assert 64 <= r.width < 256 and 64 <= r.height < 256
        assert 1 <= r.n_channels <= 4
        assert r.doc_id is not None and r.text is not None  # inputs carried through
    # deterministic across partitionings
    a = {(r.doc_id, r.width, r.height) for r in rows}
    b = {(r.doc_id, r.width, r.height) for r in decode_blobs(_blob_df(spark).repartition(3)).collect()}
    assert a == b


def test_sample_frames(spark):
    from yelp_etl_spark.functions.multimodal import sample_frames

    df = spark.createDataFrame(
        [(1, "x" * 4000), (2, "y")], "doc_id long, text string"
    )
    blobs = synthesize_blobs(df)
    frames = sample_frames(blobs, n_frames=4, frame_bytes=256)
    by_doc = {}
    for r in frames.collect():
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc[1]) == 4  # long blob: all 4 frames
    assert sorted(f.frame_index for f in by_doc[1]) == [0, 1, 2, 3]
    offs = sorted(f.frame_offset_bytes for f in by_doc[1])
    assert offs[0] == 1 and offs[-1] > offs[0]
    assert len(by_doc[2]) >= 1  # tiny blob still yields ≥1 frame
    # deterministic frame hashes
    again = {(r.doc_id, r.frame_index): r.frame_hash
             for r in sample_frames(
                 blobs.repartition(3), n_frames=4, frame_bytes=256
             ).collect()}
    assert all(again[(r.doc_id, r.frame_index)] == r.frame_hash
               for rs in by_doc.values() for r in rs)


def test_decode_blobs_poison_input_captured(spark):
    def picky(payload: bytes) -> dict:
        if b"another" in payload:
            raise ValueError("corrupt stream")
        return {"width": 1, "height": 1, "n_channels": 1, "decode_ok": True,
                "decode_error": None}

    out = decode_blobs(_blob_df(spark), decode_fn=picky)
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[1].decode_ok is True
    assert rows[2].decode_ok is False and "corrupt" in rows[2].decode_error
    assert rows[3].decode_ok is True


def test_extract_byte_features(spark):
    import math

    from yelp_etl_spark.functions.multimodal import extract_byte_features

    df = spark.createDataFrame(
        [
            (1, bytearray(b"aaaaaaaa")),          # single symbol → entropy 0
            (2, bytearray(bytes(range(256)))),    # uniform → entropy 8
            (3, bytearray(b"")),                  # empty → all zeros
            (4, bytearray(b"ab\x00\x00")),        # half NULs
        ],
        "id long, content binary",
    )
    rows = {r.id: r for r in extract_byte_features(df).collect()}
    assert rows[1].byte_entropy == 0.0
    assert rows[1].entropy_micro == 0
    assert rows[1].distinct_bytes == 1
    assert abs(rows[2].byte_entropy - 8.0) < 1e-9
    assert rows[2].entropy_micro == 8_000_000  # exact: all logs integral
    assert rows[2].distinct_bytes == 256
    assert rows[3].byte_entropy == 0.0 and rows[3].distinct_bytes == 0
    assert rows[3].entropy_micro == 0
    assert rows[4].null_ratio == 0.5
    assert abs(rows[4].byte_entropy - 1.5) < 1e-9  # {1/4,1/4,1/2} → 1.5 bits
    assert rows[4].entropy_micro == 1_500_000
    assert rows[1].printable_ratio == 1.0


def test_parse_media_headers_real_containers(spark):
    """Handcrafted minimal-but-valid container headers: the parser must
    recover true dimensions / audio params from raw bytes, no codec."""
    import struct

    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + struct.pack(">II", 640, 480)
        + b"\x08\x06\x00\x00\x00"
    )
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00\x00\x00"
    wav = (
        b"RIFF"
        + struct.pack("<I", 36)
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 2, 44100, 176400, 4, 16)
    )
    from yelp_etl_spark.functions.multimodal import (
        jpeg_dimensions,
        parse_media_headers,
    )

    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 8
        + b"\xff\xdb" + struct.pack(">H", 4) + b"\x00\x00"
        + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
        + struct.pack(">HH", 480, 640) + b"\x03" + b"\x00" * 9
    )
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(gif)), (3, bytearray(wav)), (4, bytearray(jpeg))],
        "doc_id long, content binary",
    )
    rows = {r.doc_id: r for r in parse_media_headers(df).collect()}
    assert rows[1].blob_format == "png"
    assert (rows[1].media_width, rows[1].media_height) == (640, 480)
    assert rows[2].blob_format == "gif"
    assert (rows[2].media_width, rows[2].media_height) == (320, 200)
    assert rows[3].blob_format == "riff"
    assert (rows[3].audio_channels, rows[3].audio_sample_rate) == (2, 44100)
    assert rows[4].blob_format == "jpeg"
    assert rows[4].media_width is None  # jpeg needs the marker scan

    jd = {r.doc_id: r for r in jpeg_dimensions(df.filter("doc_id = 4")).collect()}
    assert (jd[4].jpeg_width, jd[4].jpeg_height) == (640, 480)


def test_jpeg_dimensions_garbage_safe(spark):
    from yelp_etl_spark.functions.multimodal import jpeg_dimensions

    df = spark.createDataFrame(
        [(1, bytearray(b"\xff\xd8\xff")), (2, bytearray(b"not a jpeg")), (3, None)],
        "doc_id long, content binary",
    )
    rows = {r.doc_id: r for r in jpeg_dimensions(df).collect()}
    assert all(
        rows[i].jpeg_width is None and rows[i].jpeg_height is None
        for i in (1, 2, 3)
    )


def _box(btype: bytes, body: bytes) -> bytes:
    return (8 + len(body)).to_bytes(4, "big") + btype + body


def _minimal_mp4(timescale=600, duration=7200, w=640, h=360, v1=False) -> bytes:
    """Hand-built ISO-BMFF: ftyp + moov(mvhd + trak(tkhd)) — the exact
    box layout QuickTime/MP4 muxers emit, nothing codec-specific."""
    ftyp = _box(b"ftyp", b"isom" + (0).to_bytes(4, "big") + b"isomiso2")
    if v1:
        mvhd_body = (
            bytes([1, 0, 0, 0])
            + (0).to_bytes(8, "big") * 2            # creation, modification
            + timescale.to_bytes(4, "big")
            + duration.to_bytes(8, "big")
            + b"\x00" * 80
        )
        tkhd_body = (
            bytes([1, 0, 0, 0])
            + (0).to_bytes(8, "big") * 2            # creation, modification
            + (1).to_bytes(4, "big")                # track id
            + b"\x00" * 4
            + duration.to_bytes(8, "big")
            + b"\x00" * 8 + b"\x00" * 8             # reserved, layer..volume etc.
            + b"\x00" * 36                          # matrix
            + (w << 16).to_bytes(4, "big")
            + (h << 16).to_bytes(4, "big")
        )
    else:
        mvhd_body = (
            bytes([0, 0, 0, 0])
            + (0).to_bytes(4, "big") * 2
            + timescale.to_bytes(4, "big")
            + duration.to_bytes(4, "big")
            + b"\x00" * 80
        )
        tkhd_body = (
            bytes([0, 0, 0, 0])
            + (0).to_bytes(4, "big") * 2
            + (1).to_bytes(4, "big")
            + b"\x00" * 4
            + duration.to_bytes(4, "big")
            + b"\x00" * 8 + b"\x00" * 8
            + b"\x00" * 36
            + (w << 16).to_bytes(4, "big")
            + (h << 16).to_bytes(4, "big")
        )
    moov = _box(b"moov", _box(b"mvhd", mvhd_body) + _box(b"trak", _box(b"tkhd", tkhd_body)))
    return ftyp + moov


def test_mp4_metadata_v0_and_v1_boxes(spark):
    from yelp_etl_spark.functions.multimodal import mp4_metadata

    rows = [
        (0, _minimal_mp4()),                       # v0: 12s, 640x360
        (1, _minimal_mp4(1000, 2500, 1920, 1080, v1=True)),  # v1: 2.5s
        (2, b"\x00\x00\x00\x08free"),              # ISO-ish but no ftyp
        (3, b"garbage bytes"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    got = {r.doc_id: r for r in mp4_metadata(df).collect()}
    assert got[0].mp4_duration_s == 12.0
    assert (got[0].mp4_width, got[0].mp4_height) == (640, 360)
    assert got[1].mp4_duration_s == 2.5
    assert (got[1].mp4_width, got[1].mp4_height) == (1920, 1080)
    for i in (2, 3, 4):
        assert got[i].mp4_duration_s is None and got[i].mp4_width is None


def test_pcm_int16_stats_known_waveform(spark):
    from pyspark.sql import functions as F

    from yelp_etl_spark.functions.multimodal import pcm_int16_stats

    # bytes 01 00 | ff ff | 00 00 | 00 80  (LE int16: 1, -1, 0, -32768)
    df = spark.createDataFrame([(1,)], "doc_id long").withColumn(
        "content", F.unhex(F.lit("0100FFFF00000080"))
    )
    row = pcm_int16_stats(df, "content", "doc_id", n_samples=64).collect()[0]
    assert row["n_samples"] == 4
    assert row["peak"] == 32768
    # crossings: 1→-1 is strict; -1→0 and 0→-32768 are not
    assert row["zero_crossings"] == 1
    import math

    from rounding_ref import half_up

    expect = half_up(
        math.sqrt((1 + 1 + 0 + 32768 * 32768) / 4) * 1e6, 0
    )
    assert row["rms_micro"] == expect


def test_pcm_int16_stats_truncates_odd_tail(spark):
    from pyspark.sql import functions as F

    from yelp_etl_spark.functions.multimodal import pcm_int16_stats

    # 3 bytes: only one full sample; the dangling byte is ignored
    df = spark.createDataFrame([(1,)], "doc_id long").withColumn(
        "content", F.unhex(F.lit("0A00FF"))
    )
    row = pcm_int16_stats(df, "content", "doc_id").collect()[0]
    assert row["n_samples"] == 1 and row["peak"] == 10


def test_wav_riff_synthesize_parse_roundtrip(spark):
    """The Catalyst chunk walk must agree with Python's struct on a
    real little-endian WAV layout, locate 'data' through the
    variable-size LIST chunk, and flag junk as not-RIFF instead of
    erroring."""
    import struct

    from pyspark.sql import functions as F

    from yelp_etl_spark.functions.multimodal import (
        wav_riff_metadata,
        wav_synthesize,
    )

    docs = spark.createDataFrame(
        [(i, "hello world sample text payload for wav " * 3) for i in range(6)],
        "doc_id long, text string",
    )
    blobs = wav_synthesize(docs)
    got = {r.doc_id: r for r in wav_riff_metadata(blobs).collect()}
    for r in blobs.collect():
        b = bytes(r.content)
        assert b[:4] == b"RIFF" and b[8:12] == b"WAVE"
        # walk with struct as the independent reference
        channels = struct.unpack("<H", b[22:24])[0]
        rate = struct.unpack("<I", b[24:28])[0]
        sz2 = struct.unpack("<I", b[40:44])[0]
        doff = 44 + sz2 + sz2 % 2
        assert b[doff : doff + 4] == b"data"
        datasz = struct.unpack("<I", b[doff + 4 : doff + 8])[0]
        g = got[r.doc_id]
        assert (g.channels, g.sample_rate, g.data_bytes) == (
            channels, rate, datasz,
        )
        assert g.is_data_chunk and g.riff_ok
        assert g.head_checksum == sum(b[doff + 8 : doff + 8 + min(8, datasz)])
    junk = spark.createDataFrame(
        [(99, bytearray(b"not a wav at all, just bytes"))],
        "doc_id long, content binary",
    )
    j = wav_riff_metadata(junk).collect()[0]
    assert not j.riff_ok


def test_tiff_ifd_walk_matches_struct_reference(spark):
    """The Catalyst IFD walk must chase the per-file IFD offset and
    agree with Python's struct on every tag; junk yields tiff_ok=false
    and big-endian ('MM') TIFFs are flagged not-ok, never parsed as
    garbage values."""
    import struct

    from yelp_etl_spark.functions.multimodal import (
        tiff_ifd_metadata,
        tiff_synthesize,
    )

    docs = spark.createDataFrame(
        [(i, "pixel payload text " * 5) for i in range(8)],
        "doc_id long, text string",
    )
    blobs = tiff_synthesize(docs)
    got = {r.doc_id: r for r in tiff_ifd_metadata(blobs).collect()}
    for r in blobs.collect():
        b = bytes(r.content)
        assert b[:4] == b"II*\x00"
        off = struct.unpack("<I", b[4:8])[0]
        n = struct.unpack("<H", b[off : off + 2])[0]
        tags = {}
        for i in range(n):
            tag, _t, _c, v = struct.unpack(
                "<HHII", b[off + 2 + 12 * i : off + 14 + 12 * i]
            )
            tags[tag] = v
        g = got[r.doc_id]
        assert (g.width, g.height, g.bits, g.strip_bytes) == (
            tags[256], tags[257], tags[258], tags[279],
        )
        assert g.n_entries == n and g.tiff_ok
    junk = spark.createDataFrame(
        [(99, bytearray(b"MM\x00*not little endian tiff data here"))],
        "doc_id long, content binary",
    )
    j = tiff_ifd_metadata(junk).collect()[0]
    assert not j.tiff_ok


def test_png_chunk_walk_matches_struct_reference(spark):
    import struct

    from yelp_etl_spark.functions.multimodal import (
        png_chunk_metadata,
        png_synthesize,
    )

    docs = spark.createDataFrame(
        [(i, "idat payload text " * 4) for i in range(12)],
        "doc_id long, text string",
    )
    blobs = png_synthesize(docs)
    got = {r.doc_id: r for r in png_chunk_metadata(blobs).collect()}
    for r in blobs.collect():
        b = bytes(r.content)
        assert b[:8] == bytes.fromhex("89504E470D0A1A0A")
        assert b[12:16] == b"IHDR"
        w, h = struct.unpack(">II", b[16:24])
        bd, ct = b[24], b[25]
        # reference chunk walk from the first post-IHDR chunk
        i, idat = 33, None
        while i + 8 <= len(b):
            ln = struct.unpack(">I", b[i : i + 4])[0]
            if b[i + 4 : i + 8] == b"IDAT":
                idat = (ln, i + 1)
                break
            i += 12 + ln
        g = got[r.doc_id]
        assert (g.width, g.height, g.bit_depth, g.color_type) == (
            w, h, bd, ct,
        )
        assert (g.idat_bytes, g.idat_offset) == idat and g.png_ok
    # tEXt padding varies per doc → the walk chased real offsets
    assert len({g.idat_offset for g in got.values()}) > 1
    junk = spark.createDataFrame(
        [(99, bytearray(b"GIF89a definitely not a png stream"))],
        "doc_id long, content binary",
    )
    assert not png_chunk_metadata(junk).collect()[0].png_ok


def test_jpeg_sof_walk_matches_marker_scan_reference(spark):
    import struct

    from yelp_etl_spark.functions.multimodal import (
        jpeg_sof_metadata,
        jpeg_synthesize,
    )

    docs = spark.createDataFrame(
        [(i, "entropy payload " * 3) for i in range(12)],
        "doc_id long, text string",
    )
    blobs = jpeg_synthesize(docs)
    got = {r.doc_id: r for r in jpeg_sof_metadata(blobs).collect()}
    for r in blobs.collect():
        b = bytes(r.content)
        assert b[:2] == b"\xff\xd8"
        i, sof = 2, None
        while i + 4 <= len(b) and sof is None:
            assert b[i] == 0xFF
            m = b[i + 1]
            ln = struct.unpack(">H", b[i + 2 : i + 4])[0]
            if 0xC0 <= m <= 0xCF and m not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack(">HH", b[i + 5 : i + 9])
                sof = (b[i + 4], h, w, b[i + 9], m)
            i += 2 + ln
        g = got[r.doc_id]
        assert (
            g.precision, g.height, g.width, g.n_components, g.sof_marker,
        ) == sof
        assert g.jpeg_ok
    # both component layouts exercised (grayscale + YCbCr)
    assert {g.n_components for g in got.values()} == {1, 3}
    junk = spark.createDataFrame(
        [(99, bytearray(b"\x89PNG\r\n\x1a\nnope"))],
        "doc_id long, content binary",
    )
    assert not jpeg_sof_metadata(junk).collect()[0].jpeg_ok


def test_gif_block_walk_matches_struct_reference(spark):
    from yelp_etl_spark.functions.multimodal import (
        gif_block_metadata,
        gif_synthesize,
    )

    docs = spark.createDataFrame(
        # doc 4 has EMPTY text: the declared sub-block length must
        # still equal the bytes written (r9 review regression — a
        # 1-declared/0-written desync walked one byte into the next
        # frame and silently undercounted)
        [(i, "" if i == 4 else "gif frame payload " * 3)
         for i in range(12)],
        "doc_id long, text string",
    )
    blobs = gif_synthesize(docs)
    got = {r.doc_id: r for r in gif_block_metadata(blobs).collect()}
    for r in blobs.collect():
        b = bytes(r.content)
        assert b[:6] == b"GIF89a" and b[10] < 0x80 and b[-1] == 0x3B
        w = int.from_bytes(b[6:8], "little")
        h = int.from_bytes(b[8:10], "little")
        i, nf, ne, area = 13, 0, 0, 0
        while i < len(b):
            t = b[i]
            if t == 0x2C:  # image descriptor + one data sub-block
                fw = int.from_bytes(b[i + 5 : i + 7], "little")
                fh = int.from_bytes(b[i + 7 : i + 9], "little")
                nf, area = nf + 1, area + fw * fh
                i += 13 + b[i + 11]
            elif t == 0x21:  # extension + one sub-block
                ne += 1
                i += 4 + b[i + 2]
            else:
                assert t == 0x3B
                break
        g = got[r.doc_id]
        assert (
            g.lsd_width, g.lsd_height, g.n_frames, g.n_extensions,
            g.frame_area_sum,
        ) == (w, h, nf, ne, area)
        assert g.gif_ok
    # frame counts 1..3 all present → the dispatch really repeated
    assert {g.n_frames for g in got.values()} == {1, 2, 3}
    junk = spark.createDataFrame(
        [(99, bytearray(b"GIF87a but wrong version marker here"))],
        "doc_id long, content binary",
    )
    assert not gif_block_metadata(junk).collect()[0].gif_ok


def test_zip_walk_malformed_blob_flags_not_errors(spark):
    from pyspark.sql import functions as F

    from yelp_etl_spark.functions.multimodal import zip_central_dir_metadata

    junk = spark.range(3).select(
        F.col("id").alias("doc_id"),
        F.unhex(F.lit("DEADBEEF" * 12)).alias("content"),
    )
    rows = zip_central_dir_metadata(junk).collect()
    assert len(rows) == 3
    assert all(not r.eocd_ok for r in rows)


def test_zip_walk_roundtrips_member_names_and_sizes(spark):
    from pyspark.sql import functions as F

    from yelp_etl_spark.functions.multimodal import (
        zip_central_dir_metadata,
        zip_synthesize,
    )

    df = spark.range(6).select(F.col("id").alias("doc_id"))
    out = {r.doc_id: r for r in
           zip_central_dir_metadata(zip_synthesize(df)).collect()}
    for did, r in out.items():
        m = did % 3 + 1
        assert r.n_members == m
        assert r.names_csv == ",".join(f"f{i}" for i in range(1, m + 1))
        assert r.total_usize == sum((did + i) % 5 + 4 for i in range(1, m + 1))
        assert r.cd_size_ok and r.entries_ok and r.eocd_ok
