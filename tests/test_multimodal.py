"""Multimodal plumbing: batch shapes, determinism of the stand-in
feature extractor, and frame-sample fanout arithmetic."""

from __future__ import annotations

from pyspark.sql import functions as F

from crawspark.operators.multimodal import (
    N_FRAMES,
    decode_media,
    extract_media_features,
    media_table,
)
from crawspark.operators.perdoc import _per_doc

SF = "/root/testdata/sf0.001"


def test_decode_media_schema_and_kinds(spark):
    meta = decode_media(media_table(spark, SF))
    rows = meta.collect()
    assert rows and set(meta.columns) == {
        "media_ref", "media_kind", "n_bytes", "width", "height",
        "duration_ms"}
    kinds = {r["media_kind"] for r in rows}
    assert kinds == {"image", "audio", "video"}
    for r in rows:
        assert (r["duration_ms"] > 0) == (r["media_kind"] == "video")
        assert r["width"] == 320  # payload always starts with 'B'


def test_features_deterministic_and_fixed_dim(spark):
    a = {r["media_ref"]: list(r["features"]) for r in
         extract_media_features(media_table(spark, SF)).collect()}
    b = {r["media_ref"]: list(r["features"]) for r in
         extract_media_features(media_table(spark, SF)).collect()}
    assert a == b and a
    assert all(len(v) == 16 for v in a.values())
    assert all(0.0 <= x < 1.0 for v in a.values() for x in v)


def test_frame_sample_fanout(spark):
    from crawspark.registry import load_all
    q = load_all()["multimodal_frame_sample"]
    rows = q.spark(spark, SF).collect()
    n_videos = (media_table(spark, SF)
                .filter(F.col("media_kind") == "video").count())
    assert len(rows) == n_videos * N_FRAMES
    by_ref: dict = {}
    for r in rows:
        by_ref.setdefault(r["media_ref"], []).append(
            (r["frame_idx"], r["frame_ms"]))
    for frames in by_ref.values():
        frames.sort()
        ms = [m for _, m in frames]
        assert ms == sorted(ms) and len(set(ms)) == N_FRAMES  # spaced


def test_per_doc_zero_one_many_rows(spark):
    # Every synthetic route emits its rows through _per_doc. A doc may emit
    # none, one or several rows; docs 0-3 emit none, so range()'s first
    # partition is a batch with no output at all.
    schema = "doc_id long, k int, tag string, x double"

    def rows(d):
        return [(d, k, f"t{d}", d / 2)
                for k in range(0 if d < 4 else d % 3)]

    docs = spark.range(0, 12, numPartitions=3).withColumnRenamed(
        "id", "doc_id")
    df = _per_doc(docs, schema, rows)
    assert df.schema.simpleString() == (
        "struct<doc_id:bigint,k:int,tag:string,x:double>")
    got = sorted(tuple(r) for r in df.collect())
    assert got == sorted(t for d in range(12) for t in rows(d))
    assert {len(rows(d)) for d in range(12)} == {0, 1, 2}

    def none(d):
        return []

    empty = _per_doc(docs, schema, none)
    assert empty.schema == df.schema
    assert empty.collect() == []


# --- r4: real container-header parsing (no codec libs needed) -------------


def test_image_header_hand_vectors():
    import struct

    from crawspark.oracle.imagemeta import make_image_bytes, parse_image_dims

    png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
           + struct.pack(">II", 640, 480) + b"\x08\x06\x00\x00\x00"
           + b"\xaa\xbb\xcc\xdd")
    assert parse_image_dims(png) == ("png", 640, 480)
    assert parse_image_dims(
        b"GIF87a" + struct.pack("<HH", 320, 200) + b"\x00") == ("gif", 320, 200)
    # progressive JPEG (SOF2), dims after an APP0 segment
    jpg = (b"\xff\xd8\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01"
           + b"\x00" + struct.pack(">HH", 72, 72) + b"\x00\x00"
           + b"\xff\xc2" + struct.pack(">H", 17) + b"\x08"
           + struct.pack(">HH", 1080, 1920)
           + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01" + b"\xff\xd9")
    assert parse_image_dims(jpg) == ("jpeg", 1920, 1080)
    # top-down BMP (negative height) normalizes to positive
    bmp = (b"BM" + struct.pack("<IHHI", 54, 0, 0, 54)
           + struct.pack("<Iii", 40, 800, -600) + b"\x00" * 20)
    assert parse_image_dims(bmp) == ("bmp", 800, 600)
    # non-images and truncations are None, never an exception
    for junk in (b"", b"not an image", b"\xff\xd8\xff", png[:10],
                 b"GIF89a\x01", b"\xff\xd8\xff\xc0\x00\x03\x08"):
        assert parse_image_dims(junk) is None
    # synthesis round-trips through the parser for every format
    for fmt in ("png", "gif", "jpeg", "bmp"):
        assert parse_image_dims(make_image_bytes(fmt, 123, 45)) \
            == (fmt, 123, 45)


def test_jpeg_fill_bytes_and_restart_markers():
    import struct

    from crawspark.oracle.imagemeta import parse_image_dims

    # marker stream with fill 0xFF bytes and a restart marker before SOF0
    jpg = (b"\xff\xd8" + b"\xff\xff" + b"\xff\xd0"
           + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
           + struct.pack(">HH", 10, 20)
           + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01")
    assert parse_image_dims(jpg) == ("jpeg", 20, 10)


def test_av_header_hand_vectors():
    import struct

    from crawspark.oracle.imagemeta import (
        make_mp4_bytes,
        make_wav_bytes,
        parse_mp4_meta,
        parse_wav_meta,
    )

    # hand-written PCM WAV: stereo 44100 Hz, 176400-byte data = 1000 ms
    fmt = struct.pack("<HHIIHH", 1, 2, 44100, 176400, 4, 16)
    wav = (b"RIFF" + struct.pack("<I", 36 + 176400) + b"WAVE"
           + b"fmt " + struct.pack("<I", 16) + fmt
           + b"data" + struct.pack("<I", 176400))
    assert parse_wav_meta(wav) == (2, 44100, 1000)
    # odd-sized junk chunk before fmt exercises word alignment
    wav2 = (b"RIFF" + struct.pack("<I", 100) + b"WAVE"
            + b"junk" + struct.pack("<I", 3) + b"abc\x00"
            + b"fmt " + struct.pack("<I", 16) + fmt
            + b"data" + struct.pack("<I", 88200))
    assert parse_wav_meta(wav2) == (2, 44100, 500)
    for junk in (b"", b"RIFF", b"RIFF1234WAVX", b"\x00" * 40):
        assert parse_wav_meta(junk) is None
    # mp4 round-trip + version-0 mvhd arithmetic
    assert parse_mp4_meta(make_mp4_bytes(90000, 1280, 720)) \
        == (90000, 1280, 720)
    assert parse_mp4_meta(b"\x00\x00\x00\x08ftyp") is None
    # round-trips across the synthesis grid
    for ch in (1, 2):
        for sr in (8000, 16000, 24000):
            assert parse_wav_meta(make_wav_bytes(ch, sr, 1250)) \
                == (ch, sr, 1250)


def test_bmp_pixel_decoders_agree():
    # Differential: the pure-Python BMP pixel decoder must agree with
    # the numpy path used in the registry query across widths that
    # exercise every stride-padding residue (w*3 % 4 in {0,1,2,3}),
    # plus the spec hand vector.
    from crawspark.oracle.imagemeta import decode_bmp_pixels, make_bmp_pixels

    for w, h in ((64, 32), (65, 33), (66, 34), (67, 35), (126, 62)):
        got = decode_bmp_pixels(make_bmp_pixels(w, h))
        exp = (w, h, (w - 1) / 2 + (h - 1), (h - 1) / 2, (w - 1) / 2,
               (5, 2, 1))
        assert got == exp, (w, h, got)


def test_bmp_pixel_decoder_rejects_non_rgb24():
    from crawspark.oracle.imagemeta import decode_bmp_pixels, make_image_bytes

    # header-only BMP (no pixel array, but also bpp/compression fine) —
    # must not crash; and non-BMP bytes return None
    assert decode_bmp_pixels(b"\x89PNG not a bmp") is None
    assert decode_bmp_pixels(b"BM short") is None
    # png bytes from the image synthesizer are not BMP
    assert decode_bmp_pixels(make_image_bytes("png", 10, 10)) is None


def test_png_pixel_roundtrip_all_filters():
    # The generator cycles filter types 0..4 per row; decode must
    # reproduce the exact gradient through every unfilter path (heights
    # >= 5 guarantee all five types occur).
    from crawspark.oracle.imagemeta import (
        decode_png_pixels,
        make_png_pixels,
        parse_image_dims,
    )

    for w, h in ((64, 32), (65, 33), (126, 62), (7, 5)):
        got = decode_png_pixels(make_png_pixels(w, h))
        exp = (w, h, (w - 1) / 2 + (h - 1), (h - 1) / 2, (w - 1) / 2,
               (5, 2, 1))
        assert got == exp, (w, h, got)
    # the synthesized PNG is also a valid header for the dims parser
    assert parse_image_dims(make_png_pixels(20, 10)) == ("png", 20, 10)


def test_png_pixel_decoder_rejects_other_bytes():
    from crawspark.oracle.imagemeta import (
        decode_png_pixels,
        make_bmp_pixels,
        make_image_bytes,
    )

    assert decode_png_pixels(b"not a png") is None
    assert decode_png_pixels(make_bmp_pixels(10, 10)) is None
    # header-only PNG (no IDAT) is not decodable
    assert decode_png_pixels(make_image_bytes("png", 10, 10)) is None


def test_gif_lzw_hand_vectors():
    # Pair-symmetry breakers: LITERAL byte streams hand-packed on paper
    # from the spec conventions (LSB-first, width grows at next_code ==
    # 2^width with the giflib shared-counter rule, KwKwK case included).
    from crawspark.oracle.imagemeta import _gif_lzw_encode, gif_lzw_decode

    # indices [0,1,1,0], min_code_size 2: codes 4,0,1 at 3 bits then
    # 1,0,5 at 4 bits -> 0x44 0x02 0x0A
    assert gif_lzw_decode(bytes([0x44, 0x02, 0x0A]), 2) == b"\x00\x01\x01\x00"
    assert _gif_lzw_encode(b"\x00\x01\x01\x00", 2) == bytes([0x44, 0x02, 0x0A])
    # indices [1,1,1,1]: the third code (6) is KwKwK — codes 4,1,6 at
    # 3 bits then 1,5 at 4 bits -> 0x8C 0xA3 0x00
    assert gif_lzw_decode(bytes([0x8C, 0xA3, 0x00]), 2) == b"\x01\x01\x01\x01"
    assert _gif_lzw_encode(b"\x01\x01\x01\x01", 2) == bytes([0x8C, 0xA3, 0x00])


def test_gif_pixel_roundtrip():
    from crawspark.oracle.imagemeta import (
        decode_gif_pixels,
        make_gif_pixels,
        parse_image_dims,
    )

    for w, h in ((64, 32), (65, 33), (126, 62), (7, 5)):
        got = decode_gif_pixels(make_gif_pixels(w, h))
        mi = (w - 1) / 2 + (h - 1)
        assert got == (w, h, mi, 255 - mi, mi, (5, 250, 5)), (w, h, got)
    assert parse_image_dims(make_gif_pixels(20, 10)) == ("gif", 20, 10)
    assert decode_gif_pixels(b"not a gif") is None


def test_gif_lzw_random_roundtrip_hits_full_table_reset():
    # The gradient corpus is highly compressible — its LZW table never
    # approaches 4096 entries, leaving the width-12 and mid-stream
    # CLEAR/reset paths untested. Random high-entropy index streams
    # force both; encode→decode must be identity.
    import random

    from crawspark.oracle.imagemeta import _gif_lzw_encode, gif_lzw_decode

    rng = random.Random(11)
    for n in (10, 257, 5000, 9000):
        data = bytes(rng.randrange(256) for _ in range(n))
        enc = _gif_lzw_encode(data, 8)
        assert gif_lzw_decode(enc, 8) == data, n
    # small alphabet too (min_code_size 2): grows through every width
    for n in (100, 3000):
        data = bytes(rng.randrange(4) for _ in range(n))
        enc = _gif_lzw_encode(data, 2)
        assert gif_lzw_decode(enc, 2) == data, n


def test_png_unfilter_random_roundtrip():
    # Random pixel content through every PNG filter type — catches
    # content-dependent filter arithmetic the smooth gradient can miss
    # (e.g. Paeth tie-breaking on non-monotone rows).
    import random
    import struct
    import zlib

    from crawspark.oracle.imagemeta import (
        _png_chunk,
        _png_filter_row,
        decode_png_pixels,
    )

    rng = random.Random(13)
    w, h = 23, 10
    pixels = [[tuple(rng.randrange(256) for _ in range(3))
               for _ in range(w)] for _ in range(h)]
    raw = bytearray()
    prev = bytes(w * 3)
    for y in range(h):
        row = bytes(v for px in pixels[y] for v in px)
        ftype = y % 5
        raw.append(ftype)
        raw += _png_filter_row(ftype, row, prev)
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
           + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
           + _png_chunk(b"IEND", b""))
    got = decode_png_pixels(png)
    assert got is not None and got[0] == w and got[1] == h
    n = w * h
    exp_means = [sum(px[c] for row in pixels for px in row) / n
                 for c in range(3)]
    assert got[2:5] == tuple(exp_means)
    assert got[5] == pixels[2][1]


def test_wav_pcm_hand_vector():
    # Hand-packed from the RIFF/WAVE spec (not a make_wav_pcm
    # round-trip): 4 known samples 0, 300, -500, 1000 as int16 LE.
    import struct

    from crawspark.oracle.imagemeta import decode_wav_pcm

    data = struct.pack("<4h", 0, 300, -500, 1000)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    wav = b"RIFF" + struct.pack("<I", 4 + len(body)) + body
    got = decode_wav_pcm(wav)
    assert got is not None
    n, peak, sum_s, rms = got
    assert (n, peak, sum_s) == (4, 1000, 800)
    assert rms == (sum(s * s for s in (0, 300, -500, 1000)) / 4) ** 0.5


def test_wav_pcm_odd_chunk_padding():
    # A 3-byte LIST chunk before data must be padded to an even offset
    # (RIFF spec) or the walk desyncs and misses the data chunk.
    import struct

    from crawspark.oracle.imagemeta import decode_wav_pcm

    data = struct.pack("<2h", 7, -7)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
            + b"data" + struct.pack("<I", len(data)) + data)
    wav = b"RIFF" + struct.pack("<I", 4 + len(body)) + body
    assert decode_wav_pcm(wav) == (2, 7, 0, 7.0)


def test_wav_pcm_rejects_non_pcm16_mono():
    import struct

    from crawspark.oracle.imagemeta import decode_wav_pcm, make_wav_pcm

    assert decode_wav_pcm(b"not a wav") is None
    # stereo
    data = struct.pack("<2h", 1, 2)
    fmt = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    assert decode_wav_pcm(b"RIFF" + struct.pack("<I", 4 + len(body))
                          + body) is None
    # 8-bit
    fmt8 = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    body8 = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt8)) + fmt8
             + b"data" + struct.pack("<I", 2) + b"\x01\x02")
    assert decode_wav_pcm(b"RIFF" + struct.pack("<I", 4 + len(body8))
                          + body8) is None
    # the generator's output does decode (round-trip, plus the closed
    # form the registry oracle relies on for sample 0..2)
    got = decode_wav_pcm(make_wav_pcm(3))
    assert got is not None
    s = [((i * 97) % 2048) - 1024 for i in range(3)]
    assert got[0] == 3 and got[1] == max(abs(x) for x in s)
    assert got[2] == sum(s)


def test_webp_hand_vectors():
    # Literal spec bytes, not round-trips: VP8L w=2,h=3 packs
    # (w-1)|((h-1)<<14) = 1|0x8000 = 0x8001 -> LE 01 80 00 00 after the
    # 0x2F signature; VP8 lossy carries 14-bit LE dims after the
    # 9D 01 2A keyframe sync; VP8X stores canvas-1 as 24-bit LE.
    import struct

    from crawspark.oracle.imagemeta import parse_image_dims, parse_webp_dims

    vp8l = (b"RIFF" + struct.pack("<I", 4 + 8 + 6) + b"WEBP"
            + b"VP8L" + struct.pack("<I", 5) + b"\x2f\x01\x80\x00\x00"
            + b"\x00")
    assert parse_webp_dims(vp8l) == ("webp", 2, 3)
    body = b"\x00\x00\x00" + b"\x9d\x01\x2a" + struct.pack("<HH", 640, 480)
    vp8 = (b"RIFF" + struct.pack("<I", 4 + 8 + len(body)) + b"WEBP"
           + b"VP8 " + struct.pack("<I", len(body)) + body)
    assert parse_webp_dims(vp8) == ("webp", 640, 480)
    vp8x = (b"RIFF" + struct.pack("<I", 4 + 8 + 10) + b"WEBP"
            + b"VP8X" + struct.pack("<I", 10) + b"\x00\x00\x00\x00"
            + (799).to_bytes(3, "little") + (599).to_bytes(3, "little"))
    assert parse_webp_dims(vp8x) == ("webp", 800, 600)
    assert parse_image_dims(vp8l) == ("webp", 2, 3)
    # bad sync code -> None
    bad = bytearray(vp8)
    bad[23] = 0x00
    assert parse_webp_dims(bytes(bad)) is None


def test_webp_avif_roundtrip_and_rejections():
    from crawspark.oracle.imagemeta import (
        make_avif_bytes,
        make_mp4_bytes,
        make_webp_bytes,
        parse_avif_dims,
        parse_image_dims,
    )

    for kind in ("vp8", "vp8l", "vp8x"):
        assert parse_image_dims(make_webp_bytes(kind, 320, 240)) == (
            "webp", 320, 240)
    assert parse_image_dims(make_avif_bytes(1024, 768)) == (
        "avif", 1024, 768)
    # an MP4 has ftyp but brand isom, not avif -> None via the avif path
    assert parse_avif_dims(make_mp4_bytes(1000, 640, 360)) is None
    assert parse_image_dims(b"RIFFxxxxWAVE") is None
    assert parse_avif_dims(b"\x00" * 16) is None


def test_mp3_hand_vectors_and_id3_skip():
    # Literal ISO 11172-3 header bytes: FF FB = sync + MPEG-1 Layer III;
    # third byte 0x92 = bitrate index 9 (128 kbps), samplerate index 0
    # (44100). 418-byte payload -> duration 418*8//128 = 26 ms.
    from crawspark.oracle.imagemeta import parse_mp3_meta

    frame = bytes((0xFF, 0xFB, 0x92, 0x00)) + bytes(414)
    assert parse_mp3_meta(frame) == (128, 44100, 26)
    # ID3v2 tag with SYNCHSAFE size 0x7F+1=128+... : size bytes
    # (0, 0, 1, 3) -> 131 body bytes, then the same frame
    id3 = b"ID3\x04\x00\x00" + bytes((0, 0, 1, 3)) + bytes(131) + frame
    assert parse_mp3_meta(id3) == (128, 44100, 26)
    # Layer II (b1 bit pattern 0xFD) and free-format bitrate rejected
    assert parse_mp3_meta(bytes((0xFF, 0xFD, 0x92, 0x00)) + bytes(40)) is None
    assert parse_mp3_meta(bytes((0xFF, 0xFB, 0x02, 0x00)) + bytes(40)) is None
    assert parse_mp3_meta(b"no sync here") is None


def test_flac_hand_vector():
    # STREAMINFO bit layout (RFC 9639 §8.2): the 64 bits from byte 10
    # are [20b rate][3b ch-1][5b bps-1][36b total]. Packed by hand for
    # rate=8000, ch=2, total=16000 -> 2000 ms.
    from crawspark.oracle.imagemeta import parse_flac_meta

    bits = (8000 << 44) | (1 << 41) | (15 << 36) | 16000
    info = bytes(10) + bits.to_bytes(8, "big") + bytes(16)
    payload = b"fLaC" + bytes([0x80]) + (34).to_bytes(3, "big") + info
    assert parse_flac_meta(payload) == (8000, 2, 16000, 2000)
    assert parse_flac_meta(payload[:20]) is None  # truncated
    assert parse_flac_meta(b"OggS" + payload[4:]) is None
    # a non-STREAMINFO first block is rejected
    bad = b"fLaC" + bytes([0x84]) + (34).to_bytes(3, "big") + info
    assert parse_flac_meta(bad) is None


def test_tiff_hand_vectors():
    # Literal TIFF 6.0 bytes, both byte orders. LE: "II 2A 00", first
    # IFD at 8; entry = tag(2) type(2) count(4) value(4) with SHORT
    # values LEFT-justified in the 4-byte field (spec §2, "Types").
    from crawspark.oracle.imagemeta import parse_image_dims, parse_tiff_dims

    le = (b"II\x2a\x00" + b"\x08\x00\x00\x00"
          + b"\x02\x00"                                  # 2 entries
          + b"\x00\x01\x03\x00\x01\x00\x00\x00\x40\x00\x00\x00"  # 256 SHORT 64
          + b"\x01\x01\x04\x00\x01\x00\x00\x00\x30\x00\x00\x00"  # 257 LONG 48
          + b"\x00\x00\x00\x00")
    assert parse_tiff_dims(le) == ("tiff", 64, 48)
    assert parse_image_dims(le) == ("tiff", 64, 48)
    be = (b"MM\x00\x2a" + b"\x00\x00\x00\x08"
          + b"\x00\x02"
          + b"\x01\x00\x00\x03\x00\x00\x00\x01\x00\x40\x00\x00"  # SHORT 64
          + b"\x01\x01\x00\x04\x00\x00\x00\x01\x00\x00\x00\x30"  # LONG 48
          + b"\x00\x00\x00\x00")
    assert parse_tiff_dims(be) == ("tiff", 64, 48)
    # RATIONAL-typed width entry is skipped -> dims incomplete -> None
    rat = bytearray(le)
    rat[12] = 0x05
    assert parse_tiff_dims(bytes(rat)) is None
    # truncated IFD -> None
    assert parse_tiff_dims(le[:20]) is None
    assert parse_tiff_dims(b"II\x2b\x00" + le[4:]) is None  # BigTIFF magic


def test_ico_svg_hand_vectors():
    from crawspark.oracle.imagemeta import (
        parse_ico_dims,
        parse_image_dims,
        parse_svg_dims,
    )

    # ICONDIR: reserved=0, type=1, count=1; entry width=16 height=32.
    ico = (b"\x00\x00\x01\x00\x01\x00" + bytes((16, 32))
           + b"\x00\x00\x01\x00\x20\x00" + b"\x28\x00\x00\x00"
           + b"\x16\x00\x00\x00")
    assert parse_ico_dims(ico) == ("ico", 16, 32)
    # the famous quirk: a 0 dimension byte means 256
    quirk = bytearray(ico)
    quirk[6] = quirk[7] = 0
    assert parse_ico_dims(bytes(quirk)) == ("ico", 256, 256)
    assert parse_image_dims(bytes(quirk)) == ("ico", 256, 256)
    # CUR files (type=2) and empty directories are rejected
    assert parse_ico_dims(b"\x00\x00\x02\x00\x01\x00" + ico[6:]) is None
    assert parse_ico_dims(b"\x00\x00\x01\x00\x00\x00") is None

    svg = (b'<?xml version="1.0"?>\n<svg xmlns="http://www.w3.org/2000/svg"'
           b' width="120px" height= "90" ><rect/></svg>')
    assert parse_svg_dims(svg) == ("svg", 120, 90)
    vb = b'<svg viewBox="0 0 300 150"><circle r="1"/></svg>'
    assert parse_svg_dims(vb) == ("svg", 300, 150)
    assert parse_image_dims(vb) == ("svg", 300, 150)
    # width/height win over viewBox when both present
    both = b'<svg width="10" height="20" viewBox="0 0 300 150"/>'
    assert parse_svg_dims(both) == ("svg", 10, 20)
    # negative-origin viewBox still yields the extent values
    neg = b'<svg viewBox="-5 -5, 50 25"/>'
    assert parse_svg_dims(neg) == ("svg", 50, 25)
    assert parse_svg_dims(b"<html><body>no svg tag</body></html>") is None
    assert parse_svg_dims(b"<svg><rect/></svg>") is None


def test_tiff_ico_svg_roundtrip():
    from crawspark.oracle.imagemeta import (
        make_ico_bytes,
        make_svg_bytes,
        make_tiff_bytes,
        parse_image_dims,
    )

    for be in (False, True):
        assert parse_image_dims(make_tiff_bytes(321, 123, be)) == (
            "tiff", 321, 123)
    assert parse_image_dims(make_ico_bytes(48, 64)) == ("ico", 48, 64)
    assert parse_image_dims(make_ico_bytes(256, 256)) == ("ico", 256, 256)
    assert parse_image_dims(make_svg_bytes(640, 480)) == ("svg", 640, 480)
    assert parse_image_dims(make_svg_bytes(640, 480, viewbox=True)) == (
        "svg", 640, 480)


def test_gif_index_past_short_palette_rejected():
    # corrupt-crawl regression (r5 review): a stream whose LZW indices
    # exceed the declared color-table size must decode to None, not let
    # the short palette slice underfill the (r, g, b) unpack and leak a
    # ValueError past the except tuple.
    import struct as _struct

    from crawspark.oracle.imagemeta import _gif_lzw_encode, decode_gif_pixels

    w = h = 4
    # 4-entry global table (packed 0x81) but min_code_size 3 indices up
    # to 7 — index 7 has no palette entry
    indices = bytes((x + y) % 8 for y in range(h) for x in range(w))
    lzw = _gif_lzw_encode(indices, 3)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i:i + 255]
        blocks += bytes([len(chunk)]) + chunk
    blocks += b"\x00"
    gif = (b"GIF89a" + _struct.pack("<HH", w, h) + b"\x81\x00\x00"
           + bytes(12)  # 4 RGB entries, all black
           + b"\x2c" + _struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
           + b"\x03" + bytes(blocks) + b"\x3b")
    assert decode_gif_pixels(gif) is None
    # in-range indices through the same short table still decode
    ok_idx = bytes((x + y) % 4 for y in range(h) for x in range(w))
    lzw2 = _gif_lzw_encode(ok_idx, 3)
    blocks2 = bytes([len(lzw2)]) + lzw2 + b"\x00"
    palette = b"".join(bytes((i, 255 - i, i)) for i in range(4))
    gif2 = (b"GIF89a" + _struct.pack("<HH", w, h) + b"\x81\x00\x00"
            + palette
            + b"\x2c" + _struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
            + b"\x03" + blocks2 + b"\x3b")
    got = decode_gif_pixels(gif2)
    assert got is not None and got[0] == 4 and got[1] == 4


def test_svg_percentage_dims_fall_through_to_viewbox():
    # r5 review: '100%' is a viewport fraction, not a length — treat a
    # percentage width/height like a missing attribute (viewBox wins,
    # else None), never as 100 px.
    from crawspark.oracle.imagemeta import parse_svg_dims

    pct_vb = b'<svg width="100%" height="100%" viewBox="0 0 640 480">'
    assert parse_svg_dims(pct_vb) == ("svg", 640, 480)
    assert parse_svg_dims(b'<svg width="100%" height="100%"/>') is None
    # mixed: one percentage dim also defers to the viewBox
    mixed = b'<svg width="320" height="50%" viewBox="0 0 320 240"/>'
    assert parse_svg_dims(mixed) == ("svg", 320, 240)
    # plain numeric + px dims still parse directly
    assert parse_svg_dims(b'<svg width="100px" height="50">') == \
        ("svg", 100, 50)


def test_tiff_query_compression_grid_not_collapsed():
    # r5 review: multimodal_tiff_pixel_stats filters doc_id % 9 == 1,
    # which forces doc_id % 3 == 1 — an index of d % 3 would pin every
    # doc to LZW. The shipped (d // 9) % 3 must cycle all three
    # compressions across consecutive filtered ids.
    ids = [d for d in range(1, 200) if d % 9 == 1]
    assert {d % 3 for d in ids} == {1}          # the trap
    assert {(d // 9) % 3 for d in ids} == {0, 1, 2}  # the fix


def test_exif_parse_hand_vector_and_builder():
    # hand-packed MM (big-endian) EXIF TIFF: one IFD0 with Orientation
    # SHORT=6 and an Exif sub-IFD pointer at a hand-computed offset
    # holding PixelXDimension LONG=640 — bytes written from the TIFF
    # 6.0 / CP-3451 layout, not from our builder.
    import struct as _struct

    from crawspark.oracle.exif import (
        build_exif_tiff,
        make_exif_jpeg,
        parse_exif,
    )
    from crawspark.oracle.jpegcodec import decode_jpeg_pixels, make_jpeg_pixels

    ifd0 = (b"\x00\x02"                      # 2 entries
            b"\x01\x12\x00\x03\x00\x00\x00\x01\x00\x06\x00\x00"  # 274=6
            b"\x87\x69\x00\x04\x00\x00\x00\x01\x00\x00\x00\x26"  # 34665->0x26
            b"\x00\x00\x00\x00")
    sub = (b"\x00\x01"
           b"\xa0\x02\x00\x04\x00\x00\x00\x01\x00\x00\x02\x80"    # 40962=640
           b"\x00\x00\x00\x00")
    tiff = b"MM\x00\x2a\x00\x00\x00\x08" + ifd0 + sub
    seg = b"Exif\x00\x00" + tiff
    jpeg = (b"\xff\xd8" + b"\xff\xe1" + _struct.pack(">H", len(seg) + 2)
            + seg + b"\xff\xd9")
    got = parse_exif(jpeg)
    assert got["orientation"] == 6 and got["pixel_x"] == 640
    assert got["make"] == "" and got["pixel_y"] is None

    # builder round-trip both byte orders; ASCII at TIFF-origin offsets
    for be in (False, True):
        t = build_exif_tiff(orientation=5, make="maker x",
                            datetime_s="2025:04:01 10:00:00",
                            pixel_x=11, pixel_y=22, big_endian=be)
        full = make_exif_jpeg(make_jpeg_pixels(16, 8),
                              orientation=5, make="maker x",
                              datetime_s="2025:04:01 10:00:00",
                              pixel_x=11, pixel_y=22, big_endian=be)
        m = parse_exif(full)
        assert m == {"orientation": 5, "make": "maker x",
                     "datetime": "2025:04:01 10:00:00",
                     "pixel_x": 11, "pixel_y": 22}
        assert t[:2] == (b"MM" if be else b"II")
        # splicing must not break the image itself
        assert decode_jpeg_pixels(full) is not None
    # exif-less and garbage
    assert parse_exif(make_jpeg_pixels(8, 8)) is None
    assert parse_exif(b"\xff\xd8\xff\xd9") is None
