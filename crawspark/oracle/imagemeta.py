"""Pure-Python image container-header parsing: real dimension decode with
zero codec dependencies.

Container headers are plain public byte layouts — PNG IHDR (RFC 2083
§3.1), GIF logical screen descriptor (GIF89a spec §18), JPEG SOFn frame
headers (ITU-T T.81 §B.2.2), BMP BITMAPINFOHEADER — so width/height/
format extraction is implemented for real and unit-tested against
hand-written byte vectors. This is the metadata a 100 TB media curation
pipeline actually filters on (resolution gates, aspect buckets) before
any pixel work. Pixels decode for real too, with no codec library: BMP,
PNG, GIF and TIFF here, JPEG in oracle/jpegcodec.py.
"""

from __future__ import annotations

import re
import struct

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# SOFn markers that carry frame dimensions: C0-C3, C5-C7, C9-CB, CD-CF
# (C4=DHT, C8=JPG extension, CC=DAC are not frame headers).
_JPEG_SOF = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
             0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}


def parse_image_dims(payload: bytes) -> tuple[str, int, int] | None:
    """(format, width, height) from the container header, or None when the
    payload is not a recognized image. Never raises."""
    try:
        if payload.startswith(_PNG_SIG) and len(payload) >= 24:
            # 8-byte sig, 4-byte chunk length, b"IHDR", then w/h as be32
            if payload[12:16] == b"IHDR":
                w, h = struct.unpack(">II", payload[16:24])
                return "png", w, h
            return None
        if payload[:6] in (b"GIF87a", b"GIF89a") and len(payload) >= 10:
            w, h = struct.unpack("<HH", payload[6:10])
            return "gif", w, h
        if payload[:2] == b"\xff\xd8":
            return _parse_jpeg(payload)
        if payload[:2] == b"BM" and len(payload) >= 26:
            w, h = struct.unpack("<ii", payload[18:26])
            return "bmp", w, abs(h)  # negative height = top-down rows
        if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
            return parse_webp_dims(payload)
        if payload[4:8] == b"ftyp":
            return parse_avif_dims(payload)
        if payload[:4] in (b"II\x2a\x00", b"MM\x00\x2a"):
            return parse_tiff_dims(payload)
        if payload[:4] == b"\x00\x00\x01\x00":
            return parse_ico_dims(payload)
        if b"<svg" in payload[:4096]:
            return parse_svg_dims(payload)
    except (struct.error, IndexError):
        return None
    return None


def _parse_jpeg(payload: bytes) -> tuple[str, int, int] | None:
    """Walk the marker stream to the first SOFn frame header: dimensions
    live at offset +5 (height be16) and +7 (width be16) past the length
    field (ITU-T T.81 §B.2.2)."""
    i = 2
    n = len(payload)
    while i + 4 <= n:
        if payload[i] != 0xFF:
            return None  # desynchronized marker stream
        marker = payload[i + 1]
        if marker == 0xFF:  # fill byte
            i += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2  # standalone markers carry no length
            continue
        if marker == 0xD9:  # EOI before any SOF
            return None
        seg_len = struct.unpack(">H", payload[i + 2:i + 4])[0]
        if seg_len < 2:
            return None
        if marker in _JPEG_SOF:
            if i + 9 > n:
                return None
            h, w = struct.unpack(">HH", payload[i + 5:i + 9])
            return "jpeg", w, h
        i += 2 + seg_len
    return None


# ---------------------------------------------------------------------------
# Deterministic synthesis (pure function of (fmt, w, h)) — the test/bench
# corpus generator; the registry oracle reproduces the dims arithmetic in
# closed-form SQL while Spark round-trips real bytes through the parser.
# ---------------------------------------------------------------------------

def make_image_bytes(fmt: str, w: int, h: int) -> bytes:
    """Minimal valid header bytes for a (fmt, w, h) image. Bodies are
    truncated/filler — enough for any header-level parser, deliberately
    not a full image (pixel decode is out of scope without codecs)."""
    if fmt == "png":
        ihdr = struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
        return (_PNG_SIG + struct.pack(">I", 13) + b"IHDR" + ihdr
                + b"\x00\x00\x00\x00")  # placeholder CRC (not validated)
    if fmt == "gif":
        return b"GIF89a" + struct.pack("<HH", w, h) + b"\xf7\x00\x00"
    if fmt == "jpeg":
        app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x02" \
            + b"\x00" + struct.pack(">HH", 72, 72) + b"\x00\x00"
        sof0 = b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" \
            + struct.pack(">HH", h, w) \
            + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01"
        return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"
    if fmt == "bmp":
        info = struct.pack("<IiiHH", 40, w, h, 1, 24) + b"\x00" * 24
        header = b"BM" + struct.pack("<IHHI", 14 + 40, 0, 0, 14 + 40)
        return header + info
    raise ValueError(f"unknown format {fmt!r}")


# ---------------------------------------------------------------------------
# Audio/video container headers (r4): WAV RIFF chunks and the ISO BMFF
# (MP4) box tree are equally library-free byte layouts — real duration /
# rate / dimension metadata without any codec.
# ---------------------------------------------------------------------------

def parse_wav_meta(payload: bytes) -> tuple[int, int, int] | None:
    """(channels, sample_rate, duration_ms) from a RIFF/WAVE header:
    walks chunks for "fmt " (format fields) and "data" (payload size →
    duration via byte rate). Never raises; None on non-WAV bytes."""
    try:
        if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
            return None
        channels = sample_rate = byte_rate = None
        data_size = None
        i = 12
        n = len(payload)
        while i + 8 <= n:
            cid = payload[i:i + 4]
            size = struct.unpack("<I", payload[i + 4:i + 8])[0]
            if cid == b"fmt " and size >= 16:
                channels, sample_rate, byte_rate = struct.unpack(
                    "<HII", payload[i + 10:i + 20])
            elif cid == b"data":
                data_size = size
            i += 8 + size + (size & 1)  # chunks are word-aligned
        if None in (channels, sample_rate, byte_rate, data_size) \
                or byte_rate == 0:
            return None
        return channels, sample_rate, data_size * 1000 // byte_rate
    except (struct.error, IndexError):
        return None


def parse_mp4_meta(payload: bytes) -> tuple[int, int, int] | None:
    """(duration_ms, width, height) from an ISO BMFF (MP4) box tree:
    moov/mvhd gives timescale+duration (version 0 or 1); moov/trak/tkhd
    gives 16.16 fixed-point presentation dims. Never raises."""
    try:
        mvhd = _find_box(payload, 0, len(payload), (b"moov", b"mvhd"))
        if mvhd is None:
            return None
        ver = payload[mvhd]
        if ver == 1:
            timescale = struct.unpack(">I", payload[mvhd + 20:mvhd + 24])[0]
            duration = struct.unpack(">Q", payload[mvhd + 24:mvhd + 32])[0]
        else:
            timescale, duration = struct.unpack(
                ">II", payload[mvhd + 12:mvhd + 20])
        if timescale == 0:
            return None
        w = h = 0
        tkhd = _find_box(payload, 0, len(payload), (b"moov", b"trak", b"tkhd"))
        if tkhd is not None:
            # ISO 14496-12 §8.3.2: after version+flags (4), v0 carries
            # 20 bytes of times/id/duration (v1: 32), then 8 reserved,
            # 8 layer/group/volume/reserved, 36 matrix → width at
            # verflags + 72 (v0) / + 84 (v1). (r4 review: was +76/+88
            # off-by-4, self-consistent only with the old generator.)
            off = tkhd + (88 if payload[tkhd] == 1 else 76)
            w16, h16 = struct.unpack(">II", payload[off:off + 8])
            w, h = w16 >> 16, h16 >> 16
        return duration * 1000 // timescale, w, h
    except (struct.error, IndexError):
        return None


def _find_box(data: bytes, start: int, end: int, path: tuple) -> int | None:
    """Byte offset of the BODY of the box at ``path`` (nested fourccs),
    walking [size u32be][type 4cc] headers (size 0 = to-end, size 1 =
    64-bit largesize)."""
    i = start
    while i + 8 <= end:
        size = struct.unpack(">I", data[i:i + 4])[0]
        box_type = data[i + 4:i + 8]
        body = i + 8
        if size == 1:
            size = struct.unpack(">Q", data[i + 8:i + 16])[0]
            body = i + 16
        elif size == 0:
            size = end - i
        if size < 8:
            return None
        if box_type == path[0]:
            if len(path) == 1:
                return body
            return _find_box(data, body, min(i + size, end), path[1:])
        i += size
    return None


# ---------------------------------------------------------------------------
# WebP + AVIF header decode (r5): the two dominant modern web image
# formats. WebP is RIFF-chunked (VP8 lossy keyframe / VP8L lossless /
# VP8X extended canvas); AVIF is ISO-BMFF with dims in meta/iprp/ipco/
# ispe — `meta` is a FullBox, so the walk skips its 4 version/flags
# bytes before descending (the plain _find_box walker would misparse).
# ---------------------------------------------------------------------------


def parse_webp_dims(payload: bytes) -> tuple[str, int, int] | None:
    """('webp', w, h) from a RIFF/WEBP container: VP8 lossy keyframe
    (3-byte frame tag, 9D 01 2A sync, 14-bit LE dims), VP8L lossless
    (0x2F signature byte, then w-1 / h-1 packed as 14-bit fields of a
    32-bit LE word), or VP8X extended (24-bit LE canvas minus one).
    None for anything else. Never raises."""
    try:
        if payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
            return None
        i = 12
        n = len(payload)
        while i + 8 <= n:
            cid = payload[i:i + 4]
            size = struct.unpack("<I", payload[i + 4:i + 8])[0]
            body = payload[i + 8:i + 8 + size]
            if cid == b"VP8 " and len(body) >= 10:
                if body[3:6] != b"\x9d\x01\x2a":  # keyframe start code
                    return None
                w = struct.unpack("<H", body[6:8])[0] & 0x3FFF
                h = struct.unpack("<H", body[8:10])[0] & 0x3FFF
                return ("webp", w, h)
            if cid == b"VP8L" and len(body) >= 5:
                if body[0] != 0x2F:  # lossless signature
                    return None
                bits = struct.unpack("<I", body[1:5])[0]
                return ("webp", (bits & 0x3FFF) + 1,
                        ((bits >> 14) & 0x3FFF) + 1)
            if cid == b"VP8X" and len(body) >= 10:
                w = 1 + int.from_bytes(body[4:7], "little")
                h = 1 + int.from_bytes(body[7:10], "little")
                return ("webp", w, h)
            i += 8 + size + (size & 1)  # RIFF even-offset padding
        return None
    except (struct.error, IndexError):
        return None


def parse_avif_dims(payload: bytes) -> tuple[str, int, int] | None:
    """('avif', w, h) from an ISO-BMFF AVIF: ftyp major brand avif/avis,
    dims from the ispe property (meta → iprp → ipco → ispe, where meta
    is a FullBox whose 4 version/flags bytes precede its children).
    Never raises."""
    try:
        ftyp = _find_box(payload, 0, len(payload), (b"ftyp",))
        if ftyp is None or payload[ftyp:ftyp + 4] not in (b"avif", b"avis"):
            return None
        meta = _find_box(payload, 0, len(payload), (b"meta",))
        if meta is None or meta < 8:
            return None
        size = struct.unpack(">I", payload[meta - 8:meta - 4])[0]
        if size < 8:  # largesize / to-end forms not used by meta
            return None
        end = min(meta - 8 + size, len(payload))
        ispe = _find_box(payload, meta + 4, end, (b"iprp", b"ipco", b"ispe"))
        if ispe is None:
            return None
        w, h = struct.unpack(">II", payload[ispe + 4:ispe + 12])
        return ("avif", w, h)
    except (struct.error, IndexError):
        return None


def make_webp_bytes(kind: str, w: int, h: int) -> bytes:
    """Minimal RIFF/WEBP of the given flavor ('vp8', 'vp8l', 'vp8x')."""
    if kind == "vp8":
        body = (b"\x00\x00\x00" + b"\x9d\x01\x2a"
                + struct.pack("<HH", w & 0x3FFF, h & 0x3FFF))
    elif kind == "vp8l":
        bits = (w - 1) | ((h - 1) << 14)
        body = b"\x2f" + struct.pack("<I", bits)
    elif kind == "vp8x":
        body = (b"\x00\x00\x00\x00"
                + (w - 1).to_bytes(3, "little")
                + (h - 1).to_bytes(3, "little"))
    else:
        raise ValueError(kind)
    cid = {"vp8": b"VP8 ", "vp8l": b"VP8L", "vp8x": b"VP8X"}[kind]
    chunk = cid + struct.pack("<I", len(body)) + body
    if len(body) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def make_avif_bytes(w: int, h: int) -> bytes:
    """Minimal AVIF: ftyp(avif) + meta FullBox{iprp{ipco{ispe}}}."""
    def box(t: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + t + body

    ispe = box(b"ispe", b"\x00\x00\x00\x00" + struct.pack(">II", w, h))
    meta = box(b"meta", b"\x00\x00\x00\x00"  # FullBox version/flags
               + box(b"iprp", box(b"ipco", ispe)))
    return box(b"ftyp", b"avif\x00\x00\x00\x00avifmif1") + meta


# ---------------------------------------------------------------------------
# TIFF + ICO + SVG dims (r5): the remaining web image containers. TIFF
# is an endian-tagged IFD walk (SHORT values are left-justified in the
# 4-byte field, so the same slice works for II and MM); ICO stores a
# dimension byte where 0 means 256; SVG is text — width/height
# attributes with optional units, else the viewBox.
# ---------------------------------------------------------------------------


def parse_tiff_dims(payload: bytes) -> tuple[str, int, int] | None:
    """('tiff', w, h) from the first IFD's ImageWidth (256) /
    ImageLength (257) tags, II or MM byte order, SHORT or LONG values.
    Never raises."""
    try:
        if payload[:4] == b"II\x2a\x00":
            e = "<"
        elif payload[:4] == b"MM\x00\x2a":
            e = ">"
        else:
            return None
        off = struct.unpack(e + "I", payload[4:8])[0]
        n = struct.unpack(e + "H", payload[off:off + 2])[0]
        w = h = None
        for i in range(n):
            ent = payload[off + 2 + 12 * i:off + 14 + 12 * i]
            if len(ent) < 12:
                return None
            tag, typ = struct.unpack(e + "HH", ent[:4])
            if tag in (256, 257):
                if typ == 3:  # SHORT, left-justified in the value field
                    val = struct.unpack(e + "H", ent[8:10])[0]
                elif typ == 4:  # LONG
                    val = struct.unpack(e + "I", ent[8:12])[0]
                else:
                    continue
                if tag == 256:
                    w = val
                else:
                    h = val
        return ("tiff", w, h) if w and h else None
    except (struct.error, IndexError):
        return None


def parse_ico_dims(payload: bytes) -> tuple[str, int, int] | None:
    """('ico', w, h) from the first directory entry; a 0 dimension byte
    means 256 (the format's one famous quirk). Never raises."""
    try:
        if payload[:4] != b"\x00\x00\x01\x00" or len(payload) < 8:
            return None
        count = struct.unpack("<H", payload[4:6])[0]
        if count == 0 or len(payload) < 6 + 16:
            return None
        w, h = payload[6], payload[7]
        return ("ico", w or 256, h or 256)
    except (struct.error, IndexError):
        return None


_RE_SVG_TAG = re.compile(rb"<svg\b[^>]*>", re.DOTALL)
_RE_SVG_W = re.compile(rb"""\bwidth\s*=\s*["']\s*([0-9.]+)\s*(%?)""")
_RE_SVG_H = re.compile(rb"""\bheight\s*=\s*["']\s*([0-9.]+)\s*(%?)""")
_RE_SVG_VB = re.compile(
    rb"""\bviewBox\s*=\s*["']\s*[0-9.+-]+[\s,]+[0-9.+-]+[\s,]+"""
    rb"""([0-9.]+)[\s,]+([0-9.]+)""")


def parse_svg_dims(payload: bytes) -> tuple[str, int, int] | None:
    """('svg', w, h) from the root <svg> tag: width/height attributes
    (leading number; units like 'px' ignored, but '%' is a fraction of
    the viewport, not a length — percentage dims fall through to the
    viewBox like missing ones; r5 review finding), falling back to the
    viewBox's third/fourth values. Never raises."""
    try:
        m = _RE_SVG_TAG.search(payload[:4096])
        if not m:
            return None
        tag = m.group(0)
        wm, hm = _RE_SVG_W.search(tag), _RE_SVG_H.search(tag)
        if wm and wm.group(2) == b"%":
            wm = None
        if hm and hm.group(2) == b"%":
            hm = None
        if wm and hm:
            return ("svg", int(round(float(wm.group(1)))),
                    int(round(float(hm.group(1)))))
        vb = _RE_SVG_VB.search(tag)
        if vb:
            return ("svg", int(round(float(vb.group(1)))),
                    int(round(float(vb.group(2)))))
        return None
    except (ValueError, IndexError):
        return None


def make_tiff_bytes(w: int, h: int, big_endian: bool = False) -> bytes:
    """Minimal single-IFD TIFF: width as SHORT, length as LONG (one of
    each value type on the parse path)."""
    e = ">" if big_endian else "<"
    magic = b"MM\x00\x2a" if big_endian else b"II\x2a\x00"
    entries = (
        struct.pack(e + "HHI", 256, 3, 1) + struct.pack(e + "H", w) + b"\x00\x00"
        + struct.pack(e + "HHI", 257, 4, 1) + struct.pack(e + "I", h))
    ifd = struct.pack(e + "H", 2) + entries + struct.pack(e + "I", 0)
    return magic + struct.pack(e + "I", 8) + ifd


def make_ico_bytes(w: int, h: int) -> bytes:
    """ICONDIR + one entry (dims 256 encode as 0)."""
    return (b"\x00\x00\x01\x00\x01\x00"
            + bytes((w % 256, h % 256)) + b"\x00\x00\x01\x00\x20\x00"
            + struct.pack("<II", 40, 22))


def make_svg_bytes(w: int, h: int, viewbox: bool = False) -> bytes:
    if viewbox:
        body = (f'<?xml version="1.0"?>\n<svg xmlns='
                f'"http://www.w3.org/2000/svg" viewBox="0 0 {w} {h}">'
                f"<rect/></svg>")
    else:
        body = (f'<svg width="{w}px" height="{h}px">'
                f"<circle r=\"4\"/></svg>")
    return body.encode("utf-8")


# ---------------------------------------------------------------------------
# MP3 + FLAC header decode (r5): the dominant compressed web audio
# formats. MP3 needs the ID3v2 skip (synchsafe size) before the first
# 11-bit frame sync; FLAC's STREAMINFO block carries bit-packed rate /
# channels / total-sample fields.
# ---------------------------------------------------------------------------

# MPEG-1 Layer III tables (ISO 11172-3): bitrate index -> kbps,
# sample-rate index -> Hz.
_MP3_BITRATES = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
                 224, 256, 320)
_MP3_RATES = (44100, 48000, 32000)


def parse_mp3_meta(payload: bytes):
    """(bitrate_kbps, sample_rate, est_duration_ms) from the first
    MPEG-1 Layer III frame header, skipping a leading ID3v2 tag (whose
    size is SYNCHSAFE: 4x7 bits). CBR estimate: duration = audio bytes
    * 8 / bitrate. None for anything unrecognized. Never raises."""
    try:
        i = 0
        if payload[:3] == b"ID3" and len(payload) >= 10:
            size = ((payload[6] << 21) | (payload[7] << 14)
                    | (payload[8] << 7) | payload[9])
            i = 10 + size  # tag header + synchsafe body size
        if i + 4 > len(payload):
            return None
        b0, b1, b2, _b3 = payload[i:i + 4]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            return None  # no frame sync
        if (b1 & 0x18) != 0x18 or (b1 & 0x06) != 0x02:
            return None  # only MPEG-1 Layer III
        br_idx, sr_idx = b2 >> 4, (b2 >> 2) & 0x03
        if br_idx in (0, 15) or sr_idx == 3:
            return None  # free-format / invalid
        bitrate = _MP3_BITRATES[br_idx]
        rate = _MP3_RATES[sr_idx]
        audio_bytes = len(payload) - i
        return bitrate, rate, audio_bytes * 8 // bitrate  # /1000*1000
    except (struct.error, IndexError):
        return None


def parse_flac_meta(payload: bytes):
    """(sample_rate, channels, total_samples, duration_ms) from FLAC
    STREAMINFO (the mandatory first metadata block): sample rate is 20
    bits, channels-1 is 3, bits-per-sample-1 is 5, total samples 36
    (RFC 9639 §8.2). None for non-FLAC. Never raises."""
    try:
        if payload[:4] != b"fLaC" or len(payload) < 4 + 4 + 34:
            return None
        btype = payload[4] & 0x7F
        size = int.from_bytes(payload[5:8], "big")
        if btype != 0 or size < 34:
            return None  # STREAMINFO must come first
        info = payload[8:8 + 34]
        bits = int.from_bytes(info[10:18], "big")  # 64 bits from byte 10
        rate = bits >> 44
        channels = ((bits >> 41) & 0x07) + 1
        total = bits & ((1 << 36) - 1)
        if rate == 0:
            return None
        return rate, channels, total, total * 1000 // rate
    except (struct.error, IndexError):
        return None


def make_mp3_bytes(bitrate_kbps: int, sample_rate: int, n_frames: int,
                   id3_size: int = 0) -> bytes:
    """CBR MPEG-1 Layer III stream: optional ID3v2 tag (synchsafe size)
    + n_frames frames of 144*bitrate/rate bytes each (no padding)."""
    out = bytearray()
    if id3_size:
        out += (b"ID3\x04\x00\x00"
                + bytes(((id3_size >> 21) & 0x7F, (id3_size >> 14) & 0x7F,
                         (id3_size >> 7) & 0x7F, id3_size & 0x7F))
                + b"\x00" * id3_size)
    br_idx = _MP3_BITRATES.index(bitrate_kbps)
    sr_idx = _MP3_RATES.index(sample_rate)
    header = bytes((0xFF, 0xFB, (br_idx << 4) | (sr_idx << 2), 0x00))
    frame_len = 144 * bitrate_kbps * 1000 // sample_rate
    frame = header + bytes(frame_len - 4)
    for _ in range(n_frames):
        out += frame
    return bytes(out)


def make_flac_bytes(sample_rate: int, channels: int,
                    total_samples: int) -> bytes:
    """fLaC magic + last-block STREAMINFO with the bit-packed fields."""
    bits = (sample_rate << 44) | ((channels - 1) << 41) | (15 << 36) \
        | total_samples
    info = bytes(10) + bits.to_bytes(8, "big") + bytes(16)
    return b"fLaC" + bytes([0x80]) + (34).to_bytes(3, "big") + info


def make_wav_bytes(channels: int, sample_rate: int,
                   duration_ms: int) -> bytes:
    """Minimal RIFF/WAVE (PCM16) header + truncated data chunk sized for
    the requested duration (header-level synthesis; no samples)."""
    byte_rate = sample_rate * channels * 2
    data_size = byte_rate * duration_ms // 1000
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate, byte_rate,
                      channels * 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt \
        + b"data" + struct.pack("<I", data_size)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + body


def make_mp4_bytes(duration_ms: int, w: int, h: int,
                   timescale: int = 1000) -> bytes:
    """Minimal ISO BMFF: ftyp + moov{mvhd v0, trak{tkhd v0}}."""
    def box(t: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + t + body

    duration = duration_ms * timescale // 1000
    mvhd = box(b"mvhd", b"\x00\x00\x00\x00" + b"\x00" * 8
               + struct.pack(">II", timescale, duration) + b"\x00" * 80)
    tkhd = box(b"tkhd", b"\x00\x00\x00\x07" + b"\x00" * 72
               + struct.pack(">II", w << 16, h << 16))
    moov = box(b"moov", mvhd + box(b"trak", tkhd))
    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    return ftyp + moov


# ---------------------------------------------------------------------------
# REAL pixel decode for uncompressed 24-bit BMP (r5): BI_RGB needs no
# codec library — rows are raw BGR triples, bottom-up, each padded to a
# 4-byte boundary (Windows BITMAPINFOHEADER layout). This converts one
# slice of the "pixel decode is env-blocked" seam into working code; the
# compressed codecs are real too (PNG/GIF below, baseline JPEG in
# jpegcodec.py), so no documented NotImplementedError seam remains for
# pixels.
# ---------------------------------------------------------------------------

def make_bmp_pixels(w: int, h: int) -> bytes:
    """Full uncompressed 24bpp BMP with a deterministic gradient:
    at image coordinate (x, y) — (0,0) = TOP-left — the channels are
    B = x % 256, G = y % 256, R = (x + 2*y) % 256. Rows are stored
    bottom-up with 4-byte padding, exactly per the format."""
    stride = (w * 3 + 3) & ~3
    rows = bytearray()
    for yy in range(h - 1, -1, -1):  # bottom-up storage order
        row = bytearray()
        for x in range(w):
            row += bytes(((x % 256), (yy % 256), ((x + 2 * yy) % 256)))
        row += b"\x00" * (stride - len(row))
        rows += row
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows),
                       2835, 2835, 0, 0)
    header = b"BM" + struct.pack("<IHHI", 14 + 40 + len(rows), 0, 0,
                                 14 + 40)
    return header + info + bytes(rows)


def decode_bmp_pixels(payload: bytes):
    """(w, h, mean_r, mean_g, mean_b, sample_rgb) from an uncompressed
    24bpp bottom-up BMP — real pixel access: honors the pixel-array
    offset from the file header, the 4-byte row stride, bottom-up row
    order and BGR channel order. sample_rgb is image pixel (1, 2)
    (top-left origin). None for anything but BI_RGB 24bpp."""
    try:
        if payload[:2] != b"BM":
            return None
        off = struct.unpack("<I", payload[10:14])[0]
        hdr = struct.unpack("<IiiHHI", payload[14:34])
        _, w, h, _planes, bpp, compression = hdr
        if bpp != 24 or compression != 0 or w <= 0 or h == 0:
            return None
        top_down = h < 0
        h = abs(h)
        stride = (w * 3 + 3) & ~3
        sums = [0, 0, 0]  # b, g, r
        sample = None
        for y in range(h):  # y = image row, top-left origin
            src_row = y if top_down else h - 1 - y
            base = off + src_row * stride
            row = payload[base:base + w * 3]
            for x in range(w):
                b, g, r = row[x * 3], row[x * 3 + 1], row[x * 3 + 2]
                sums[0] += b
                sums[1] += g
                sums[2] += r
                if x == 1 and y == 2:
                    sample = (r, g, b)
        n = w * h
        return (w, h, sums[2] / n, sums[1] / n, sums[0] / n, sample)
    except (IndexError, struct.error):
        return None


# ---------------------------------------------------------------------------
# REAL pixel decode for PNG truecolor-8 (r5): PNG's compression is
# deflate — stdlib zlib — plus five per-row byte filters (RFC 2083 §6),
# so full pixel access needs no codec library either. The generator
# cycles through ALL filter types (None/Sub/Up/Average/Paeth) so the
# decoder's every unfilter path is exercised; filtering is lossless, so
# the closed-form gradient oracle still holds. (JPEG: jpegcodec.py.)
# ---------------------------------------------------------------------------

def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    import zlib as _z
    return (struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", _z.crc32(ctype + body) & 0xFFFFFFFF))


def _png_filter_row(ftype: int, row: bytes, prev: bytes,
                    bpp: int = 3) -> bytes:
    """Apply PNG filter ``ftype`` to a raw row (encoder side)."""
    out = bytearray()
    for i, x in enumerate(row):
        a = row[i - bpp] if i >= bpp else 0
        b = prev[i]
        c = prev[i - bpp] if i >= bpp else 0
        if ftype == 0:
            out.append(x)
        elif ftype == 1:
            out.append((x - a) & 0xFF)
        elif ftype == 2:
            out.append((x - b) & 0xFF)
        elif ftype == 3:
            out.append((x - ((a + b) >> 1)) & 0xFF)
        else:  # Paeth
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            out.append((x - pred) & 0xFF)
    return bytes(out)


# Adam7 pass grid (RFC 2083 §2.6): (x0, y0, dx, dy) per pass; each pass
# is an independently filtered sub-image, empty passes contribute no
# bytes at all.
ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
         (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _gradient_px(x: int, y: int) -> bytes:
    return bytes((((x + 2 * y) % 256), (y % 256), (x % 256)))


def make_png_pixels(w: int, h: int, interlace: bool = False) -> bytes:
    """Real PNG (truecolor 8-bit) with the same deterministic gradient
    as make_bmp_pixels — R = (x + 2*y) % 256, G = y % 256, B = x % 256 —
    rows filtered cycling through types 0..4 (all five unfilter paths
    exercised on decode) and deflate-compressed into one IDAT.
    ``interlace`` emits the seven Adam7 sub-images instead of the
    sequential rows (same pixels, so the closed forms hold)."""
    import zlib as _z

    raw = bytearray()
    fcount = 0
    passes = ADAM7 if interlace else ((0, 0, 1, 1),)
    for x0, y0, dx, dy in passes:
        xs = range(x0, w, dx)
        ys = range(y0, h, dy)
        if not xs or not ys:
            continue
        prev = bytes(len(xs) * 3)
        for y in ys:
            row = b"".join(_gradient_px(x, y) for x in xs)
            ftype = fcount % 5
            fcount += 1
            raw.append(ftype)
            raw += _png_filter_row(ftype, row, prev)
            prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0,
                       1 if interlace else 0)
    return (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", _z.compress(bytes(raw)))
            + _png_chunk(b"IEND", b""))


def _png_unfilter(raw: bytes, pos: int, n_px: int,
                  n_rows: int, bpp: int = 3) -> tuple[list[bytearray], int] | None:
    """Unfilter ``n_rows`` rows of ``n_px`` pixels starting at ``pos``
    in the inflated stream (RFC 2083 §6, all five filter types).
    Returns (rows, next_pos); None when the stream is short."""
    stride = n_px * bpp
    rows: list[bytearray] = []
    prev = bytearray(stride)
    for _ in range(n_rows):
        if pos + 1 + stride > len(raw):
            return None
        ftype = raw[pos]
        row = bytearray(raw[pos + 1:pos + 1 + stride])
        pos += 1 + stride
        if ftype == 1:      # Sub
            for i2 in range(bpp, stride):
                row[i2] = (row[i2] + row[i2 - bpp]) & 0xFF
        elif ftype == 2:    # Up
            for i2 in range(stride):
                row[i2] = (row[i2] + prev[i2]) & 0xFF
        elif ftype == 3:    # Average
            for i2 in range(stride):
                a = row[i2 - bpp] if i2 >= bpp else 0
                row[i2] = (row[i2] + ((a + prev[i2]) >> 1)) & 0xFF
        elif ftype == 4:    # Paeth
            for i2 in range(stride):
                a = row[i2 - bpp] if i2 >= bpp else 0
                b = prev[i2]
                c = prev[i2 - bpp] if i2 >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = (a if pa <= pb and pa <= pc
                        else (b if pb <= pc else c))
                row[i2] = (row[i2] + pred) & 0xFF
        elif ftype != 0:
            return None
        rows.append(row)
        prev = row
    return rows, pos


def decode_png_pixels(payload: bytes):
    """(w, h, mean_r, mean_g, mean_b, sample_rgb) from a truecolor-8 PNG:
    chunk walk → IDAT concat → zlib inflate → per-row unfilter (all five
    RFC 2083 filter types, bpp=3), Adam7 interlacing deinterleaved
    (each pass unfilters as its own sub-image, §2.6). sample_rgb =
    image pixel (1, 2). None for non-PNG bytes or other color types /
    bit depths."""
    import zlib as _z

    try:
        if payload[:8] != b"\x89PNG\r\n\x1a\n":
            return None
        i = 8
        w = h = None
        interlace = 0
        idat = bytearray()
        while i + 8 <= len(payload):
            ln = struct.unpack(">I", payload[i:i + 4])[0]
            ctype = payload[i + 4:i + 8]
            body = payload[i + 8:i + 8 + ln]
            if ctype == b"IHDR":
                w, h, depth, color = struct.unpack(">IIBB", body[:10])
                interlace = body[12]
                if depth != 8 or color != 2 or interlace > 1:
                    return None
            elif ctype == b"IDAT":
                idat += body
            elif ctype == b"IEND":
                break
            i += 12 + ln
        if not (w and h and idat):
            return None
        raw = _z.decompress(bytes(idat))
        if interlace:
            img = [bytearray(w * 3) for _ in range(h)]
            pos = 0
            for x0, y0, dx, dy in ADAM7:
                xs = range(x0, w, dx)
                ys = range(y0, h, dy)
                if not xs or not ys:
                    continue
                got = _png_unfilter(raw, pos, len(xs), len(ys))
                if got is None:
                    return None
                sub, pos = got
                for ri, y in enumerate(ys):
                    row = sub[ri]
                    for ci, x in enumerate(xs):
                        img[y][x * 3:x * 3 + 3] = row[ci * 3:ci * 3 + 3]
            rows = img
        else:
            got = _png_unfilter(raw, 0, w, h)
            if got is None:
                return None
            rows = got[0]
        sums = [0, 0, 0]
        sample = None
        for y in range(h):
            row = rows[y]
            for x in range(w):
                r, g, b2 = row[x * 3], row[x * 3 + 1], row[x * 3 + 2]
                sums[0] += r
                sums[1] += g
                sums[2] += b2
                if x == 1 and y == 2:
                    sample = (r, g, b2)
        n = w * h
        return (w, h, sums[0] / n, sums[1] / n, sums[2] / n, sample)
    except (IndexError, struct.error, _z.error):
        return None


# ---------------------------------------------------------------------------
# REAL pixel decode for GIF87a/89a (r5): GIF's only compression is LZW —
# LSB-first variable-width codes (9→12 bits for a 256-color table),
# CLEAR/EOI codes, data sub-blocks — implementable from the published
# spec with no codec library. Width synchronization follows the
# documented convention (giflib): BOTH sides track the encoder's
# next-code counter (the decoder counts codes READ, which mirrors the
# encoder's table size one step ahead of its own) and widen when the
# counter reaches 2^width. The decoder is additionally pinned by a
# hand-packed literal byte vector (tests), not just round-trips.
# With PNG, BMP and baseline JPEG (jpegcodec.py) all pixels decode.
# ---------------------------------------------------------------------------

def _gif_lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = nbits = 0

    width = min_code_size + 1
    next_code = eoi + 1

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits  # LSB-first packing
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    emit(clear)
    w = indices[:1]
    for k in indices[1:]:
        wk = w + bytes([k])
        if wk in table:
            w = wk
            continue
        emit(table[w])
        table[wk] = next_code
        next_code += 1
        if next_code >= (1 << width) and width < 12:
            width += 1
        if next_code >= 4096:  # table full: reset mid-stream
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            width = min_code_size + 1
            next_code = eoi + 1
        w = bytes([k])
    emit(table[w])
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def gif_interlace_rows(h: int) -> list[int]:
    """GIF89a Appendix E four-pass row order: 0,8,16… then 4,12… then
    2,6,10… then the odd rows — the order interlaced row data is
    STORED in."""
    order = []
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        order.extend(range(start, h, step))
    return order


def make_gif_pixels(w: int, h: int, interlace: bool = False,
                    local_palette: bool = False) -> bytes:
    """Real GIF89a with a 256-entry palette (palette[i] = (i, 255-i, i))
    and the deterministic index gradient idx(x, y) = (x + 2*y) % 256 —
    same closed-form channel means as the BMP/PNG twins with G
    mirrored: mean_r = mean_b = (w-1)/2 + (h-1), mean_g = 255 - mean_r
    (no wraparound while w + 2h <= 256). ``interlace`` stores rows in
    the four-pass Appendix E order; ``local_palette`` attaches the
    table to the image descriptor instead of the screen."""
    palette = bytearray()
    for i in range(256):
        palette += bytes((i, 255 - i, i))
    row_order = gif_interlace_rows(h) if interlace else range(h)
    indices = bytes(((x + 2 * y) % 256)
                    for y in row_order for x in range(w))
    lzw = _gif_lzw_encode(indices, 8)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i:i + 255]
        blocks += bytes([len(chunk)]) + chunk
    blocks += b"\x00"
    ipacked = (0x40 if interlace else 0) | (0x87 if local_palette else 0)
    out = bytearray(b"GIF89a" + struct.pack("<HH", w, h))
    if local_palette:
        out += b"\x00\x00\x00"  # no global color table
    else:
        out += b"\xf7\x00\x00" + bytes(palette)
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + bytes([ipacked])
    if local_palette:
        out += bytes(palette)
    out += b"\x08" + bytes(blocks) + b"\x3b"
    return bytes(out)


def gif_lzw_decode(data: bytes, min_code_size: int) -> bytes | None:
    """GIF LZW decode (LSB-first, variable width, CLEAR/EOI). Returns
    None on a desynchronized stream."""
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    next_code = eoi + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    acc = nbits = 0
    prev: bytes | None = None
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = table[:eoi + 1]
                width = min_code_size + 1
                next_code = eoi + 1
                prev = None
                continue
            if code == eoi:
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    return None
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):  # KwKwK
                entry = prev + prev[:1]
                table.append(entry)
            else:
                return None
            out += entry
            prev = entry
            # width sync (giflib convention): count codes processed —
            # mirrors the ENCODER's next-code counter, which runs one
            # entry ahead of this decoder's own table
            next_code += 1
            if next_code >= (1 << width) and width < 12:
                width += 1
            if next_code >= 4096:
                # encoder resets here; the next code MUST be clear
                # (handled above when it arrives)
                pass
    return bytes(out)


def decode_gif_pixels(payload: bytes):
    """(w, h, mean_r, mean_g, mean_b, sample_rgb) from a GIF87a/89a:
    header walk → image descriptor → LZW decode → palette lookup, with
    four-pass interlacing deinterleaved and a local color table taking
    precedence over the global one (GIF89a §20-21). sample_rgb is image
    pixel (1, 2). None for non-GIF or paletteless bytes."""
    try:
        if payload[:6] not in (b"GIF87a", b"GIF89a"):
            return None
        packed = payload[10]
        i = 13
        palette = b""
        if packed & 0x80:
            gct_size = 2 << (packed & 0x07)
            palette = payload[i:i + gct_size * 3]
            i += gct_size * 3
        # skip extension blocks to the image descriptor
        while i < len(payload):
            b0 = payload[i]
            if b0 == 0x2C:
                break
            if b0 == 0x21:  # extension: label + sub-blocks
                i += 2
                while payload[i] != 0:
                    i += 1 + payload[i]
                i += 1
            elif b0 == 0x3B:
                return None
            else:
                return None
        w, h = struct.unpack("<HH", payload[i + 5:i + 9])
        ipacked = payload[i + 9]
        i += 10
        if ipacked & 0x80:  # local color table overrides the global
            lct_size = 2 << (ipacked & 0x07)
            palette = payload[i:i + lct_size * 3]
            i += lct_size * 3
        if not palette:
            return None
        interlaced = bool(ipacked & 0x40)
        min_code_size = payload[i]
        i += 1
        lzw = bytearray()
        while payload[i] != 0:
            n = payload[i]
            lzw += payload[i + 1:i + 1 + n]
            i += 1 + n
        indices = gif_lzw_decode(bytes(lzw), min_code_size)
        if indices is None or len(indices) < w * h:
            return None
        # a stream may emit indices past a short color table (legal
        # encoders never do, corrupt crawl bytes can) — reject instead
        # of letting the palette slice underfill the (r,g,b) unpack
        # (r5 review finding: ValueError escaped the except tuple)
        if max(indices[:w * h]) * 3 + 3 > len(palette):
            return None
        if interlaced:
            rows = [b""] * h
            for seq, y in enumerate(gif_interlace_rows(h)):
                rows[y] = indices[seq * w:(seq + 1) * w]
            indices = b"".join(rows)
        sums = [0, 0, 0]
        sample = None
        for y in range(h):
            for x in range(w):
                idx = indices[y * w + x]
                r, g, b = palette[idx * 3:idx * 3 + 3]
                sums[0] += r
                sums[1] += g
                sums[2] += b
                if x == 1 and y == 2:
                    sample = (r, g, b)
        n = w * h
        return (w, h, sums[0] / n, sums[1] / n, sums[2] / n, sample)
    except (IndexError, struct.error, ValueError):
        return None


# ---------------------------------------------------------------------------
# REAL pixel decode for TIFF (r5, second session): the scanned-document
# container. Strip-based: each strip decompresses independently —
# Compression 1 (none), 5 (TIFF LZW = the MSB-first variable-width code
# PDF /LZWDecode inherited, reused from oracle/pdfparse), 32773
# (PackBits, TIFF 6.0 §9) for 8-bit gray/RGB; Compression 2 (CCITT MH,
# byte-aligned rows, no EOLs), 3 (T.4 G3, /T4Options bit 0 = 2D, bit 2
# = fill-to-byte) and 4 (T.6 G4) for bilevel fax through the
# from-scratch ccittcodec. Predictor 2 (horizontal differencing,
# TIFF 6.0 §14) is undone before sample use.
# ---------------------------------------------------------------------------


def packbits_decode(data: bytes, expected: int) -> bytes | None:
    """TIFF 6.0 §9 PackBits: n in 0..127 → copy n+1 literal bytes;
    n in -127..-1 → repeat next byte 1-n times; -128 is a no-op."""
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < expected:
        n = data[i] - 256 if data[i] > 127 else data[i]
        i += 1
        if n >= 0:
            if i + n + 1 > len(data):
                return None
            out += data[i:i + n + 1]
            i += n + 1
        elif n != -128:
            if i >= len(data):
                return None
            out += bytes([data[i]]) * (1 - n)
            i += 1
    return bytes(out) if len(out) == expected else None


def packbits_encode(data: bytes) -> bytes:
    """Run-length PackBits encoder (runs >= 3 coded as repeats)."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        lit_start = i
        while i < n and i - lit_start < 128:
            run = 1
            while i + run < n and run < 3 and data[i + run] == data[i]:
                run += 1
            if run >= 3:
                break
            i += 1
        out += bytes([i - lit_start - 1]) + data[lit_start:i]
    return bytes(out)


def tiff_lzw_encode(data: bytes) -> bytes:
    """TIFF 6.0 §13 LZW: MSB-first bit packing, 9→12-bit codes, 256 =
    clear, 257 = EOI, width grows one code early (EarlyChange=1 — the
    TIFF behavior PDF inherited). Inverse of pdfparse._lzw_decode."""
    out_bits = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out_bits.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    emit(256, width)  # leading clear (TIFF requires it)
    prev = b""
    for byte in data:
        cur = prev + bytes([byte])
        if cur in table:
            prev = cur
            continue
        emit(table[prev], width)
        table[cur] = next_code
        next_code += 1
        # the DECODER's table runs one entry behind the encoder's (it
        # cannot build an entry until the next code arrives), and it
        # widens early (EarlyChange=1) when ITS count hits 2^w - 1 —
        # which is the moment the ENCODER's next_code hits 2^w
        if next_code == (1 << width) and width < 12:
            width += 1
        elif next_code == 4095:  # decoder table at 4094: reset both sides
            emit(256, width)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        prev = bytes([byte])
    if prev:
        emit(table[prev], width)
        # the decoder completes its pending entry on this final code,
        # catching its table up to next_code, and (EarlyChange) widens
        # when that count reaches 2^w - 1 — one step EARLIER than the
        # encoder's in-loop check, so the EOI must be emitted one bit
        # wider exactly at that boundary (765/1789/... appends since
        # the last clear) or the decoder reads it at w+1 and trails
        # garbage (r5 review finding, reproduced at 765 appends)
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
    emit(257, width)  # EOI
    if nbits:
        out_bits.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out_bits)


def _tiff_gradient_row(y: int, w: int, gray: bool) -> bytes:
    row = bytearray()
    for x in range(w):
        if gray:
            row.append((x + 3 * y) % 256)
        else:
            row += bytes((((x + 2 * y) % 256), (y % 256), (x % 256)))
    return bytes(row)


def _ifd_bytes(e: str, entries: list[tuple[int, int, int, bytes]],
               data_start: int) -> tuple[bytes, bytes]:
    """(ifd, data_area) from (tag, type, count, value_bytes) entries;
    values longer than 4 bytes are placed in the data area at
    ``data_start`` and referenced by offset."""
    data = bytearray()
    out = struct.pack(e + "H", len(entries))
    for tag, typ, count, val in sorted(entries):
        if len(val) <= 4:
            field = val + b"\x00" * (4 - len(val))
        else:
            field = struct.pack(e + "I", data_start + len(data))
            data += val
        out += struct.pack(e + "HHI", tag, typ, count) + field
    return out + struct.pack(e + "I", 0), bytes(data)


def make_tiff_pixels(w: int, h: int, compression: int = 1,
                     gray: bool = False, predictor: int = 1,
                     rows_per_strip: int = 5,
                     big_endian: bool = False) -> bytes:
    """Real strip-based TIFF with the deterministic gradient
    (RGB: (x+2y)%256, y%256, x%256; gray: (x+3y)%256), one of
    Compression 1/5/32773 per strip, optional horizontal-differencing
    predictor (LZW path)."""
    e = ">" if big_endian else "<"
    spp = 1 if gray else 3
    strips: list[bytes] = []
    for y0 in range(0, h, rows_per_strip):
        raw = bytearray()
        for y in range(y0, min(y0 + rows_per_strip, h)):
            row = _tiff_gradient_row(y, w, gray)
            if predictor == 2:
                row = bytearray(row)
                for i in range(len(row) - 1, spp - 1, -1):
                    row[i] = (row[i] - row[i - spp]) & 0xFF
                row = bytes(row)
            raw += row
        if compression == 5:
            strips.append(tiff_lzw_encode(bytes(raw)))
        elif compression == 32773:
            strips.append(packbits_encode(bytes(raw)))
        else:
            strips.append(bytes(raw))
    n_strips = len(strips)
    header = 8
    # layout: header | IFD+data | strip data
    offsets: list[int] = []
    entries: list[tuple[int, int, int, bytes]] = [
        (256, 4, 1, struct.pack(e + "I", w)),
        (257, 4, 1, struct.pack(e + "I", h)),
        (258, 3, spp, b"".join(struct.pack(e + "H", 8)
                               for _ in range(spp))),
        (259, 3, 1, struct.pack(e + "H", compression)),
        (262, 3, 1, struct.pack(e + "H", 1 if gray else 2)),
        (277, 3, 1, struct.pack(e + "H", spp)),
        (278, 4, 1, struct.pack(e + "I", rows_per_strip)),
        (279, 4, n_strips, b"".join(struct.pack(e + "I", len(s))
                                    for s in strips)),
        (317, 3, 1, struct.pack(e + "H", predictor)),
    ]
    # two passes: IFD size depends only on entry count, strip offsets on
    # IFD+data size — compute with placeholder offsets first
    placeholder = [(273, 4, n_strips,
                    b"".join(struct.pack(e + "I", 0) for _ in strips))]
    ifd0, data0 = _ifd_bytes(e, entries + placeholder, 0)
    strips_start = header + len(ifd0) + len(data0)
    pos = strips_start
    for s in strips:
        offsets.append(pos)
        pos += len(s)
    real = [(273, 4, n_strips,
             b"".join(struct.pack(e + "I", o) for o in offsets))]
    ifd, data = _ifd_bytes(e, entries + real, header + len(ifd0))
    magic = b"MM\x00\x2a" if big_endian else b"II\x2a\x00"
    return (magic + struct.pack(e + "I", header) + ifd + data
            + b"".join(strips))


def make_tiff_fax(w: int, h: int, x0: int, bw: int, y0: int, bh: int,
                  compression: int = 4, t4_2d: bool = False,
                  fill_align: bool = False,
                  rows_per_strip: int = 6) -> bytes:
    """Bilevel fax TIFF (PhotometricInterpretation 0 = WhiteIsZero):
    white page, black rectangle [x0,x0+bw) x [y0,y0+bh). Compression 2
    = MH byte-aligned rows, 3 = T.4 (optionally 2D / fill-aligned via
    /T4Options), 4 = T.6. Each strip is an independent bitstream."""
    from crawspark.oracle.ccittcodec import encode_g3, encode_g4

    strips: list[bytes] = []
    for ys in range(0, h, rows_per_strip):
        rows_px = []
        for y in range(ys, min(ys + rows_per_strip, h)):
            row = bytearray([1]) * w
            if y0 <= y < y0 + bh:
                for x in range(x0, min(x0 + bw, w)):
                    row[x] = 0
            rows_px.append(bytes(row))
        if compression == 2:
            strips.append(encode_g3(rows_px, w, k=0, byte_align=True,
                                    with_eol=False))
        elif compression == 3:
            strips.append(encode_g3(rows_px, w, k=4 if t4_2d else 0,
                                    byte_align=fill_align))
        else:
            strips.append(encode_g4(rows_px, w))
    e = "<"
    t4opts = (1 if t4_2d else 0) | (4 if fill_align else 0)
    entries: list[tuple[int, int, int, bytes]] = [
        (256, 4, 1, struct.pack(e + "I", w)),
        (257, 4, 1, struct.pack(e + "I", h)),
        (258, 3, 1, struct.pack(e + "H", 1)),
        (259, 3, 1, struct.pack(e + "H", compression)),
        (262, 3, 1, struct.pack(e + "H", 0)),  # WhiteIsZero
        (277, 3, 1, struct.pack(e + "H", 1)),
        (278, 4, 1, struct.pack(e + "I", rows_per_strip)),
        (279, 4, len(strips), b"".join(struct.pack(e + "I", len(s))
                                       for s in strips)),
    ]
    if compression == 3:
        entries.append((292, 4, 1, struct.pack(e + "I", t4opts)))
    placeholder = [(273, 4, len(strips),
                    b"".join(struct.pack(e + "I", 0) for _ in strips))]
    ifd0, data0 = _ifd_bytes(e, entries + placeholder, 0)
    strips_start = 8 + len(ifd0) + len(data0)
    offsets = []
    pos = strips_start
    for s in strips:
        offsets.append(pos)
        pos += len(s)
    real = [(273, 4, len(strips),
             b"".join(struct.pack(e + "I", o) for o in offsets))]
    ifd, data = _ifd_bytes(e, entries + real, 8 + len(ifd0))
    return (b"II\x2a\x00" + struct.pack(e + "I", 8) + ifd + data
            + b"".join(strips))


def _tiff_tag_values(e: str, typ: int, count: int, field: bytes,
                     payload: bytes) -> list[int] | None:
    size = {3: 2, 4: 4}.get(typ)
    if size is None:
        return None
    fmt = e + ("H" if typ == 3 else "I")
    if size * count <= 4:
        return [struct.unpack(fmt, field[i * size:(i + 1) * size])[0]
                for i in range(count)]
    off = struct.unpack(e + "I", field)[0]
    if off + size * count > len(payload):
        return None
    return [struct.unpack(fmt, payload[off + i * size:
                                       off + (i + 1) * size])[0]
            for i in range(count)]


def decode_tiff_pixels(payload: bytes):
    """(w, h, mean_r, mean_g, mean_b, sample_rgb) from a strip-based
    TIFF: IFD walk → per-strip decompress (none / LZW / PackBits for
    8-bit gray+RGB; CCITT MH / T.4 / T.6 for bilevel fax) → predictor
    undo → sample means. Gray and bilevel replicate across channels;
    bilevel maps through PhotometricInterpretation (0 = WhiteIsZero).
    sample_rgb = pixel (1, 2). None on anything malformed/unsupported."""
    from crawspark.oracle.ccittcodec import decode_g3, decode_g4
    from crawspark.oracle.pdfparse import _lzw_decode

    try:
        if payload[:4] == b"II\x2a\x00":
            e = "<"
        elif payload[:4] == b"MM\x00\x2a":
            e = ">"
        else:
            return None
        off = struct.unpack(e + "I", payload[4:8])[0]
        n = struct.unpack(e + "H", payload[off:off + 2])[0]
        tags: dict[int, list[int]] = {}
        for i in range(n):
            ent = payload[off + 2 + 12 * i:off + 14 + 12 * i]
            if len(ent) < 12:
                return None
            tag, typ = struct.unpack(e + "HH", ent[:4])
            count = struct.unpack(e + "I", ent[4:8])[0]
            vals = _tiff_tag_values(e, typ, count, ent[8:12], payload)
            if vals is not None:
                tags[tag] = vals
        w = tags.get(256, [0])[0]
        h = tags.get(257, [0])[0]
        comp = tags.get(259, [1])[0]
        photo = tags.get(262, [1])[0]
        spp = tags.get(277, [1])[0]
        bits = tags.get(258, [1])
        rps = tags.get(278, [h or 1])[0] or (h or 1)
        offsets = tags.get(273)
        counts = tags.get(279)
        predictor = tags.get(317, [1])[0]
        t4opts = tags.get(292, [0])[0]
        if not (w and h and offsets and counts) \
                or len(offsets) != len(counts):
            return None
        bilevel = comp in (2, 3, 4)
        if bilevel:
            if bits != [1] or spp != 1:
                return None
        elif bits != [8] * spp or spp not in (1, 3):
            return None
        rows: list[bytes] = []
        for si, (so, sc) in enumerate(zip(offsets, counts)):
            data = payload[so:so + sc]
            if len(data) != sc:
                return None
            n_rows = min(rps, h - si * rps)
            if bilevel:
                if comp == 4:
                    px = decode_g4(data, w, rows=n_rows)
                elif comp == 3:
                    px = decode_g3(data, w, rows=n_rows,
                                   k=4 if t4opts & 1 else 0,
                                   byte_align=bool(t4opts & 4))
                else:  # MH: byte-aligned rows, no EOLs
                    px = decode_g3(data, w, rows=n_rows, byte_align=True)
                if px is None or len(px) != n_rows:
                    return None
                for r in px:
                    # WhiteIsZero: white (1 in codec space) → sample 0;
                    # sample 0 renders white → gray value 255 - 255*s
                    if photo == 0:
                        rows.append(bytes(255 if v else 0 for v in r))
                    else:
                        rows.append(bytes(0 if v else 255 for v in r))
                continue
            stride = w * spp
            if comp == 5:
                data = _lzw_decode(data)
            elif comp == 32773:
                data = packbits_decode(data, n_rows * stride)
            elif comp != 1:
                return None
            if data is None or len(data) < n_rows * stride:
                return None
            for ri in range(n_rows):
                row = bytearray(data[ri * stride:(ri + 1) * stride])
                if predictor == 2:
                    for i2 in range(spp, stride):
                        row[i2] = (row[i2] + row[i2 - spp]) & 0xFF
                rows.append(bytes(row))
        if len(rows) != h:
            return None
        sums = [0, 0, 0]
        sample = None
        for y, row in enumerate(rows):
            for x in range(w):
                if spp == 3:
                    r, g, b = row[x * 3], row[x * 3 + 1], row[x * 3 + 2]
                else:
                    r = g = b = row[x]
                sums[0] += r
                sums[1] += g
                sums[2] += b
                if x == 1 and y == 2:
                    sample = (r, g, b)
        npx = w * h
        return (w, h, sums[0] / npx, sums[1] / npx, sums[2] / npx, sample)
    except (IndexError, struct.error, ValueError):
        return None


# ---------------------------------------------------------------------------
# REAL audio sample decode (r5): PCM16 WAV data is uncompressed int16 LE
# — the "pixel decode" of audio, equally library-free. With this, every
# uncompressed media payload in the corpus decodes for real.
# ---------------------------------------------------------------------------

def make_wav_pcm(n_samples: int, sample_rate: int = 16000) -> bytes:
    """Mono PCM16 WAV with the deterministic ramp
    sample[i] = ((i * 97) % 2048) - 1024 — closed-form enough for a SQL
    oracle to recompute exactly (integer squares sum exactly in
    float64)."""
    data = bytearray()
    for i in range(n_samples):
        data += struct.pack("<h", ((i * 97) % 2048) - 1024)
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + bytes(data))
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + body


def decode_wav_pcm(payload: bytes):
    """(n_samples, peak_abs, sum_s, rms) from a mono PCM16 WAV — REAL
    sample access: RIFF chunk walk to fmt/data, int16 LE decode, peak /
    signed sum / RMS over the actual samples. sum_s catches sign or
    byte-order bugs RMS (squares) cannot. None for non-PCM16-mono
    payloads. Integer sums are exact in float64 at these sizes."""
    import math

    try:
        if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
            return None
        i = 12
        n = len(payload)
        fmt_ok = False
        samples = None
        while i + 8 <= n:
            cid = payload[i:i + 4]
            size = struct.unpack("<I", payload[i + 4:i + 8])[0]
            if cid == b"fmt " and size >= 16:
                audio_fmt, channels, _sr, _br, _ba, bits = struct.unpack(
                    "<HHIIHH", payload[i + 8:i + 24])
                fmt_ok = (audio_fmt == 1 and channels == 1 and bits == 16)
            elif cid == b"data":
                raw = payload[i + 8:i + 8 + size]
                k = len(raw) // 2
                samples = struct.unpack(f"<{k}h", raw[:2 * k])
            i += 8 + size + (size & 1)  # RIFF chunks pad to even offsets
        if not fmt_ok or not samples:
            return None
        peak = max(abs(s) for s in samples)
        sum_s = sum(samples)
        rms = math.sqrt(sum(s * s for s in samples) / len(samples))
        return len(samples), peak, sum_s, rms
    except (struct.error, IndexError):
        return None
