"""Pure-Python media header parsers (no PIL/cv2/torchaudio needed).

Real metadata decode for the dominant container formats — PNG, JPEG,
GIF, BMP, WebP, TIFF, HEIF-family (AVIF/HEIC) images; WAV, FLAC, MP3, OGG (Vorbis/Opus), AIFF/AIFF-C audio;
MP4/ISO-BMFF (ftyp/moov/mvhd/tkhd box walk), WebM/Matroska (EBML
element walk), and RIFF AVI video — using nothing but ``struct`` over the leading
bytes. Formats outside this set fall back
to the deterministic stub in ``multimodal.py`` (or raise in strict
mode).

These run inside Arrow-batched ``mapInPandas`` workers: each call reads
a few dozen header bytes per row, so the cost is negligible next to the
payload shuffle and the functions stay picklable module-level defs.

Also provides ``make_*`` synthesizers that emit minimal valid headers —
used by unit tests and the q59 gate fixture so the parsers are
exercised against real bytes, round-trip.
"""

from __future__ import annotations

import struct
import zlib

__all__ = [
    "decode_raster",
    "parse_image_header",
    "parse_audio_header",
    "parse_video_header",
    "make_mp4",
    "make_webm",
    "make_avi",
    "make_avi_mjpeg",
    "extract_video_frames",
    "make_heif",
    "make_png",
    "make_png_pixels",
    "make_gif",
    "make_bmp",
    "make_bmp_pixels",
    "make_jpeg",
    "make_tiff",
    "make_wav",
    "make_wav_pcm",
    "make_flac",
    "make_mp3",
    "make_ogg",
    "make_aiff",
    "make_aiff_pcm",
    "decode_pcm",
]

# --------------------------------------------------------------------------
# image parsers -> (format, width, height) | None
# --------------------------------------------------------------------------

_JPEG_SOF = {
    0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
    0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF,
}


def _parse_png(b: bytes):
    if len(b) >= 24 and b[:8] == b"\x89PNG\r\n\x1a\n" and b[12:16] == b"IHDR":
        w, h = struct.unpack(">II", b[16:24])
        return "png", w, h
    return None


def _parse_gif(b: bytes):
    if len(b) >= 10 and b[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", b[6:10])
        return "gif", w, h
    return None


def _parse_bmp(b: bytes):
    if len(b) >= 26 and b[:2] == b"BM":
        w, h = struct.unpack("<ii", b[18:26])
        return "bmp", w, abs(h)  # negative height = top-down DIB
    return None


def _parse_jpeg(b: bytes):
    if len(b) < 4 or b[:2] != b"\xff\xd8":
        return None
    i = 2
    while i + 4 <= len(b):
        if b[i] != 0xFF:
            i += 1
            continue
        marker = b[i + 1]
        # standalone markers carry no length field
        if marker in (0xFF, 0x01) or 0xD0 <= marker <= 0xD9:
            i += 2
            continue
        seglen = struct.unpack(">H", b[i + 2 : i + 4])[0]
        if marker in _JPEG_SOF:
            if i + 9 <= len(b):
                h, w = struct.unpack(">HH", b[i + 5 : i + 9])
                return "jpeg", w, h
            return None
        i += 2 + seglen
    return None


def _parse_webp(b: bytes):
    if len(b) < 30 or b[:4] != b"RIFF" or b[8:12] != b"WEBP":
        return None
    chunk = b[12:16]
    if chunk == b"VP8X":  # extended: 24-bit canvas size minus one
        w = int.from_bytes(b[24:27], "little") + 1
        h = int.from_bytes(b[27:30], "little") + 1
        return "webp", w, h
    if chunk == b"VP8 ":  # lossy: start code then 14-bit dims
        if b[23:26] == b"\x9d\x01\x2a":
            w = struct.unpack("<H", b[26:28])[0] & 0x3FFF
            h = struct.unpack("<H", b[28:30])[0] & 0x3FFF
            return "webp", w, h
        return None
    if chunk == b"VP8L":  # lossless: 1-byte sig then packed 14-bit dims
        if b[20] != 0x2F:
            return None
        bits = int.from_bytes(b[21:25], "little")
        w = (bits & 0x3FFF) + 1
        h = ((bits >> 14) & 0x3FFF) + 1
        return "webp", w, h
    return None


def _parse_tiff(b: bytes):
    """Classic TIFF: byte-order mark, magic 42, then a walk of the first
    IFD for ImageWidth (256) / ImageLength (257). SHORT and LONG value
    types, inline or offset-stored, both endiannesses."""
    if len(b) < 8:
        return None
    if b[:4] == b"II\x2a\x00":
        endian = "<"
    elif b[:4] == b"MM\x00\x2a":
        endian = ">"
    else:
        return None
    (ifd_off,) = struct.unpack(endian + "I", b[4:8])
    if ifd_off + 2 > len(b):
        return None
    (n_entries,) = struct.unpack(endian + "H", b[ifd_off : ifd_off + 2])
    w = h = None
    for k in range(n_entries):
        e = ifd_off + 2 + 12 * k
        if e + 12 > len(b):
            return None
        tag, typ, count = struct.unpack(endian + "HHI", b[e : e + 8])
        if tag not in (256, 257) or count != 1:
            continue
        if typ == 3:  # SHORT: value in the first 2 bytes of the field
            (val,) = struct.unpack(endian + "H", b[e + 8 : e + 10])
        elif typ == 4:  # LONG: value fills the field
            (val,) = struct.unpack(endian + "I", b[e + 8 : e + 12])
        else:
            continue
        if tag == 256:
            w = val
        else:
            h = val
    if w is not None and h is not None:
        return "tiff", w, h
    return None


# HEIF-family brands (ISO 23008-12 / AV1-AVIF): the ftyp must carry
# one of these as major or compatible brand for the file to count as
# a still-image BMFF container at all
_HEIF_AVIF_BRANDS = frozenset({b"avif", b"avis"})
_HEIF_HEIC_BRANDS = frozenset(
    {b"heic", b"heix", b"heim", b"heis", b"hevc", b"hevx"}
)
_HEIF_GENERIC_BRANDS = frozenset({b"mif1", b"msf1"})


def _parse_heif(b: bytes):
    """(format, width, height) for a HEIF-family still image (AVIF /
    HEIC / generic HEIF), or None. Reuses the ISO-BMFF box walk the
    MP4 probe uses; HEIF puts image properties under
    ``meta(FullBox) -> iprp -> ipco -> ispe`` instead of ``moov``.
    Evidence rule: a HEIF brand in ``ftyp`` AND a parsable ``ispe``
    must both be present — MP4 videos (non-HEIF brands) and arbitrary
    ftyp-led binary never classify. Dims come from the LARGEST
    ``ispe`` (thumbnails carry their own). Header-only: reads a few
    hundred bytes regardless of payload size."""
    if len(b) < 16 or b[4:8] != b"ftyp":
        return None
    top = list(_bmff_boxes(b, 0, len(b)))
    if not top or top[0][0] != b"ftyp":
        return None
    _, fs, fe = top[0]
    brands = {b[fs : fs + 4]} | {
        b[j : j + 4] for j in range(fs + 8, fe - 3, 4)
    }
    if brands & _HEIF_AVIF_BRANDS:
        fmt = "avif"
    elif brands & _HEIF_HEIC_BRANDS:
        fmt = "heic"
    elif brands & _HEIF_GENERIC_BRANDS:
        fmt = "heif"
    else:
        return None
    width = height = 0
    for btype, ps, pe in top:
        if btype != b"meta":
            continue
        # meta is a FullBox: 4 bytes of version+flags precede children
        for ctype, cs, ce in _bmff_boxes(b, ps + 4, pe):
            if ctype != b"iprp":
                continue
            for ptype, qs, qe in _bmff_boxes(b, cs, ce):
                if ptype != b"ipco":
                    continue
                for itype, is_, ie in _bmff_boxes(b, qs, qe):
                    if itype == b"ispe" and ie - is_ >= 12:
                        w, h = struct.unpack(">II", b[is_ + 4 : is_ + 12])
                        if w * h > width * height:
                            width, height = w, h
        break
    if not width or not height:
        return None  # brand without ispe: insufficient evidence
    return fmt, width, height


def parse_image_header(b: bytes):
    """(format, width, height) from leading bytes, or None if the
    content is not a recognized PNG/JPEG/GIF/BMP/WebP/TIFF/HEIF-family
    (AVIF/HEIC) container."""
    if not b:
        return None
    for parse in (
        _parse_png, _parse_jpeg, _parse_gif, _parse_bmp, _parse_webp,
        _parse_tiff, _parse_heif,
    ):
        out = parse(b)
        if out is not None:
            return out
    return None


# --------------------------------------------------------------------------
# audio parsers -> (format, sample_rate, n_samples) | None
# --------------------------------------------------------------------------

def _parse_wav(b: bytes):
    if len(b) < 36 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    i = 12
    sr = channels = bps = None
    data_size = None
    while i + 8 <= len(b):
        cid = b[i : i + 4]
        size = struct.unpack("<I", b[i + 4 : i + 8])[0]
        if cid == b"fmt " and i + 24 <= len(b):
            channels = struct.unpack("<H", b[i + 10 : i + 12])[0]
            sr = struct.unpack("<I", b[i + 12 : i + 16])[0]
            bps = struct.unpack("<H", b[i + 22 : i + 24])[0]
        elif cid == b"data":
            data_size = size
        i += 8 + size + (size & 1)  # chunks are word-aligned
    if sr and channels and bps and data_size is not None:
        n = data_size // max(1, channels * (bps // 8))
        return "wav", sr, n
    return None


def _parse_flac(b: bytes):
    if len(b) < 42 or b[:4] != b"fLaC":
        return None
    if b[4] & 0x7F != 0:  # first metadata block must be STREAMINFO
        return None
    info = b[8:42]  # 34-byte STREAMINFO
    # layout after 10 bytes of block/frame sizes: sr(20) ch-1(3)
    # bps-1(5) total_samples(36)
    sr = (info[10] << 12) | (info[11] << 4) | (info[12] >> 4)
    total = ((info[13] & 0x0F) << 32) | struct.unpack(">I", info[14:18])[0]
    if sr == 0:
        return None
    return "flac", sr, total


# MPEG audio frame-header tables (version-index, layer-index keyed).
# Bitrates in kbps for (MPEG1, Layer III) and (MPEG2/2.5, Layer III).
_MP3_BITRATE_V1L3 = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320]
_MP3_BITRATE_V2L3 = [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160]
_MP3_RATES = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000), 0: (11025, 12000, 8000)}


def _mp3_frame(b: bytes, i: int):
    """Decode one MPEG Layer III frame header at offset i ->
    (sample_rate, frame_len, samples_per_frame) or None."""
    if i + 4 > len(b) or b[i] != 0xFF or (b[i + 1] & 0xE0) != 0xE0:
        return None
    version = (b[i + 1] >> 3) & 0x3  # 3=MPEG1, 2=MPEG2, 0=MPEG2.5
    layer = (b[i + 1] >> 1) & 0x3  # 1=Layer III
    if version == 1 or layer != 1:
        return None
    br_idx = (b[i + 2] >> 4) & 0xF
    sr_idx = (b[i + 2] >> 2) & 0x3
    padding = (b[i + 2] >> 1) & 0x1
    if br_idx in (0, 15) or sr_idx == 3:
        return None
    table = _MP3_BITRATE_V1L3 if version == 3 else _MP3_BITRATE_V2L3
    bitrate = table[br_idx] * 1000
    sr = _MP3_RATES[version][sr_idx]
    spf = 1152 if version == 3 else 576  # samples per Layer III frame
    frame_len = (spf // 8) * bitrate // sr + padding
    return sr, frame_len, spf


def _parse_mp3(b: bytes):
    """MP3 (MPEG Layer III). Skips a leading ID3v2 tag (synchsafe
    size), then walks CBR frame headers; n_samples = frames x
    samples-per-frame — exact for CBR streams, the header-only
    equivalent of what a real demuxer reports."""
    i = 0
    if len(b) >= 10 and b[:3] == b"ID3":
        size = (b[6] << 21) | (b[7] << 14) | (b[8] << 7) | b[9]  # synchsafe
        i = 10 + size
    first = _mp3_frame(b, i)
    if first is None:
        return None
    # The 11-bit frame sync is weak (any 0xFF byte has a ~1/32 shot),
    # so a lone plausible header is not enough evidence: require a
    # SECOND consecutive valid frame header at i + frame_len — or a
    # clean EOF exactly at the frame boundary (a one-frame stream) —
    # before classifying arbitrary bytes as MP3. This is the standard
    # demuxer sync-confirmation heuristic; without it random binary
    # content in non-strict decode paths misreports as 'mp3' instead
    # of falling through to the deterministic stub.
    nxt = i + first[1]
    if nxt != len(b) and _mp3_frame(b, nxt) is None:
        return None
    sr, _, spf = first
    n_frames = 0
    while True:
        fr = _mp3_frame(b, i)
        if fr is None:
            break
        n_frames += 1
        i += fr[1]
    return "mp3", sr, n_frames * spf


def _ogg_page(b: bytes, i: int):
    """Decode one Ogg page header at offset i ->
    (header_type, granule_pos, payload_start, payload_len, next_off)
    or None. Structure per RFC 3533: 'OggS' capture pattern, version 0,
    1-byte header-type flags, 8-byte LE granule position, serial/seq/
    CRC (not verified — metadata-only parse), segment count + lacing
    table giving the payload length."""
    if i + 27 > len(b) or b[i : i + 4] != b"OggS" or b[i + 4] != 0:
        return None
    htype = b[i + 5]
    granule = struct.unpack("<q", b[i + 6 : i + 14])[0]
    nseg = b[i + 26]
    if i + 27 + nseg > len(b):
        return None
    paylen = sum(b[i + 27 : i + 27 + nseg])
    start = i + 27 + nseg
    if start + paylen > len(b):
        return None
    return htype, granule, start, paylen, start + paylen


def _parse_ogg(b: bytes):
    """Ogg container carrying Vorbis or Opus. The first page must be a
    beginning-of-stream page whose packet is the codec identification
    header ('\\x01vorbis' id header: 32-bit LE sample rate at offset
    12; 'OpusHead': 16-bit pre-skip at 10, 32-bit LE INPUT sample rate
    at 12). As with MP3, a lone plausible first page is not enough
    evidence: require either a clean EOF exactly at the page boundary
    or a second valid page header (the 'OggS' sync is 32 bits, but the
    parse must not classify arbitrary binary as ogg in non-strict
    decode paths). n_samples = the last page's granule position (PCM
    sample count for Vorbis; 48 kHz ticks minus pre-skip for Opus) —
    the header-only equivalent of a demuxer's duration probe."""
    pg = _ogg_page(b, 0)
    if pg is None:
        return None
    htype, granule, start, paylen, nxt = pg
    if not (htype & 0x02):  # first page must be BOS
        return None
    payload = b[start : start + paylen]
    pre_skip = 0
    if payload[:7] == b"\x01vorbis" and len(payload) >= 30:
        if struct.unpack("<I", payload[7:11])[0] != 0:  # vorbis version
            return None
        channels = payload[11]
        sr = struct.unpack("<I", payload[12:16])[0]
    elif payload[:8] == b"OpusHead" and len(payload) >= 19:
        if payload[8] >> 4 != 0:  # OpusHead major version must be 0
            return None
        channels = payload[9]
        pre_skip = struct.unpack("<H", payload[10:12])[0]
        sr = struct.unpack("<I", payload[12:16])[0]
    else:
        return None
    if not sr or not channels:
        return None
    # second-page validation + duration walk
    last_granule = max(granule, 0)
    i = nxt
    if i != len(b):
        if _ogg_page(b, i) is None:
            return None
        while i < len(b):
            pg2 = _ogg_page(b, i)
            if pg2 is None:
                break
            if pg2[1] > 0:  # -1 marks a page with no finished packet
                last_granule = max(last_granule, pg2[1])
            i = pg2[4]
    n = max(last_granule - pre_skip, 0)
    return "ogg", sr, n


def _parse_aiff(b: bytes):
    """(format, sample_rate, n_samples) for AIFF/AIFF-C (the IFF
    sibling of WAV: big-endian FORM container, COMM chunk with an
    80-bit extended-float sample rate), or None. Evidence = FORM
    magic + AIFF/AIFC form type + a parsable COMM chunk."""
    if len(b) < 12 or b[:4] != b"FORM" or b[8:12] not in (b"AIFF", b"AIFC"):
        return None
    fmt = "aiff" if b[8:12] == b"AIFF" else "aifc"
    i = 12
    while i + 8 <= len(b):
        ctype = b[i : i + 4]
        (csize,) = struct.unpack(">I", b[i + 4 : i + 8])
        if ctype == b"COMM" and i + 8 + 18 <= len(b):
            p = i + 8
            n_frames = struct.unpack(">I", b[p + 2 : p + 6])[0]
            # 80-bit IEEE 754 extended float: 1 sign + 15 exponent bits,
            # explicit-integer-bit 64-bit mantissa
            exp = struct.unpack(">H", b[p + 8 : p + 10])[0]
            mant = struct.unpack(">Q", b[p + 10 : p + 18])[0]
            sign = -1 if exp & 0x8000 else 1
            exp &= 0x7FFF
            if mant == 0 and exp == 0:
                rate = 0
            else:
                rate = sign * mant * 2.0 ** (exp - 16383 - 63)
            if rate <= 0 or rate != rate:
                return None
            return fmt, int(round(rate)), n_frames
        # IFF chunks are word-aligned: odd sizes carry a pad byte
        i += 8 + csize + (csize & 1)
    return None  # FORM without COMM: insufficient evidence


def parse_audio_header(b: bytes):
    """(format, sample_rate, n_samples) from leading bytes, or None if
    the content is not a recognized WAV/FLAC/MP3/OGG/AIFF container."""
    if not b:
        return None
    for parse in (_parse_wav, _parse_flac, _parse_mp3, _parse_ogg, _parse_aiff):
        out = parse(b)
        if out is not None:
            return out
    return None


# --------------------------------------------------------------------------
# video: MP4 / ISO-BMFF (ISO 14496-12) box walk -> duration + track dims
# --------------------------------------------------------------------------

def _bmff_boxes(b: bytes, start: int, end: int):
    """Yield (type, payload_start, payload_end) for each ISO-BMFF box
    in b[start:end). Box = 4-byte BE size + 4-byte type; size==1 means
    a 64-bit largesize follows; size==0 means 'to end of enclosure'.
    Stops (without raising) at any malformed/overrunning box — the
    caller decides whether what it saw so far is enough evidence."""
    i = start
    while i + 8 <= end:
        size = struct.unpack(">I", b[i : i + 4])[0]
        btype = b[i + 4 : i + 8]
        hdr = 8
        if size == 1:
            if i + 16 > end:
                return
            size = struct.unpack(">Q", b[i + 8 : i + 16])[0]
            hdr = 16
        elif size == 0:
            size = end - i
        if size < hdr or i + size > end:
            return
        yield btype, i + hdr, i + size
        i += size


def _mvhd_duration_ms(payload: bytes):
    """movie-header box -> duration in ms (timescale-normalized), or
    None. v0: 32-bit fields; v1: 64-bit creation/modification/duration."""
    if not payload:
        return None
    v = payload[0]
    if v == 0 and len(payload) >= 20:
        timescale, duration = struct.unpack(">II", payload[12:20])
    elif v == 1 and len(payload) >= 32:
        timescale = struct.unpack(">I", payload[20:24])[0]
        duration = struct.unpack(">Q", payload[24:32])[0]
    else:
        return None
    if not timescale:
        return None
    return int(duration * 1000 // timescale)


def _tkhd_dims(payload: bytes):
    """track-header box -> (width, height) from the 16.16 fixed-point
    trailer fields, or None. Zero dims (audio/hint tracks) -> None."""
    if not payload:
        return None
    v = payload[0]
    off = 84 if v == 0 else 96  # end of height field incl. version+flags
    if len(payload) < off:
        return None
    w = struct.unpack(">I", payload[off - 8 : off - 4])[0] >> 16
    h = struct.unpack(">I", payload[off - 4 : off])[0] >> 16
    if not w or not h:
        return None
    return w, h


def _parse_mp4(b: bytes):
    """(format, width, height, duration_ms) for an MP4 / ISO-BMFF
    container, or None. Evidence rule (as for MP3/OGG): a leading
    ``ftyp`` box alone is not enough — a well-formed ``moov`` box with
    a parsable ``mvhd`` must also be present, so arbitrary binary
    never classifies as video in non-strict decode paths. Dims come
    from the largest visual track's ``tkhd`` (16.16 fixed-point);
    0x0 when the movie has no visual track (audio-only MP4).
    Header-only — no sample tables are touched, so the parse reads a
    few hundred bytes no matter the payload size."""
    if len(b) < 16 or b[4:8] != b"ftyp":
        return None
    duration_ms = None
    width = height = 0
    for btype, ps, pe in _bmff_boxes(b, 0, len(b)):
        if btype != b"moov":
            continue
        for ctype, cs, ce in _bmff_boxes(b, ps, pe):
            if ctype == b"mvhd":
                duration_ms = _mvhd_duration_ms(b[cs:ce])
            elif ctype == b"trak":
                for ttype, ts, te in _bmff_boxes(b, cs, ce):
                    if ttype == b"tkhd":
                        dims = _tkhd_dims(b[ts:te])
                        if dims and dims[0] * dims[1] > width * height:
                            width, height = dims
        break
    if duration_ms is None:
        return None  # no moov/mvhd: insufficient evidence
    return "mp4", width, height, duration_ms


# --------------------------------------------------------------------------
# video: WebM / Matroska (EBML, RFC 8794) element walk -> duration + dims
# --------------------------------------------------------------------------

_EBML_MAGIC = b"\x1a\x45\xdf\xa3"  # also the EBML-header element's ID
_EBML_SEGMENT = b"\x18\x53\x80\x67"
_EBML_DOCTYPE = b"\x42\x82"
_EBML_INFO = b"\x15\x49\xa9\x66"
_EBML_TIMESTAMP_SCALE = b"\x2a\xd7\xb1"
_EBML_DURATION = b"\x44\x89"
_EBML_TRACKS = b"\x16\x54\xae\x6b"
_EBML_TRACK_ENTRY = b"\xae"
_EBML_VIDEO = b"\xe0"
_EBML_PIXEL_WIDTH = b"\xb0"
_EBML_PIXEL_HEIGHT = b"\xba"


def _ebml_vint(b: bytes, i: int, end: int, max_len: int):
    """Decode one EBML variable-length integer at b[i:]. Returns
    (raw_bytes, value_without_marker, next_offset, is_all_ones) or
    None on malformed/truncated input. The leading byte's first set
    bit encodes the total length (RFC 8794 §4)."""
    if i >= end:
        return None
    first = b[i]
    if first == 0:
        return None  # >8-byte vints don't occur in IDs/sizes we read
    length = 9 - first.bit_length()
    if length > max_len or i + length > end:
        return None
    mask = (1 << (8 - length)) - 1
    val = first & mask
    all_ones = val == mask
    for j in range(1, length):
        byte = b[i + j]
        val = (val << 8) | byte
        all_ones = all_ones and byte == 0xFF
    return b[i : i + length], val, i + length, all_ones


def _ebml_elements(b: bytes, start: int, end: int):
    """Yield (id_bytes, payload_start, payload_end) for each EBML
    element in b[start:end). IDs keep their marker bit (matching the
    spec's notation, e.g. Segment = 0x18538067); sizes strip it. An
    all-ones size means 'unknown' (live-muxed Segments) and is read as
    'to end of enclosure'. Stops silently at any malformed element —
    the caller decides whether what it saw is enough evidence."""
    i = start
    while i < end:
        rid = _ebml_vint(b, i, end, max_len=4)
        if rid is None:
            return
        eid, _, j, _ = rid
        rsz = _ebml_vint(b, j, end, max_len=8)
        if rsz is None:
            return
        _, size, k, unknown = rsz
        pend = end if unknown else k + size
        if pend > end:
            return
        yield eid, k, pend
        i = pend


def _parse_webm(b: bytes):
    """(format, width, height, duration_ms) for a WebM / Matroska
    container, or None. Evidence rule (as for MP4's moov): the EBML
    magic alone is not enough — the header's DocType must read 'webm'
    or 'matroska' AND a Segment with a parsable Info Duration must be
    present. Dims come from the largest video track's
    PixelWidth/PixelHeight; 0x0 for audio-only files. Duration is the
    Info float in timestamp units, normalized by TimestampScale
    (nanoseconds per unit, default 1,000,000 = milliseconds).
    Header-only: Clusters (the media payload) are never yielded into,
    so the walk reads a few hundred leading bytes regardless of size."""
    if len(b) < 8 or b[:4] != _EBML_MAGIC:
        return None
    doctype = None
    duration_ms = None
    width = height = 0
    saw_segment = False
    for eid, ps, pe in _ebml_elements(b, 0, len(b)):
        if eid == _EBML_MAGIC:  # the EBML header element
            for cid, cs, ce in _ebml_elements(b, ps, pe):
                if cid == _EBML_DOCTYPE:
                    doctype = (
                        b[cs:ce].split(b"\x00")[0].decode("ascii", "replace")
                    )
        elif eid == _EBML_SEGMENT:
            saw_segment = True
            for cid, cs, ce in _ebml_elements(b, ps, pe):
                if cid == _EBML_INFO:
                    tscale = 1_000_000  # ns per timestamp unit (default)
                    dur_units = None
                    for gid, gs, ge in _ebml_elements(b, cs, ce):
                        if gid == _EBML_TIMESTAMP_SCALE:
                            tscale = int.from_bytes(b[gs:ge], "big") or tscale
                        elif gid == _EBML_DURATION:
                            n = ge - gs
                            if n == 4:
                                dur_units = struct.unpack(">f", b[gs:ge])[0]
                            elif n == 8:
                                dur_units = struct.unpack(">d", b[gs:ge])[0]
                    if dur_units is not None and dur_units >= 0:
                        duration_ms = int(dur_units * tscale / 1e6)
                elif cid == _EBML_TRACKS:
                    for tid, ts, te in _ebml_elements(b, cs, ce):
                        if tid != _EBML_TRACK_ENTRY:
                            continue
                        for vid, vs, ve in _ebml_elements(b, ts, te):
                            if vid != _EBML_VIDEO:
                                continue
                            w = h = 0
                            for pid, qs, qe in _ebml_elements(b, vs, ve):
                                if pid == _EBML_PIXEL_WIDTH:
                                    w = int.from_bytes(b[qs:qe], "big")
                                elif pid == _EBML_PIXEL_HEIGHT:
                                    h = int.from_bytes(b[qs:qe], "big")
                            if w * h > width * height:
                                width, height = w, h
            break  # first Segment only (multi-segment files are rare)
    if doctype not in ("webm", "matroska") or not saw_segment \
            or duration_ms is None:
        return None  # insufficient evidence
    return ("webm" if doctype == "webm" else "mkv"), width, height, duration_ms


# --------------------------------------------------------------------------
# video: AVI (RIFF) header walk -> duration + dims
# --------------------------------------------------------------------------

def _parse_avi(b: bytes):
    """(format, width, height, duration_ms) for a RIFF AVI container,
    or None. Evidence rule: the RIFF/'AVI ' magic alone is not enough —
    a parsable ``LIST hdrl`` with a well-formed ``avih`` main header
    must be present. Duration = dwMicroSecPerFrame * dwTotalFrames;
    dims from dwWidth/dwHeight. Header-only (the movi payload list is
    never entered)."""
    if len(b) < 24 or b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        return None
    i = 12
    while i + 8 <= len(b):
        cid = b[i : i + 4]
        size = struct.unpack("<I", b[i + 4 : i + 8])[0]
        if cid == b"LIST" and b[i + 8 : i + 12] == b"hdrl":
            j = i + 12
            end = min(i + 8 + size, len(b))
            while j + 8 <= end:
                sub = b[j : j + 4]
                ssize = struct.unpack("<I", b[j + 4 : j + 8])[0]
                if sub == b"avih" and ssize >= 40 and j + 8 + 40 <= end:
                    p = j + 8
                    usec_per_frame, = struct.unpack("<I", b[p : p + 4])
                    total_frames, = struct.unpack("<I", b[p + 16 : p + 20])
                    width, = struct.unpack("<I", b[p + 32 : p + 36])
                    height, = struct.unpack("<I", b[p + 36 : p + 40])
                    duration_ms = usec_per_frame * total_frames // 1000
                    return "avi", width, height, duration_ms
                j += 8 + ssize + (ssize & 1)
            return None  # hdrl without avih: insufficient evidence
        i += 8 + size + (size & 1)
    return None


def parse_video_header(b: bytes):
    """(format, width, height, duration_ms) from leading bytes —
    format in {'mp4', 'webm', 'mkv', 'avi'} — or None if the content is
    not a recognized MP4/ISO-BMFF, WebM/Matroska, or RIFF AVI container
    (each parser applies its own second-evidence rule; see
    _parse_mp4/_parse_webm/_parse_avi)."""
    if not b:
        return None
    for parse in (_parse_mp4, _parse_webm, _parse_avi):
        out = parse(b)
        if out is not None:
            return out
    return None


# --------------------------------------------------------------------------
# minimal-header synthesizers (tests + gate fixtures)
# --------------------------------------------------------------------------

def _png_chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def make_png(width: int, height: int) -> bytes:
    ihdr = struct.pack(">II", width, height) + b"\x08\x02\x00\x00\x00"
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IEND", b"")
    )


def make_gif(width: int, height: int) -> bytes:
    return b"GIF89a" + struct.pack("<HH", width, height) + b"\x00\x00\x00\x3b"


def make_bmp(width: int, height: int) -> bytes:
    dib = struct.pack("<IiiHH", 40, width, height, 1, 24) + b"\x00" * 24
    header = b"BM" + struct.pack("<IHHI", 14 + len(dib), 0, 0, 14 + len(dib))
    return header + dib


def make_jpeg(width: int, height: int) -> bytes:
    sof_payload = (
        struct.pack(">BHHB", 8, height, width, 3)
        + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01"
    )
    sof = b"\xff\xc0" + struct.pack(">H", len(sof_payload) + 2) + sof_payload
    return b"\xff\xd8" + sof + b"\xff\xd9"


def make_tiff(width: int, height: int, big_endian: bool = False) -> bytes:
    """Minimal classic TIFF: one IFD with ImageWidth/ImageLength LONGs."""
    endian = ">" if big_endian else "<"
    head = (b"MM\x00\x2a" if big_endian else b"II\x2a\x00") + struct.pack(
        endian + "I", 8
    )
    entries = struct.pack(endian + "HHII", 256, 4, 1, width) + struct.pack(
        endian + "HHII", 257, 4, 1, height
    )
    ifd = struct.pack(endian + "H", 2) + entries + struct.pack(endian + "I", 0)
    return head + ifd


def make_wav(
    sample_rate: int, n_samples: int, channels: int = 1, bits: int = 16
) -> bytes:
    """Header-only WAV (declared data size, no payload) — enough for
    any header parser, tiny enough for row-level fixtures."""
    data_size = n_samples * channels * (bits // 8)
    fmt = struct.pack(
        "<HHIIHH",
        1,  # PCM
        channels,
        sample_rate,
        sample_rate * channels * (bits // 8),
        channels * (bits // 8),
        bits,
    )
    riff_size = 4 + (8 + len(fmt)) + (8 + data_size)
    return (
        b"RIFF"
        + struct.pack("<I", riff_size)
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", data_size)
    )


def make_flac(sample_rate: int, n_samples: int) -> bytes:
    info = bytearray(34)
    info[0:2] = struct.pack(">H", 4096)  # min blocksize
    info[2:4] = struct.pack(">H", 4096)  # max blocksize
    info[10] = (sample_rate >> 12) & 0xFF
    info[11] = (sample_rate >> 4) & 0xFF
    info[12] = ((sample_rate & 0xF) << 4) | (0 << 1) | ((16 - 1) >> 4)
    info[13] = (((16 - 1) & 0xF) << 4) | ((n_samples >> 32) & 0xF)
    info[14:18] = struct.pack(">I", n_samples & 0xFFFFFFFF)
    return b"fLaC" + bytes([0x80]) + b"\x00\x00\x22" + bytes(info)


def make_mp3(
    sample_rate: int, n_frames: int, bitrate_kbps: int = 128, id3: bool = False
) -> bytes:
    """CBR MPEG-1 Layer III stream of ``n_frames`` frames (header +
    zero payload each); sample_rate in {44100, 48000, 32000}. Each
    frame carries 1152 samples, so the parser reports
    n_samples = 1152 * n_frames. Optionally prefixed with an empty
    ID3v2 tag to exercise the skip path."""
    sr_idx = {44100: 0, 48000: 1, 32000: 2}[sample_rate]
    br_idx = _MP3_BITRATE_V1L3.index(bitrate_kbps)
    hdr = bytes(
        [
            0xFF,
            0xFB,  # MPEG1 (11), Layer III (01), no CRC (1)
            (br_idx << 4) | (sr_idx << 2),  # no padding, private=0
            0xC0,  # mono
        ]
    )
    frame_len = 144 * bitrate_kbps * 1000 // sample_rate
    frame = hdr + b"\x00" * (frame_len - 4)
    out = frame * n_frames
    if id3:
        out = b"ID3\x04\x00\x00\x00\x00\x00\x00" + out
    return out


def _ogg_page_bytes(
    htype: int, granule: int, seq: int, payload: bytes
) -> bytes:
    """One Ogg page wrapping ``payload`` as a single packet (CRC left
    zero — the metadata parser does not verify it)."""
    assert len(payload) < 255 * 255
    lacing = []
    rem = len(payload)
    while rem >= 255:
        lacing.append(255)
        rem -= 255
    lacing.append(rem)
    return (
        b"OggS"
        + bytes([0, htype])
        + struct.pack("<q", granule)
        + struct.pack("<I", 0x1234)  # serial
        + struct.pack("<I", seq)
        + struct.pack("<I", 0)  # CRC unverified
        + bytes([len(lacing)])
        + bytes(lacing)
        + payload
    )


def make_ogg(
    sample_rate: int, n_samples: int, codec: str = "vorbis",
    pre_skip: int = 0,
) -> bytes:
    """Two-page Ogg stream: a BOS page carrying the Vorbis or Opus
    identification header, then an EOS page whose granule position
    encodes ``n_samples`` (+ ``pre_skip`` for Opus, matching how real
    muxers stamp granules so decoders subtract the pre-skip)."""
    if codec == "vorbis":
        ident = (
            b"\x01vorbis"
            + struct.pack("<I", 0)  # vorbis version
            + bytes([1])  # channels
            + struct.pack("<I", sample_rate)
            + struct.pack("<iii", 0, 0, 0)  # bitrates
            + bytes([0x66, 0x01])  # blocksizes + framing bit
        )
        eos_granule = n_samples
    elif codec == "opus":
        ident = (
            b"OpusHead"
            + bytes([1, 1])  # version 1, channels 1
            + struct.pack("<H", pre_skip)
            + struct.pack("<I", sample_rate)
            + struct.pack("<h", 0)  # output gain
            + bytes([0])  # channel mapping family
        )
        eos_granule = n_samples + pre_skip
    else:
        raise ValueError(f"make_ogg: unknown codec {codec!r}")
    return _ogg_page_bytes(0x02, 0, 0, ident) + _ogg_page_bytes(
        0x04, eos_granule, 1, b""
    )


def _bmff_box(btype: bytes, payload: bytes, large: bool = False) -> bytes:
    if large:
        return struct.pack(">I", 1) + btype + struct.pack(
            ">Q", len(payload) + 16
        ) + payload
    return struct.pack(">I", len(payload) + 8) + btype + payload



def make_heif(width: int, height: int, brand: str = "avif") -> bytes:
    """Minimal valid HEIF-family still image: ftyp + meta(FullBox:
    hdlr + iprp(ipco(ispe))) — exactly the boxes _parse_heif reads,
    plus the pict handler real muxers write. ``brand``: "avif",
    "heic", or "mif1" (generic HEIF)."""
    bb = brand.encode("ascii")
    ispe = _bmff_box(
        b"ispe", b"\x00\x00\x00\x00" + struct.pack(">II", width, height)
    )
    ipco = _bmff_box(b"ipco", ispe)
    iprp = _bmff_box(b"iprp", ipco)
    hdlr = _bmff_box(
        b"hdlr", b"\x00" * 8 + b"pict" + b"\x00" * 13
    )
    meta = _bmff_box(b"meta", b"\x00\x00\x00\x00" + hdlr + iprp)
    ftyp = _bmff_box(b"ftyp", bb + struct.pack(">I", 0) + bb + b"mif1")
    return ftyp + meta


def make_aiff(sample_rate: int, n_frames: int, compressed: bool = False) -> bytes:
    """Minimal valid AIFF (or AIFF-C) header: FORM + COMM with the
    80-bit extended-float sample rate real writers emit."""
    import math

    if sample_rate <= 0:
        raise ValueError("make_aiff: sample_rate must be positive")
    e = math.floor(math.log2(sample_rate))
    mant = int(sample_rate / 2.0 ** (e - 63))
    comm_body = (
        struct.pack(">hIh", 1, n_frames, 16)
        + struct.pack(">H", 16383 + e)
        + struct.pack(">Q", mant)
    )
    if compressed:
        comm_body += b"NONE" + b"\x0enot compressed\x00"
    comm = b"COMM" + struct.pack(">I", len(comm_body)) + comm_body
    form_type = b"AIFC" if compressed else b"AIFF"
    body = form_type + comm
    return b"FORM" + struct.pack(">I", len(body)) + body

def make_mp4(
    width: int,
    height: int,
    duration_ms: int,
    timescale: int = 1000,
    version: int = 0,
    large_moov: bool = False,
    audio_only: bool = False,
) -> bytes:
    """Minimal valid ISO-BMFF movie: ftyp + moov(mvhd + trak(tkhd)).
    ``version`` selects v0 (32-bit) or v1 (64-bit) mvhd/tkhd layouts;
    ``large_moov`` wraps moov in a 64-bit largesize box; ``audio_only``
    emits a zero-dims track (dims must parse as 0x0)."""
    duration = duration_ms * timescale // 1000
    if version == 0:
        mvhd = (
            bytes([0, 0, 0, 0])
            + struct.pack(">II", 0, 0)  # creation, modification
            + struct.pack(">II", timescale, duration)
            + struct.pack(">I", 0x00010000)  # rate 1.0
            + b"\x00" * 76  # volume/reserved/matrix/predefined/next_track
        )
        w = 0 if audio_only else width
        h = 0 if audio_only else height
        tkhd = (
            bytes([0, 0, 0, 7])  # v0, flags: enabled|in-movie|in-preview
            + struct.pack(">IIII", 0, 0, 1, 0)  # times, track_ID, reserved
            + struct.pack(">I", duration)
            + b"\x00" * 52  # reserved/layer/alt/volume/reserved/matrix
            + struct.pack(">II", w << 16, h << 16)
        )
    else:
        mvhd = (
            bytes([1, 0, 0, 0])
            + struct.pack(">QQ", 0, 0)
            + struct.pack(">I", timescale)
            + struct.pack(">Q", duration)
            + struct.pack(">I", 0x00010000)
            + b"\x00" * 76
        )
        w = 0 if audio_only else width
        h = 0 if audio_only else height
        tkhd = (
            bytes([1, 0, 0, 7])
            + struct.pack(">QQ", 0, 0)
            + struct.pack(">II", 1, 0)
            + struct.pack(">Q", duration)
            + b"\x00" * 52
            + struct.pack(">II", w << 16, h << 16)
        )
    trak = _bmff_box(b"trak", _bmff_box(b"tkhd", tkhd))
    moov_payload = _bmff_box(b"mvhd", mvhd) + trak
    moov = _bmff_box(b"moov", moov_payload, large=large_moov)
    ftyp = _bmff_box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
    return ftyp + moov


def _ebml_size_bytes(n: int) -> bytes:
    """Shortest EBML vint encoding of size ``n`` (avoiding the
    all-ones 'unknown size' pattern)."""
    length = 1
    while n >= (1 << (7 * length)) - 1:
        length += 1
    return (n | (1 << (7 * length))).to_bytes(length, "big")


def _ebml_el(eid: bytes, payload: bytes) -> bytes:
    return eid + _ebml_size_bytes(len(payload)) + payload


def make_webm(
    width: int,
    height: int,
    duration_ms: int,
    timescale_ns: int = 1_000_000,
    doctype: str = "webm",
    duration_double: bool = False,
    unknown_size_segment: bool = False,
    audio_only: bool = False,
) -> bytes:
    """Minimal valid WebM / Matroska file: EBML header (DocType) +
    Segment(Info(TimestampScale + Duration) + Tracks(TrackEntry)).
    ``doctype`` selects 'webm' or 'matroska' (parsed as 'mkv');
    ``duration_double`` forces the Duration float to 64-bit (durations
    past float32's 2^24 exact-integer range promote automatically);
    ``unknown_size_segment`` stamps the Segment with the
    all-ones 'unknown size' vint live muxers write; ``audio_only``
    emits a track with no Video element (dims must parse as 0x0)."""
    head = _ebml_el(
        _EBML_MAGIC,
        _ebml_el(b"\x42\x86", b"\x01")  # EBMLVersion
        + _ebml_el(b"\x42\xf7", b"\x01")  # EBMLReadVersion
        + _ebml_el(_EBML_DOCTYPE, doctype.encode("ascii"))
        + _ebml_el(b"\x42\x87", b"\x04")  # DocTypeVersion
        + _ebml_el(b"\x42\x85", b"\x02"),  # DocTypeReadVersion
    )
    dur_units = duration_ms * 1_000_000 / timescale_ns
    # float32 represents integers exactly only up to 2^24 (~4.66 h at
    # ms units); auto-promote to the 8-byte double past that so the
    # synthesized duration always round-trips bit-exactly
    use_double = duration_double or abs(dur_units) > float(1 << 24)
    dur = struct.pack(">d", dur_units) if use_double \
        else struct.pack(">f", dur_units)
    info = _ebml_el(
        _EBML_INFO,
        _ebml_el(_EBML_TIMESTAMP_SCALE, timescale_ns.to_bytes(4, "big"))
        + _ebml_el(_EBML_DURATION, dur),
    )
    if audio_only:
        entry = _ebml_el(b"\x83", b"\x02")  # TrackType: audio
    else:
        entry = _ebml_el(b"\x83", b"\x01") + _ebml_el(  # TrackType: video
            _EBML_VIDEO,
            _ebml_el(_EBML_PIXEL_WIDTH, width.to_bytes(2, "big"))
            + _ebml_el(_EBML_PIXEL_HEIGHT, height.to_bytes(2, "big")),
        )
    tracks = _ebml_el(_EBML_TRACKS, _ebml_el(_EBML_TRACK_ENTRY, entry))
    seg_payload = info + tracks
    if unknown_size_segment:
        seg = _EBML_SEGMENT + b"\xff" + seg_payload
    else:
        seg = _ebml_el(_EBML_SEGMENT, seg_payload)
    return head + seg


def make_avi(
    width: int, height: int, duration_ms: int, fps: int = 25
) -> bytes:
    """Minimal valid RIFF AVI: LIST hdrl with a MainAVIHeader whose
    dwMicroSecPerFrame * dwTotalFrames encodes the duration."""
    usec_per_frame = 1_000_000 // fps
    total_frames = duration_ms * 1000 // usec_per_frame
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        usec_per_frame,  # dwMicroSecPerFrame
        0, 0, 0,         # dwMaxBytesPerSec, dwPaddingGranularity, dwFlags
        total_frames,    # dwTotalFrames
        0, 1, 0,         # dwInitialFrames, dwStreams, dwSuggestedBufferSize
        width, height,
        0, 0, 0, 0,      # dwReserved[4]
    )
    hdrl = b"hdrl" + b"avih" + struct.pack("<I", len(avih)) + avih
    lst = b"LIST" + struct.pack("<I", len(hdrl)) + hdrl
    payload = b"AVI " + lst
    return b"RIFF" + struct.pack("<I", len(payload)) + payload


def _riff_chunk(cid: bytes, data: bytes) -> bytes:
    return cid + struct.pack("<I", len(data)) + data + (b"\x00" * (len(data) & 1))


def _riff_list(ltype: bytes, body: bytes) -> bytes:
    return _riff_chunk(b"LIST", ltype + body)


def make_avi_mjpeg(frames: list, fps: int = 10) -> bytes:
    """Full RIFF AVI carrying a REAL Motion-JPEG video stream: each
    entry of ``frames`` is a standalone baseline JPEG (make_jpeg_pixels)
    stored as a ``00dc`` data chunk inside ``LIST movi``, with a
    well-formed ``LIST hdrl`` (avih + strl with an 'MJPG' strh/strf) so
    header probes (_parse_avi) and frame extraction
    (extract_video_frames) both work on the same bytes — the video-path
    test/gate fixture: two make_avi_mjpeg renders of the same frame
    arrays at different JPEG qualities are near-identical videos."""
    if not frames:
        raise ValueError("make_avi_mjpeg: at least one frame required")
    dims = parse_image_header(frames[0])
    if dims is None or dims[0] != "jpeg":
        raise ValueError("make_avi_mjpeg: frames must be JPEG bytes")
    _, width, height = dims
    usec_per_frame = 1_000_000 // fps
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        usec_per_frame, 0, 0, 0,
        len(frames),            # dwTotalFrames
        0, 1, 0,                # dwInitialFrames, dwStreams, dwSuggestedBufferSize
        width, height, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIII4h",
        b"vids", b"MJPG", 0, 0, 0, 0,
        1, fps,                 # dwScale, dwRate -> fps frames/sec
        0, len(frames), 0, 0xFFFF, 0,
        0, 0, width, height,    # rcFrame
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, b"MJPG",
        width * height * 3, 0, 0, 0, 0,
    )
    strl = _riff_list(
        b"strl", _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf)
    )
    hdrl = _riff_list(b"hdrl", _riff_chunk(b"avih", avih) + strl)
    movi = _riff_list(
        b"movi", b"".join(_riff_chunk(b"00dc", bytes(fr)) for fr in frames)
    )
    return _riff_chunk(b"RIFF", b"AVI " + hdrl + movi)


def extract_video_frames(b: bytes, max_frames: int | None = None):
    """Per-frame payload bytes of a RIFF AVI's video data chunks
    (``##dc``/``##db`` inside ``LIST movi``; one nesting level of
    ``LIST rec `` interleave groups supported), in stream order — or
    None when the content is not a RIFF AVI at all. An AVI whose movi
    list is absent or empty returns ``[]`` (a parsable container with
    no frames — callers treat it like an undecodable one). For MJPEG
    streams each payload is a standalone baseline JPEG that
    ``decode_raster`` turns into the perceptual-hash raster; other
    codecs' payloads simply fail that decode, routing the row to the
    stub/strict path. Pure container walk — no entropy decode, cost
    linear in the container size."""
    if b is None or len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        return None
    frames: list = []
    n = len(b)

    def _walk(j: int, end: int, depth: int) -> bool:
        while j + 8 <= end:
            cid = b[j : j + 4]
            size = struct.unpack("<I", b[j + 4 : j + 8])[0]
            body_end = min(j + 8 + size, end)
            if cid == b"LIST" and depth < 1 and b[j + 8 : j + 12] == b"rec ":
                if not _walk(j + 12, body_end, depth + 1):
                    return False
            elif cid[2:4] in (b"dc", b"db"):
                frames.append(b[j + 8 : body_end])
                if max_frames is not None and len(frames) >= max_frames:
                    return False
            j += 8 + size + (size & 1)
        return True

    i = 12
    while i + 8 <= n:
        cid = b[i : i + 4]
        size = struct.unpack("<I", b[i + 4 : i + 8])[0]
        if cid == b"LIST" and b[i + 8 : i + 12] == b"movi":
            _walk(i + 12, min(i + 8 + size, n), 0)
            break
        i += 8 + size + (size & 1)
    return frames


# --------------------------------------------------------------------------
# raster decode (grayscale pixels) for the perceptual-hash path
# --------------------------------------------------------------------------

def _raster_bmp(b: bytes):
    """Grayscale float32 raster for uncompressed 24/32-bit BI_RGB BMPs
    (the only BMP shape that decodes without a codec library)."""
    import struct

    import numpy as np

    if len(b) < 54 or b[:2] != b"BM":
        return None
    data_off = struct.unpack_from("<I", b, 10)[0]
    hdr_size = struct.unpack_from("<I", b, 14)[0]
    if hdr_size < 40:
        return None
    w, h = struct.unpack_from("<ii", b, 18)
    planes, bpp = struct.unpack_from("<HH", b, 26)
    compression = struct.unpack_from("<I", b, 30)[0]
    if compression != 0 or bpp not in (24, 32) or w <= 0 or h == 0:
        return None
    bottom_up = h > 0
    h = abs(h)
    nch = bpp // 8
    row_bytes = (w * nch + 3) & ~3
    need = data_off + row_bytes * h
    if len(b) < need:
        return None
    rows = np.frombuffer(
        b, dtype=np.uint8, count=row_bytes * h, offset=data_off
    ).reshape(h, row_bytes)[:, : w * nch].reshape(h, w, nch)
    if bottom_up:
        rows = rows[::-1]
    # BGR(A) order; ITU-R BT.601 luma
    gray = (
        0.114 * rows[:, :, 0].astype(np.float32)
        + 0.587 * rows[:, :, 1].astype(np.float32)
        + 0.299 * rows[:, :, 2].astype(np.float32)
    )
    return gray


_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _raster_png(b: bytes):
    """Grayscale float32 raster for 8-bit non-interlaced non-palette
    PNGs: stdlib zlib inflate + the five scanline filters. Pure
    Python per-row unfiltering — fine for thumbnail-scale fingerprint
    inputs; corpus-scale pixel work should plug a real codec library
    into the same batch shape."""
    import struct
    import zlib

    import numpy as np

    if len(b) < 33 or b[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    w = h = None
    bit_depth = color_type = interlace = None
    idat = []
    i = 8
    while i + 8 <= len(b):
        ln = struct.unpack_from(">I", b, i)[0]
        typ = b[i + 4 : i + 8]
        payload = b[i + 8 : i + 8 + ln]
        if typ == b"IHDR":
            if ln < 13:
                return None
            w, h = struct.unpack_from(">II", payload, 0)
            bit_depth, color_type = payload[8], payload[9]
            interlace = payload[12]
        elif typ == b"IDAT":
            idat.append(payload)
        elif typ == b"IEND":
            break
        i += 12 + ln
    if (
        not w or not h or bit_depth != 8 or interlace != 0
        or color_type not in _PNG_CHANNELS or not idat
    ):
        return None
    nch = _PNG_CHANNELS[color_type]
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error:
        return None
    stride = w * nch
    if len(raw) < h * (stride + 1):
        return None
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    pos = 0
    for y in range(h):
        f = raw[pos]
        row = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=pos + 1)
        pos += stride + 1
        if f == 0:
            rec = row.copy()
        elif f == 2:  # up
            rec = (row.astype(np.int32) + prev).astype(np.uint8)
        elif f in (1, 3, 4):  # sub / average / paeth: sequential in x
            rec = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = rec[x - nch] if x >= nch else 0
                up = int(prev[x])
                if f == 1:
                    rec[x] = (int(row[x]) + a) & 0xFF
                elif f == 3:
                    rec[x] = (int(row[x]) + ((a + up) >> 1)) & 0xFF
                else:
                    c = int(prev[x - nch]) if x >= nch else 0
                    p = a + up - c
                    pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                    pr = a if (pa <= pb and pa <= pc) else (up if pb <= pc else c)
                    rec[x] = (int(row[x]) + pr) & 0xFF
            rec = rec.astype(np.uint8)
        else:
            return None
        out[y] = rec
        prev = out[y]
    px = out.reshape(h, w, nch)
    if color_type == 0:
        return px[:, :, 0].astype(np.float32)
    if color_type == 4:
        return px[:, :, 0].astype(np.float32)
    return (
        0.299 * px[:, :, 0].astype(np.float32)
        + 0.587 * px[:, :, 1].astype(np.float32)
        + 0.114 * px[:, :, 2].astype(np.float32)
    )


class _JpegBitReader:
    """MSB-first bit reader over a JPEG entropy-coded segment with
    0xFF00 byte-stuffing removal; stops at any real marker."""

    __slots__ = ("b", "i", "end", "acc", "nbits", "marker")

    def __init__(self, b: bytes, i: int):
        self.b = b
        self.i = i
        self.end = len(b)
        self.acc = 0
        self.nbits = 0
        self.marker = None  # marker byte that ended the segment

    def _fill(self) -> bool:
        while self.nbits <= 24:
            if self.i >= self.end:
                return self.nbits > 0
            byte = self.b[self.i]
            if byte == 0xFF:
                if self.i + 1 >= self.end:
                    return self.nbits > 0
                nxt = self.b[self.i + 1]
                if nxt == 0x00:  # stuffed
                    self.i += 2
                elif 0xD0 <= nxt <= 0xD7:  # restart: caller consumes
                    self.marker = nxt
                    return self.nbits > 0
                else:  # real marker: end of scan
                    self.marker = nxt
                    return self.nbits > 0
                self.acc = (self.acc << 8) | byte
                self.nbits += 8
            else:
                self.i += 1
                self.acc = (self.acc << 8) | byte
                self.nbits += 8
        return True

    def bits(self, n: int) -> int:
        if n == 0:
            return 0
        while self.nbits < n:
            got = self.nbits
            if not self._fill() or self.nbits == got:
                raise ValueError("jpeg: bitstream exhausted")
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def peek16(self) -> int:
        """Next 16 bits without consuming; the stream tail pads with
        zero bits (``skip`` still guards consumption against the real
        available count, so padding can never be silently eaten)."""
        while self.nbits < 16:
            got = self.nbits
            if not self._fill() or self.nbits == got:
                return (self.acc << (16 - self.nbits)) & 0xFFFF
        return (self.acc >> (self.nbits - 16)) & 0xFFFF

    def skip(self, n: int) -> None:
        """Consume ``n`` already-peeked bits."""
        if n > self.nbits:
            raise ValueError("jpeg: bitstream exhausted")
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1

    def advance(self, n: int) -> None:
        """Consume ``n`` bits, discarding the value (AC magnitude
        bits only advance the stream on the DC-only raster path)."""
        if n == 0:
            return
        while self.nbits < n:
            got = self.nbits
            if not self._fill() or self.nbits == got:
                raise ValueError("jpeg: bitstream exhausted")
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1

    def read_sym(self, sym, lnt) -> int:
        """peek16 + LUT lookup + skip fused into one call: the scan
        loop decodes one symbol per call instead of three (profiled —
        the call overhead itself was a third of the decode)."""
        nb = self.nbits
        while nb < 16:
            got = nb
            if not self._fill() or self.nbits == got:
                break
            nb = self.nbits
        acc = self.acc
        if nb >= 16:
            v = (acc >> (nb - 16)) & 0xFFFF
        else:
            v = (acc << (16 - nb)) & 0xFFFF
        s = sym[v]
        if s < 0:
            raise ValueError("jpeg: bad huffman code")
        n = lnt[v]
        if n > nb:
            raise ValueError("jpeg: bitstream exhausted")
        nb -= n
        self.nbits = nb
        self.acc = acc & ((1 << nb) - 1)
        return s

    def restart(self) -> None:
        """Drop padding bits, resync past the next RSTn marker."""
        self.acc = 0
        self.nbits = 0
        self.marker = None
        while self.i + 1 < self.end:
            if self.b[self.i] == 0xFF and 0xD0 <= self.b[self.i + 1] <= 0xD7:
                self.i += 2
                return
            self.i += 1
        raise ValueError("jpeg: expected restart marker")


_JPEG_LUT_MEMO: dict = {}
# ~1 MB per entry (two 65,536-entry lists) — bounded per executor:
# optimized JPEGs carry per-image tables
_JPEG_LUT_MEMO_CAP = 32


def _jpeg_huff_table(bits_counts, values):
    """16-bit prefix LUT (symbols, code lengths) for canonical JPEG
    Huffman decode: every code is <= 16 bits (ITU T.81), so peeking 16
    bits and indexing two flat lists decodes one symbol — replacing
    F.2.2.3's per-bit walk, which cost up to 16 bit-reads per symbol
    and dominated the DC raster path (measured 97% of a video
    fingerprint, ~7 bit-reads/symbol average). Memoized on the table
    bytes (bounded like ``embed._ROW_MEMO``): real corpora
    overwhelmingly ship the Annex K tables, so a long-lived worker
    builds each LUT once, not once per image."""
    key = (bytes(bits_counts), bytes(values))
    lut = _JPEG_LUT_MEMO.get(key)
    if lut is not None:
        return lut
    import numpy as np

    sym = np.full(1 << 16, -1, dtype=np.int32)
    lnt = np.zeros(1 << 16, dtype=np.int32)
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits_counts[ln - 1]):
            lo = code << (16 - ln)
            hi = lo + (1 << (16 - ln))
            if hi > (1 << 16):
                raise ValueError("jpeg: bad huffman table")
            sym[lo:hi] = values[k]
            lnt[lo:hi] = ln
            code += 1
            k += 1
        code <<= 1
    lut = (sym.tolist(), lnt.tolist())
    if len(_JPEG_LUT_MEMO) >= _JPEG_LUT_MEMO_CAP:
        _JPEG_LUT_MEMO.clear()
    _JPEG_LUT_MEMO[key] = lut
    return lut


def _jpeg_decode_sym(r: "_JpegBitReader", tbl) -> int:
    sym, lnt = tbl
    v = r.peek16()
    s = sym[v]
    if s < 0:
        raise ValueError("jpeg: bad huffman code")
    r.skip(lnt[v])
    return s


def _jpeg_extend(v: int, s: int) -> int:
    if s == 0:
        return 0
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _raster_jpeg(b: bytes):
    """DC-only grayscale raster for baseline (SOF0/SOF1) Huffman JPEG:
    the Y channel's dequantized DC coefficients ARE the standard
    1/8-scale grayscale thumbnail (DC = 8 x block mean after level
    shift), so a perceptual dHash needs no IDCT and no AC storage —
    the AC symbols are Huffman-decoded only to advance the bitstream.
    Returns None for progressive/arithmetic/12-bit streams (those need
    a real codec library). Pure Python, thumbnail-appropriate; the
    Arrow batch shape upstream is the corpus-scale contract."""
    import numpy as np

    if len(b) < 4 or b[:2] != b"\xff\xd8":
        return None
    qt: dict = {}
    huff: dict = {}
    frame = None
    restart_interval = 0
    i = 2
    try:
        while i + 4 <= len(b):
            if b[i] != 0xFF:
                return None
            m = b[i + 1]
            if m == 0x01 or 0xD0 <= m <= 0xD8:
                i += 2
                continue
            if m == 0xD9:  # EOI before SOS
                return None
            ln = (b[i + 2] << 8) | b[i + 3]
            seg = b[i + 4 : i + 2 + ln]
            if m == 0xDB:  # DQT
                p = 0
                while p < len(seg):
                    pq, tq = seg[p] >> 4, seg[p] & 15
                    p += 1
                    if pq != 0:  # 16-bit tables: not baseline
                        return None
                    qt[tq] = bytes(seg[p : p + 64])
                    p += 64
            elif m in (0xC0, 0xC1):  # baseline / ext sequential huffman
                prec = seg[0]
                if prec != 8:
                    return None
                h = (seg[1] << 8) | seg[2]
                w = (seg[3] << 8) | seg[4]
                nc = seg[5]
                comps = []
                for c in range(nc):
                    cid = seg[6 + 3 * c]
                    hv = seg[7 + 3 * c]
                    comps.append(
                        (cid, hv >> 4, hv & 15, seg[8 + 3 * c])
                    )
                frame = (h, w, comps)
            elif m in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                       0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                return None  # progressive / lossless / arithmetic
            elif m == 0xC4:  # DHT
                p = 0
                while p + 17 <= len(seg):
                    tc, th = seg[p] >> 4, seg[p] & 15
                    counts = seg[p + 1 : p + 17]
                    nvals = sum(counts)
                    vals = seg[p + 17 : p + 17 + nvals]
                    huff[(tc, th)] = _jpeg_huff_table(counts, vals)
                    p += 17 + nvals
            elif m == 0xDD:  # DRI
                restart_interval = (seg[0] << 8) | seg[1]
            elif m == 0xDA:  # SOS
                if frame is None:
                    return None
                ns = seg[0]
                scan = []  # (comp_index, dc_tbl, ac_tbl)
                for s_ in range(ns):
                    cs = seg[1 + 2 * s_]
                    td_ta = seg[2 + 2 * s_]
                    ci = next(
                        (k for k, c in enumerate(frame[2]) if c[0] == cs),
                        None,
                    )
                    if ci is None:
                        return None
                    scan.append((ci, td_ta >> 4, td_ta & 15))
                if len(scan) != len(frame[2]):
                    return None  # multi-scan sequential: skip
                data_start = i + 2 + ln
                return _jpeg_decode_scan(
                    b, data_start, frame, scan, qt, huff,
                    restart_interval, np,
                )
            i += 2 + ln
    except (ValueError, IndexError, KeyError):
        return None
    return None


def _jpeg_decode_scan(
    b, start, frame, scan, qt, huff, restart_interval, np
):
    h, w, comps = frame
    if h == 0 or w == 0:
        return None
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if hmax == 0 or vmax == 0:
        return None
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    yc = scan[0][0]  # first scan component: Y by JPEG convention
    y_h, y_v = comps[yc][1], comps[yc][2]
    yq = qt[comps[yc][3]][0]  # DC quantizer (zigzag index 0)
    dc_map = np.zeros((mcus_y * y_v, mcus_x * y_h), dtype=np.float32)
    dc_tbls = [huff[(0, s[1])] for s in scan]
    ac_tbls = [huff[(1, s[2])] for s in scan]
    pred = [0] * len(scan)
    r = _JpegBitReader(b, start)
    # hot-loop locals: bound methods and per-component LUT lists (one
    # read_sym call per symbol; attribute lookups hoisted out of the
    # per-block loop — profiled, this loop is the whole decode)
    read_sym = r.read_sym
    bits = r.bits
    advance = r.advance
    per_si = [
        (ci, comps[ci][1], comps[ci][2],
         dc_tbls[si][0], dc_tbls[si][1],
         ac_tbls[si][0], ac_tbls[si][1])
        for si, (ci, _td, _ta) in enumerate(scan)
    ]
    mcu = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu and mcu % restart_interval == 0:
                r.restart()
                pred = [0] * len(scan)
            for si, (ci, ch, cv, dsym, dlen, asym, alen) in enumerate(
                per_si
            ):
                for bv in range(cv):
                    for bh in range(ch):
                        t = read_sym(dsym, dlen)
                        diff = _jpeg_extend(bits(t), t)
                        pred[si] += diff
                        if ci == yc:
                            dc_map[my * y_v + bv, mx * y_h + bh] = (
                                pred[si]
                            )
                        k = 1
                        while k < 64:  # AC: advance the stream only
                            rs = read_sym(asym, alen)
                            rr, ss = rs >> 4, rs & 15
                            if ss == 0:
                                if rr != 15:
                                    break  # EOB
                                k += 16
                            else:
                                k += rr
                                advance(ss)
                                k += 1
            mcu += 1
    # crop the Y DC grid to the true block extent and dequantize into
    # pixel space: block mean = dc*q/8 + 128
    by = -(-(h * y_v) // (8 * vmax))
    bx = -(-(w * y_h) // (8 * hmax))
    out = dc_map[:by, :bx] * (yq / 8.0) + 128.0
    return np.clip(out, 0.0, 255.0).astype(np.float32)


def decode_raster(b: bytes):
    """Grayscale float32 pixel array for content this container can
    decode WITHOUT a codec library: 8-bit non-interlaced PNG,
    uncompressed 24/32-bit BMP, and baseline Huffman JPEG (DC-only:
    the 1/8-scale Y thumbnail — exactly the raster a perceptual hash
    wants). Returns None otherwise — callers choose between a
    documented deterministic stub raster and strict-mode failure (see
    multimodal.image_dhash)."""
    if not b:
        return None
    out = _raster_png(b)
    if out is None:
        out = _raster_bmp(b)
    if out is None:
        out = _raster_jpeg(b)
    return out


def make_png_pixels(arr) -> bytes:
    """Full 8-bit RGB PNG carrying real pixel data (HxWx3 uint8 array)
    — the raster-path test fixture (decode_raster round-trips it)."""
    import zlib as _zlib

    h, w, _ = arr.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


# ITU T.81 Annex K reference tables (public spec): example quant
# matrices and the typical Huffman tables every baseline encoder ships
_JPEG_QL = [  # luminance, natural (row-major) order
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
]
_JPEG_QC = [  # chrominance
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
]
_JPEG_ZZ = [  # natural index for each zigzag position
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]
_HT_DC_L = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HT_DC_C = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HT_AC_L = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31,
        0x41, 0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32,
        0x81, 0x91, 0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52,
        0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28, 0x29, 0x2A,
        0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
        0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57,
        0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x83,
        0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93, 0x94,
        0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8,
        0xD9, 0xDA, 0xE1, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8,
        0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
_HT_AC_C = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06,
        0x12, 0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81,
        0x08, 0x14, 0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33,
        0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
        0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56,
        0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79, 0x7A,
        0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92,
        0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6,
        0xD7, 0xD8, 0xD9, 0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7,
        0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)


def _jpeg_huff_codes(bits_counts, values):
    """symbol -> (code, length) for canonical JPEG Huffman encode."""
    out = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits_counts[ln - 1]):
            out[values[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


class _JpegBitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        pad = (8 - self.nbits % 8) % 8
        if pad:
            self.put((1 << pad) - 1, pad)  # pad with 1-bits
        self.acc = 0
        self.nbits = 0


def _jpeg_scale_q(table, quality: int):
    import numpy as np

    quality = min(100, max(1, quality))
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (np.array(table, dtype=np.int64) * s + 50) // 100
    return np.clip(q, 1, 255).astype(np.int32)


def make_jpeg_pixels(
    arr, quality: int = 75, subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Full baseline JPEG carrying real pixel data (HxWx3 uint8 RGB
    array) — the raster-path test fixture for _raster_jpeg: two
    encodes of the same array at different qualities are near-identical
    images whose DC thumbnails (and therefore dHashes) stay close.
    Standard Annex K quantization (quality-scaled) and Huffman tables,
    matrix FDCT; ``subsample=True`` emits 4:2:0 (the dominant web
    layout — exercises the decoder's multi-block MCU interleave),
    else 4:4:4."""
    import numpy as np

    h, w, _ = arr.shape
    # RGB -> YCbCr (JPEG full-range BT.601)
    rgb = arr.astype(np.float64)
    y = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
    cb = -0.168736 * rgb[..., 0] - 0.331264 * rgb[..., 1] + 0.5 * rgb[..., 2] + 128.0
    cr = 0.5 * rgb[..., 0] - 0.418688 * rgb[..., 1] - 0.081312 * rgb[..., 2] + 128.0
    qy = _jpeg_scale_q(_JPEG_QL, quality)
    qc = _jpeg_scale_q(_JPEG_QC, quality)
    y_hv = (2, 2) if subsample else (1, 1)
    mcu_px = 8 * y_hv[0]  # MCU pixel span (square sampling)
    ph, pw = -(-h // mcu_px) * mcu_px, -(-w // mcu_px) * mcu_px

    def _pad(ch):
        return np.pad(ch, ((0, ph - h), (0, pw - w)), mode="edge")

    y = _pad(y)
    cb, cr = _pad(cb), _pad(cr)
    if subsample:  # 2x2 box-average chroma
        cb = cb.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
        cr = cr.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
    # (plane, quant, (hsamp, vsamp)) in component order Y, Cb, Cr
    planes = [(y, qy, y_hv), (cb, qc, (1, 1)), (cr, qc, (1, 1))]
    # orthonormal 8x8 DCT-II matrix
    k = np.arange(8)
    d = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16) * np.sqrt(0.25)
    d[0] *= np.sqrt(0.5)
    dc_codes = [_jpeg_huff_codes(*_HT_DC_L), _jpeg_huff_codes(*_HT_DC_C)]
    ac_codes = [_jpeg_huff_codes(*_HT_AC_L), _jpeg_huff_codes(*_HT_AC_C)]
    wtr = _JpegBitWriter()
    pred = [0, 0, 0]
    zz = np.array(_JPEG_ZZ)

    def _encode_block(plane, q, ci, r0, c0):
        blk = plane[r0 : r0 + 8, c0 : c0 + 8] - 128.0
        coef = d @ blk @ d.T
        qz = np.round(coef.flatten() / q.astype(np.float64))
        qz = qz.astype(np.int32)[zz]  # zigzag order
        ti = 0 if ci == 0 else 1
        diff = int(qz[0]) - pred[ci]
        pred[ci] = int(qz[0])
        s = abs(diff).bit_length()
        code, ln = dc_codes[ti][s]
        wtr.put(code, ln)
        if s:
            wtr.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
        run = 0
        for kk in range(1, 64):
            v = int(qz[kk])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_codes[ti][0xF0]  # ZRL
                wtr.put(code, ln)
                run -= 16
            s = abs(v).bit_length()
            code, ln = ac_codes[ti][(run << 4) | s]
            wtr.put(code, ln)
            wtr.put(v if v >= 0 else v + (1 << s) - 1, s)
            run = 0
        if run:
            code, ln = ac_codes[ti][0x00]  # EOB
            wtr.put(code, ln)

    mcu = 0
    for my in range(ph // mcu_px):
        for mx in range(pw // mcu_px):
            if restart_interval and mcu and mcu % restart_interval == 0:
                wtr.flush()
                wtr.out += bytes(
                    [0xFF, 0xD0 + (mcu // restart_interval - 1) % 8]
                )
                pred[:] = [0, 0, 0]
            for ci, (plane, q, (csh, csv)) in enumerate(planes):
                for bv in range(csv):
                    for bh in range(csh):
                        _encode_block(
                            plane, q, ci,
                            (my * csv + bv) * 8, (mx * csh + bh) * 8,
                        )
            mcu += 1
    wtr.flush()
    # assemble the stream
    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload
    dqt = seg(0xDB, bytes([0]) + bytes(int(qy[i]) for i in _JPEG_ZZ)) + seg(
        0xDB, bytes([1]) + bytes(int(qc[i]) for i in _JPEG_ZZ)
    )
    y_hv_byte = (y_hv[0] << 4) | y_hv[1]
    sof = seg(
        0xC0,
        bytes([8])
        + struct.pack(">HH", h, w)
        + bytes([3, 1, y_hv_byte, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    def dht(tc, th, tbl):
        counts, vals = tbl
        return seg(0xC4, bytes([(tc << 4) | th]) + bytes(counts) + bytes(vals))
    dhts = (
        dht(0, 0, _HT_DC_L) + dht(1, 0, _HT_AC_L)
        + dht(0, 1, _HT_DC_C) + dht(1, 1, _HT_AC_C)
    )
    sos = seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    dri = (
        seg(0xDD, struct.pack(">H", restart_interval))
        if restart_interval else b""
    )
    return (
        b"\xff\xd8" + dqt + sof + dhts + dri + sos + bytes(wtr.out)
        + b"\xff\xd9"
    )


def make_bmp_pixels(arr) -> bytes:
    """Full uncompressed 24-bit bottom-up BMP carrying real pixel data
    (HxWx3 uint8 array, RGB order)."""
    h, w, _ = arr.shape
    row = (w * 3 + 3) & ~3
    data = b"".join(
        arr[y][:, ::-1].tobytes() + b"\x00" * (row - w * 3)
        for y in range(h - 1, -1, -1)
    )
    hdr = b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0
    )
    return hdr + info + data


# --------------------------------------------------------------------------
# PCM sample decode for the audio-fingerprint path (audio analogue of
# decode_raster): WAV and AIFF carry raw PCM, so a struct/numpy walk
# recovers the actual waveform with no codec library. FLAC/MP3/OGG
# payloads need real entropy/transform decoding and return None —
# callers choose between the documented deterministic stub fingerprint
# and strict-mode failure (see multimodal.audio_fingerprint).
# --------------------------------------------------------------------------


def _pcm_int_to_float(data: bytes, bits: int, big_endian: bool):
    """Raw integer PCM bytes -> float32 in [-1, 1). 8-bit WAV is
    unsigned per the RIFF spec; 8-bit AIFF is signed — callers pass
    the bytes pre-offset for that case via ``big_endian``/signedness
    handled here (WAV is never big-endian, AIFF never 8-bit-unsigned)."""
    import numpy as np

    if bits == 8:
        raw = np.frombuffer(data, dtype=np.int8 if big_endian else np.uint8)
        x = raw.astype(np.float32)
        return (x / 128.0) if big_endian else ((x - 128.0) / 128.0)
    if bits == 16:
        dt = ">i2" if big_endian else "<i2"
        return np.frombuffer(data, dtype=dt).astype(np.float32) / 32768.0
    if bits == 24:
        u = np.frombuffer(data, dtype=np.uint8)
        u = u[: (len(u) // 3) * 3].reshape(-1, 3).astype(np.uint32)
        if big_endian:
            v = (u[:, 0] << 16) | (u[:, 1] << 8) | u[:, 2]
        else:
            v = (u[:, 2] << 16) | (u[:, 1] << 8) | u[:, 0]
        s = v.astype(np.int32)
        s[s >= (1 << 23)] -= 1 << 24  # sign-extend
        return s.astype(np.float32) / float(1 << 23)
    if bits == 32:
        dt = ">i4" if big_endian else "<i4"
        return np.frombuffer(data, dtype=dt).astype(np.float32) / float(
            1 << 31
        )
    return None


def _decode_pcm_wav(b: bytes):
    if len(b) < 36 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    import numpy as np

    i = 12
    afmt = sr = channels = bits = None
    data = None
    while i + 8 <= len(b):
        cid = b[i : i + 4]
        size = struct.unpack("<I", b[i + 4 : i + 8])[0]
        if cid == b"fmt " and i + 24 <= len(b):
            afmt = struct.unpack("<H", b[i + 8 : i + 10])[0]
            channels = struct.unpack("<H", b[i + 10 : i + 12])[0]
            sr = struct.unpack("<I", b[i + 12 : i + 16])[0]
            bits = struct.unpack("<H", b[i + 22 : i + 24])[0]
            if afmt == 0xFFFE and size >= 40:  # WAVE_FORMAT_EXTENSIBLE:
                # the real format is the first 2 GUID bytes of the
                # extension (offset 24 into the chunk body)
                afmt = struct.unpack("<H", b[i + 32 : i + 34])[0]
        elif cid == b"data":
            data = b[i + 8 : i + 8 + size]
        i += 8 + size + (size & 1)
    if not (sr and channels and bits and data is not None):
        return None
    if afmt == 3:  # IEEE float
        if bits == 32:
            x = np.frombuffer(
                data[: (len(data) // 4) * 4], dtype="<f4"
            ).astype(np.float32)
        elif bits == 64:
            x = np.frombuffer(
                data[: (len(data) // 8) * 8], dtype="<f8"
            ).astype(np.float32)
        else:
            return None
    elif afmt == 1:  # integer PCM
        frame = bits // 8
        data = data[: (len(data) // frame) * frame]
        x = _pcm_int_to_float(data, bits, big_endian=False)
        if x is None:
            return None
    else:
        return None  # ADPCM / a-law / mu-law etc. need codec tables
    if channels > 1:
        n = (len(x) // channels) * channels
        x = x[:n].reshape(-1, channels).mean(axis=1).astype(np.float32)
    return sr, x


def _decode_pcm_aiff(b: bytes):
    if len(b) < 12 or b[:4] != b"FORM" or b[8:12] not in (b"AIFF", b"AIFC"):
        return None
    import numpy as np

    is_aifc = b[8:12] == b"AIFC"
    i = 12
    sr = channels = bits = None
    comp = b"NONE"
    data = None
    while i + 8 <= len(b):
        ctype = b[i : i + 4]
        (csize,) = struct.unpack(">I", b[i + 4 : i + 8])
        if ctype == b"COMM" and i + 8 + 18 <= len(b):
            p = i + 8
            channels = struct.unpack(">H", b[p : p + 2])[0]
            bits = struct.unpack(">H", b[p + 6 : p + 8])[0]
            exp = struct.unpack(">H", b[p + 8 : p + 10])[0]
            mant = struct.unpack(">Q", b[p + 10 : p + 18])[0]
            exp &= 0x7FFF
            sr = (
                0 if mant == 0 and exp == 0
                else int(round(mant * 2.0 ** (exp - 16383 - 63)))
            )
            if is_aifc and csize >= 22:
                comp = b[p + 18 : p + 22]
        elif ctype == b"SSND" and i + 16 <= len(b):
            (off,) = struct.unpack(">I", b[i + 8 : i + 12])
            data = b[i + 16 + off : i + 8 + csize]
        i += 8 + csize + (csize & 1)
    if not (sr and channels and bits and data is not None):
        return None
    if comp not in (b"NONE", b"sowt"):
        return None  # compressed AIFF-C needs a codec
    big = comp == b"NONE"  # 'sowt' = byte-swapped (little-endian) PCM
    frame = bits // 8
    if frame == 0:
        return None
    data = data[: (len(data) // frame) * frame]
    x = _pcm_int_to_float(data, bits, big_endian=big)
    if x is None:
        return None
    if bits == 8 and not big:
        # AIFF 8-bit is SIGNED even in sowt layouts; redo as signed
        x = np.frombuffer(data, dtype=np.int8).astype(np.float32) / 128.0
    if channels > 1:
        n = (len(x) // channels) * channels
        x = x[:n].reshape(-1, channels).mean(axis=1).astype(np.float32)
    return sr, x


def decode_pcm(b: bytes):
    """(sample_rate, float32 mono waveform in [-1, 1]) for audio this
    container carries as raw PCM — RIFF WAV (integer 8/16/24/32-bit
    and IEEE float 32/64-bit, incl. WAVE_FORMAT_EXTENSIBLE) and
    AIFF/AIFF-C uncompressed ('NONE' big-endian / 'sowt'
    little-endian). Multi-channel audio downmixes to mono (mean).
    Returns None for FLAC/MP3/OGG/unknown (their payloads need real
    entropy/transform decoding) — callers choose between a documented
    deterministic stub fingerprint and strict-mode failure."""
    if not b:
        return None
    out = _decode_pcm_wav(b)
    if out is None:
        out = _decode_pcm_aiff(b)
    return out


def make_wav_pcm(
    samples, sample_rate: int, bits: int = 16, channels: int = 1
) -> bytes:
    """Full RIFF WAV carrying real integer-PCM data (float array in
    [-1, 1], mono or (n, channels)) — the PCM-path test fixture
    (decode_pcm round-trips it)."""
    import numpy as np

    x = np.asarray(samples, dtype=np.float64)
    if x.ndim == 1 and channels > 1:
        x = np.repeat(x[:, None], channels, axis=1)
    elif x.ndim == 2:
        channels = x.shape[1]
    x = np.clip(x, -1.0, 1.0 - 1e-9).reshape(-1)
    if bits == 16:
        data = (x * 32768.0).astype("<i2").tobytes()
    elif bits == 8:
        data = (x * 128.0 + 128.0).astype(np.uint8).tobytes()
    elif bits == 32:
        data = (x * float(1 << 31)).astype("<i4").tobytes()
    else:
        raise ValueError(f"make_wav_pcm: bits must be 8/16/32, got {bits}")
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate,
        sample_rate * channels * (bits // 8),
        channels * (bits // 8), bits,
    )
    riff_size = 4 + (8 + len(fmt)) + (8 + len(data))
    return (
        b"RIFF" + struct.pack("<I", riff_size) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def make_aiff_pcm(samples, sample_rate: int) -> bytes:
    """Full AIFF carrying real 16-bit big-endian mono PCM data — the
    AIFF leg of the decode_pcm round-trip fixture."""
    import numpy as np

    x = np.clip(np.asarray(samples, dtype=np.float64), -1.0, 1.0 - 1e-9)
    data = (x * 32768.0).astype(">i2").tobytes()
    n = len(x)
    # 80-bit extended float for the rate: mant * 2^(exp - 16383 - 63)
    e = sample_rate.bit_length() - 1
    mant = sample_rate << (63 - e)
    comm = (
        struct.pack(">HIH", 1, n, 16)
        + struct.pack(">H", 16383 + e)
        + struct.pack(">Q", mant)
    )
    ssnd = struct.pack(">II", 0, 0) + data
    body = (
        b"AIFF"
        + b"COMM" + struct.pack(">I", len(comm)) + comm
        + b"SSND" + struct.pack(">I", len(ssnd)) + ssnd
        + (b"\x00" if len(ssnd) & 1 else b"")
    )
    return b"FORM" + struct.pack(">I", len(body)) + body
