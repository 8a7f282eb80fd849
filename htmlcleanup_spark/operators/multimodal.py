"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the pipeline as ``binary`` columns with a
metadata struct.  The Spark-side plumbing (schema, the per-document map,
partition behavior) is real and tested; the pixel *decode* step is a stub
because no image/audio codec libraries exist in this container —
:func:`extract_features` derives deterministic fake features from the
payload digest where a real ``PIL.Image.open`` / ``soundfile.read`` call
would go.  The header parsers below (image, audio, video, EXIF) are real.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame

from ..functions.udf import doc_map


def _parse_payloads(df: DataFrame, parse, ddl: str, payload_col: str,
                    id_col: str) -> DataFrame:
    """(id, <ddl columns>) with ``parse(payload)`` per item, a stateless
    per-document map; a null payload parses as empty bytes."""
    return doc_map(df, lambda p: parse(p or b""), [payload_col], ddl,
                   carry=[id_col])


def _fake_decode(payload: bytes):
    """Deterministic stand-in for an image decode: dimensions from digest."""
    d = hashlib.md5(payload).digest()
    width = 16 * (1 + d[0] % 64)
    height = 16 * (1 + d[1] % 64)
    return width, height


def extract_features(df: DataFrame, payload_col: str = "payload",
                     id_col: str = "doc_id") -> DataFrame:
    """binary payload -> (id, n_bytes, digest, width, height, codec) per
    item, as a per-document map: n_bytes, the md5 digest, and a fake WxH
    from :func:`_fake_decode` (codec ``"stub"``).  Swap ``_fake_decode``
    for a real codec on a cluster with PIL/ffmpeg available."""

    def features(payload):
        w, h = _fake_decode(payload)
        return len(payload), hashlib.md5(payload).hexdigest(), w, h, "stub"

    return _parse_payloads(
        df, features,
        "n_bytes bigint, digest string, width int, height int, codec string",
        payload_col, id_col,
    )


# ---------------------------------------------------------------------------
# image header metadata: REAL byte-level parsing, no codec libraries needed
# ---------------------------------------------------------------------------

IMAGE_META_DDL = (
    "format string, width int, height int, n_bytes bigint"
)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_JPEG_SOF = frozenset(
    (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD,
     0xCE, 0xCF)
)


def parse_image_header(b: bytes):
    """(format, width, height) from a PNG / JPEG / GIF byte header, or
    (None, None, None) for anything unrecognized or truncated.

    Pure container-format parsing (PNG IHDR chunk, JPEG segment walk to the
    first SOF marker, GIF logical-screen descriptor) — the dimensions live
    in the first bytes, so a training pipeline can size-filter billions of
    images while reading only parquet's first column pages, no decode, no
    codec dependency.  Never raises on garbage.
    """
    if b[:8] == _PNG_SIG:
        # first chunk must be IHDR: 4-byte length, 'IHDR', width, height
        if len(b) >= 24 and b[12:16] == b"IHDR":
            return (
                "png",
                int.from_bytes(b[16:20], "big"),
                int.from_bytes(b[20:24], "big"),
            )
        return "png", None, None
    if b[:6] in (b"GIF87a", b"GIF89a"):
        if len(b) >= 10:
            return (
                "gif",
                int.from_bytes(b[6:8], "little"),
                int.from_bytes(b[8:10], "little"),
            )
        return "gif", None, None
    if b[:2] == b"\xff\xd8":
        i = 2
        n = len(b)
        while i + 4 <= n:
            if b[i] != 0xFF:
                break  # not at a marker: corrupt stream
            marker = b[i + 1]
            if marker == 0xFF:
                i += 1  # fill byte
                continue
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD9:
                i += 2  # standalone marker, no length field
                continue
            seg_len = int.from_bytes(b[i + 2 : i + 4], "big")
            if seg_len < 2:
                break
            if marker in _JPEG_SOF:
                # SOF payload: precision(1), height(2), width(2)
                if i + 9 <= n:
                    return (
                        "jpeg",
                        int.from_bytes(b[i + 7 : i + 9], "big"),
                        int.from_bytes(b[i + 5 : i + 7], "big"),
                    )
                break
            i += 2 + seg_len
        return "jpeg", None, None
    return None, None, None


def image_meta(df: DataFrame, payload_col: str = "payload",
               id_col: str = "doc_id") -> DataFrame:
    """Per-item image metadata via per-document header parsing:
    (doc_id, format, width, height, n_bytes); format/dims NULL for
    unrecognized payloads.  This is the decode-free fraction of image
    feature extraction that IS possible offline — the pixel-level decode
    stays behind the :func:`extract_features` stub."""
    return _parse_payloads(df, lambda b: parse_image_header(b) + (len(b),),
                           IMAGE_META_DDL, payload_col, id_col)


def synth_image_bytes(i: int) -> bytes:
    """Deterministic minimal-but-well-formed image bytes for doc #i:
    format cycles png/jpeg/gif by i%3; width = 1 + i%512,
    height = 1 + (i*7)%512.  The SQL oracle recomputes the dims from i
    arithmetically, so the header parser is checked against an
    independently-derived expectation."""
    w = 1 + i % 512
    h = 1 + (i * 7) % 512
    k = i % 3
    if k == 0:  # PNG: signature + IHDR chunk (crc not validated by parsers)
        ihdr = (
            w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + bytes([8, 2, 0, 0, 0])
        )
        return (
            _PNG_SIG + (13).to_bytes(4, "big") + b"IHDR" + ihdr
            + b"\x00\x00\x00\x00"
        )
    if k == 1:  # JPEG: SOI + APP0 + COM + SOF0 + EOI
        # length field counts itself + payload: 2 + 14 = 16
        app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
        com = b"\xff\xfe" + (7).to_bytes(2, "big") + b"synth"
        sof = (
            b"\xff\xc0" + (11).to_bytes(2, "big") + b"\x08"
            + h.to_bytes(2, "big") + w.to_bytes(2, "big")
            + b"\x01" + b"\x01\x11\x00"  # Nf=1 + (id, sampling, qtable)
        )
        return b"\xff\xd8" + app0 + com + sof + b"\xff\xd9"
    # GIF: header + logical screen descriptor + trailer
    return (
        b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little")
        + b"\x00\x00\x00;"
    )


# ---------------------------------------------------------------------------
# audio header metadata: WAV chunk walk + MP3 frame walk, no codec libraries
# ---------------------------------------------------------------------------

AUDIO_META_DDL = (
    "format string, sample_rate int, channels int, "
    "bits int, duration_e3 bigint, n_bytes bigint"
)

# MPEG1 Layer III bitrate table (kbps), index 1-14; samplerate table idx 0-2
_MP3_BITRATE = (None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
                224, 256, 320)
_MP3_RATE = (44100, 48000, 32000)


def parse_audio_header(b: bytes):
    """(format, sample_rate, channels, bits, duration_e3) from WAV or
    MP3 bytes, or all-None for anything unrecognized.

    WAV: RIFF/WAVE chunk walk — 'fmt ' gives channels/rate/bits, 'data'
    gives the payload size; duration_ms = samples * 1000 // rate, exact
    integer arithmetic.  MP3: optional ID3v2 skip (syncsafe size), then
    a frame-header walk (MPEG1 Layer III frame length
    144 * bitrate // rate + padding) counting frames; duration_ms =
    frames * 1152 * 1000 // rate (1152 samples per Layer III frame);
    ``bits`` is None (not a PCM notion).  Never raises on garbage —
    like the image twin, this is the decode-free fraction a pipeline
    can run while reading only header bytes.
    """
    n = len(b)
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        i = 12
        rate = channels = bits = data_size = None
        while i + 8 <= n:
            cid = b[i : i + 4]
            clen = int.from_bytes(b[i + 4 : i + 8], "little")
            if cid == b"fmt " and i + 24 <= n:
                channels = int.from_bytes(b[i + 10 : i + 12], "little")
                rate = int.from_bytes(b[i + 12 : i + 16], "little")
                bits = int.from_bytes(b[i + 22 : i + 24], "little")
            elif cid == b"data":
                data_size = clen
            i += 8 + clen + (clen & 1)  # chunks are word-aligned
        dur = None
        if rate and channels and bits and data_size is not None:
            denom = rate * channels * (bits // 8)
            dur = data_size * 1000 // denom if denom else None
        return "wav", rate, channels, bits, dur
    i = 0
    if b[:3] == b"ID3" and n >= 10:
        tag = (
            (b[6] & 0x7F) << 21 | (b[7] & 0x7F) << 14
            | (b[8] & 0x7F) << 7 | (b[9] & 0x7F)
        )
        i = 10 + tag
    if i + 4 <= n and b[i] == 0xFF and (b[i + 1] & 0xE0) == 0xE0:
        rate = channels = None
        frames = 0
        while i + 4 <= n and b[i] == 0xFF and (b[i + 1] & 0xE0) == 0xE0:
            version = (b[i + 1] >> 3) & 3
            layer = (b[i + 1] >> 1) & 3
            br_idx = b[i + 2] >> 4
            sr_idx = (b[i + 2] >> 2) & 3
            padding = (b[i + 2] >> 1) & 1
            if (version != 3 or layer != 1 or sr_idx > 2
                    or _MP3_BITRATE[br_idx] is None):
                break  # only MPEG1 Layer III synthesized/supported
            rate = _MP3_RATE[sr_idx]
            channels = 1 if (b[i + 3] >> 6) == 3 else 2
            frames += 1
            i += 144 * _MP3_BITRATE[br_idx] * 1000 // rate + padding
        if frames:
            return ("mp3", rate, channels, None,
                    frames * 1152 * 1000 // rate)
        return "mp3", None, None, None, None
    return None, None, None, None, None


def audio_meta(df: DataFrame, payload_col: str = "payload",
               id_col: str = "doc_id") -> DataFrame:
    """Per-item audio metadata via per-document header parsing:
    (doc_id, format, sample_rate, channels, bits, duration_e3,
    n_bytes); NULL fields for unrecognized payloads.  Same plan shape
    as image_meta: a stateless per-document map,
    zero shuffle, decode stays behind extract_features."""
    return _parse_payloads(df, lambda b: parse_audio_header(b) + (len(b),),
                           AUDIO_META_DDL, payload_col, id_col)


_WAV_RATES = (8000, 16000, 22050, 44100)


def synth_audio_bytes(i: int) -> bytes:
    """Deterministic audio bytes for doc #i: garbage every 17th doc,
    else WAV for even / MP3 for odd i, with j = i // 2 driving the
    bands: WAV rate = _WAV_RATES[j%4], channels = 1 + j%2, 16-bit,
    1600 + j%100 samples; MP3 128kbps 44.1kHz stereo, 5 + j%10 frames,
    a 42-byte ID3v2 tag when j is odd.  The SQL oracle recomputes
    every field arithmetically from doc_id."""
    if i % 17 == 0:
        return b"NOTAUDIOJUNKJUNK"
    j = i // 2
    if i % 2 == 0:  # WAV
        rate = _WAV_RATES[j % 4]
        channels = 1 + j % 2
        n_samples = 1600 + j % 100
        data = b"\x00" * (n_samples * channels * 2)
        fmt = (
            b"fmt " + (16).to_bytes(4, "little")
            + (1).to_bytes(2, "little")            # PCM
            + channels.to_bytes(2, "little")
            + rate.to_bytes(4, "little")
            + (rate * channels * 2).to_bytes(4, "little")
            + (channels * 2).to_bytes(2, "little")
            + (16).to_bytes(2, "little")
        )
        body = b"WAVE" + fmt + b"data" + len(data).to_bytes(4, "little") + data
        return b"RIFF" + len(body).to_bytes(4, "little") + body
    n_frames = 5 + j % 10
    frame_len = 144 * 128 * 1000 // 44100  # 417, padding bit 0
    header = bytes((0xFF, 0xFB, 0x90, 0x00))  # MPEG1 L3, 128k, 44.1k, stereo
    frame = header + b"\x00" * (frame_len - 4)
    id3 = b""
    if j % 2 == 1:
        id3 = b"ID3\x04\x00\x00" + bytes((0, 0, 0, 32)) + b"\x00" * 32
    return id3 + frame * n_frames


# ---------------------------------------------------------------------------
# video container metadata: ISO BMFF (MP4) box walk, no codec libraries
# ---------------------------------------------------------------------------

VIDEO_META_DDL = (
    "format string, brand string, duration_e3 bigint, "
    "n_tracks int, width int, height int, n_bytes bigint"
)


def _iter_boxes(b: bytes, i: int, end: int):
    """Yield (type, payload_start, payload_end) for ISO BMFF boxes in
    b[i:end]; handles 64-bit largesize (size==1) and to-end (size==0)."""
    n = end
    while i + 8 <= n:
        size = int.from_bytes(b[i : i + 4], "big")
        typ = b[i + 4 : i + 8]
        hdr = 8
        if size == 1:
            if i + 16 > n:
                return
            size = int.from_bytes(b[i + 8 : i + 16], "big")
            hdr = 16
        elif size == 0:
            size = n - i
        if size < hdr or i + size > n:
            return  # malformed/truncated: stop, never raise
        yield typ, i + hdr, i + size
        i += size


def parse_video_header(b: bytes):
    """(format, brand, duration_e3, n_tracks, width, height) from an
    ISO BMFF (MP4) byte string, or all-None when the payload is not a
    recognizable container.

    ftyp gives the major brand; moov/mvhd gives timescale + duration
    (version 0 = 32-bit fields, version 1 = 64-bit); trak children are
    counted and the FIRST trak's tkhd yields width/height (16.16
    fixed-point, integer part).  duration_e3 = duration * 1000 //
    timescale — exact integer milliseconds.  Decode-free: only box
    headers are touched, the mdat payload is never read — the fraction
    of the file a metadata pass over an object store actually fetches.
    """
    brand = None
    dur = n_tracks = width = height = None
    saw_box = False
    for typ, ps, pe in _iter_boxes(b, 0, len(b)):
        saw_box = True
        if typ == b"ftyp" and pe - ps >= 4:
            brand = b[ps : ps + 4].decode("ascii", "replace")
        elif typ == b"moov":
            n_tracks = 0
            for ctyp, cps, cpe in _iter_boxes(b, ps, pe):
                if ctyp == b"mvhd" and cpe - cps >= 4:
                    ver = b[cps]
                    if ver == 1 and cpe - cps >= 32:
                        scale = int.from_bytes(b[cps + 20 : cps + 24], "big")
                        d = int.from_bytes(b[cps + 24 : cps + 32], "big")
                    elif cpe - cps >= 24:
                        scale = int.from_bytes(b[cps + 12 : cps + 16], "big")
                        d = int.from_bytes(b[cps + 16 : cps + 20], "big")
                    else:
                        continue
                    if scale:
                        dur = d * 1000 // scale
                elif ctyp == b"trak":
                    n_tracks += 1
                    if width is None:
                        for ttyp, tps, tpe in _iter_boxes(b, cps, cpe):
                            if ttyp == b"tkhd" and tpe - tps >= 84:
                                width = int.from_bytes(
                                    b[tpe - 8 : tpe - 4], "big") >> 16
                                height = int.from_bytes(
                                    b[tpe - 4 : tpe], "big") >> 16
                                break
    if not saw_box or brand is None:
        return None, None, None, None, None, None
    return "mp4", brand, dur, n_tracks, width, height


def video_meta(df: DataFrame, payload_col: str = "payload",
               id_col: str = "doc_id") -> DataFrame:
    """Per-item video metadata via per-document box parsing: (doc_id,
    format, brand, duration_e3, n_tracks, width, height, n_bytes);
    NULL fields for unrecognized payloads.  Same plan shape as
    image_meta/audio_meta: stateless per-document map, zero shuffle."""
    return _parse_payloads(df, lambda b: parse_video_header(b) + (len(b),),
                           VIDEO_META_DDL, payload_col, id_col)


_VID_W = (640, 1280, 1920, 320)
_VID_H = (360, 720, 1080, 240)


def _box(typ: bytes, payload: bytes) -> bytes:
    return (8 + len(payload)).to_bytes(4, "big") + typ + payload


def synth_video_bytes(i: int) -> bytes:
    """Deterministic MP4 bytes for doc #i: garbage every 19th doc, else
    ftyp (brand isom/mp42 by i%2) + moov{mvhd, n trak{tkhd}} with
    timescale 600/1000 (i%2), duration units 3000 + i%500, mvhd
    version 1 every 5th doc (64-bit fields), 1 + i%3 tracks, WxH from
    _VID_W/_VID_H[i%4].  Every field (and total byte count) is
    recomputable arithmetically from doc_id by the SQL oracle."""
    if i % 19 == 0:
        return b"NOTVIDEOJNK!"
    brand = b"isom" if i % 2 == 0 else b"mp42"
    scale = 600 if i % 2 == 0 else 1000
    dur = 3000 + i % 500
    n_tracks = 1 + i % 3
    w, h = _VID_W[i % 4], _VID_H[i % 4]
    ftyp = _box(b"ftyp", brand + (0).to_bytes(4, "big") + brand)
    if i % 5 == 0:  # version 1: 64-bit creation/modification/duration
        mvhd_p = (
            bytes((1, 0, 0, 0)) + (0).to_bytes(8, "big") * 2
            + scale.to_bytes(4, "big") + dur.to_bytes(8, "big")
            + (0x00010000).to_bytes(4, "big") + (0x0100).to_bytes(2, "big")
            + b"\x00" * 10 + b"\x00" * 36 + b"\x00" * 24
            + (n_tracks + 1).to_bytes(4, "big")
        )
    else:
        mvhd_p = (
            bytes((0, 0, 0, 0)) + (0).to_bytes(4, "big") * 2
            + scale.to_bytes(4, "big") + dur.to_bytes(4, "big")
            + (0x00010000).to_bytes(4, "big") + (0x0100).to_bytes(2, "big")
            + b"\x00" * 10 + b"\x00" * 36 + b"\x00" * 24
            + (n_tracks + 1).to_bytes(4, "big")
        )
    tkhd_p = (
        bytes((0, 0, 0, 0)) + b"\x00" * 20 + b"\x00" * 8 + b"\x00" * 8
        + b"\x00" * 36
        + (w << 16).to_bytes(4, "big") + (h << 16).to_bytes(4, "big")
    )
    trak = _box(b"trak", _box(b"tkhd", tkhd_p))
    moov = _box(b"moov", _box(b"mvhd", mvhd_p) + trak * n_tracks)
    return ftyp + moov


# ---------------------------------------------------------------------------
# EXIF metadata: JPEG APP1 segment walk + TIFF IFD0 parse, no codec libraries
# ---------------------------------------------------------------------------

EXIF_META_DDL = (
    "has_exif boolean, byte_order string, orientation int, "
    "make string, dt string"
)

_EXIF_TAGS = {0x010F: "make", 0x0112: "orientation", 0x0132: "dt"}


def parse_exif(b: bytes):
    """(has_exif, byte_order, orientation, make, dt) from a JPEG's APP1
    EXIF segment, or (False, None, None, None, None) when absent/corrupt.

    The TIFF structure inside APP1 is walked directly: byte-order mark
    (II little / MM big), magic 42, IFD0 entry table; tags pulled are
    Orientation (0x0112, SHORT inline), Make (0x010F, ASCII) and
    DateTime (0x0132, ASCII) — the rotation/provenance/timestamp triple
    an image-corpus pipeline filters and shards on WITHOUT decoding a
    pixel (same decode-free discipline as parse_image_header).  ASCII
    values longer than 4 bytes live at an offset relative to the TIFF
    header; trailing NULs are stripped.  Never raises on garbage.
    """
    none = (False, None, None, None, None)
    if b[:2] != b"\xff\xd8":
        return none
    i, n = 2, len(b)
    tiff = None
    while i + 4 <= n:
        if b[i] != 0xFF:
            return none
        marker = b[i + 1]
        if marker == 0xFF:
            i += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD9:
            i += 2
            continue
        seg_len = int.from_bytes(b[i + 2 : i + 4], "big")
        if seg_len < 2:
            return none
        if marker == 0xE1 and b[i + 4 : i + 10] == b"Exif\x00\x00":
            tiff = b[i + 10 : i + 2 + seg_len]
            break
        i += 2 + seg_len
    if tiff is None or len(tiff) < 8:
        return none
    if tiff[:2] == b"II":
        order = "little"
    elif tiff[:2] == b"MM":
        order = "big"
    else:
        return none
    if int.from_bytes(tiff[2:4], order) != 42:
        return none
    ifd = int.from_bytes(tiff[4:8], order)
    if ifd + 2 > len(tiff):
        return none
    count = int.from_bytes(tiff[ifd : ifd + 2], order)
    out = {"orientation": None, "make": None, "dt": None}
    for k in range(count):
        e = ifd + 2 + 12 * k
        if e + 12 > len(tiff):
            break
        tag = int.from_bytes(tiff[e : e + 2], order)
        name = _EXIF_TAGS.get(tag)
        if name is None:
            continue
        typ = int.from_bytes(tiff[e + 2 : e + 4], order)
        cnt = int.from_bytes(tiff[e + 4 : e + 8], order)
        val = tiff[e + 8 : e + 12]
        if name == "orientation" and typ == 3:  # SHORT, inline
            out[name] = int.from_bytes(val[:2], order)
        elif typ == 2:  # ASCII: inline <= 4 bytes, else offset
            if cnt <= 4:
                raw = val[:cnt]
            else:
                off = int.from_bytes(val, order)
                raw = tiff[off : off + cnt]
            out[name] = raw.rstrip(b"\x00").decode("ascii", "replace")
    return (True, "II" if order == "little" else "MM",
            out["orientation"], out["make"], out["dt"])


def exif_meta(df: DataFrame, payload_col: str = "payload",
              id_col: str = "doc_id") -> DataFrame:
    """Per-image EXIF metadata via per-document byte parsing: (doc_id,
    has_exif, byte_order, orientation, make, dt).  Stateless map, zero
    shuffles — rides the scan partitioning like image_meta; the
    orientation column is what a training pipeline's rotate-normalize
    step keys on, make/dt the provenance shard keys."""
    return _parse_payloads(df, parse_exif, EXIF_META_DDL,
                           payload_col, id_col)


def synth_exif_bytes(i: int) -> bytes:
    """Deterministic JPEG-with-EXIF bytes for doc #i: byte order II/MM
    by i%2, orientation 1 + i%8, make 'Cam<i%5>', datetime day
    1 + i%28; the i%4==3 band emits a plain JPEG with NO APP1 so the
    absence path is load-bearing.  The SQL oracle recomputes every
    field from i arithmetically."""
    if i % 4 == 3:
        return synth_image_bytes(3 * i + 1)  # some non-EXIF image
    order = "little" if i % 2 == 0 else "big"
    mark = b"II" if i % 2 == 0 else b"MM"
    make = ("Cam%d" % (i % 5)).encode() + b"\x00"       # 5 bytes
    dt = ("2026:01:%02d 12:00:00" % (1 + i % 28)).encode() + b"\x00"

    def u(v, n):
        return v.to_bytes(n, order)

    # IFD0: 3 entries, data area starts at 8 + 2 + 36 + 4 = 50
    make_off, dt_off = 50, 50 + len(make)
    entries = (
        u(0x010F, 2) + u(2, 2) + u(len(make), 4) + u(make_off, 4)
        + u(0x0112, 2) + u(3, 2) + u(1, 4) + u(1 + i % 8, 2) + b"\x00\x00"
        + u(0x0132, 2) + u(2, 2) + u(len(dt), 4) + u(dt_off, 4)
    )
    tiff = mark + u(42, 2) + u(8, 4) + u(3, 2) + entries + u(0, 4) \
        + make + dt
    app1 = b"\xff\xe1" + (2 + 6 + len(tiff)).to_bytes(2, "big") \
        + b"Exif\x00\x00" + tiff
    return b"\xff\xd8" + app1 + b"\xff\xd9"


# Magic-byte table for payload sniffing, as (hex_prefix, hex_offset,
# mime) with hex_offset the 1-based position in the HEX string (byte k
# -> hex position 2k+1).  Ordered most-specific-first; first match
# wins.  The DuckDB oracle CASE in __spark_entry__ is generated from
# this tuple so the two can never drift.
MAGIC_RULES = (
    ("255044462D", 1, "application/pdf"),        # %PDF-
    ("89504E470D0A1A0A", 1, "image/png"),
    ("FFD8FF", 1, "image/jpeg"),
    ("47494638", 1, "image/gif"),                # GIF87a / GIF89a
    ("57454250", 17, "image/webp"),              # RIFF....WEBP
    ("57415645", 17, "audio/wav"),               # RIFF....WAVE
    ("52494646", 1, "application/riff"),         # other RIFF
    ("1F8B", 1, "application/gzip"),
    ("504B0304", 1, "application/zip"),
    ("4F676753", 1, "application/ogg"),          # OggS
    ("494433", 1, "audio/mpeg"),                 # ID3
    ("66747970", 9, "video/mp4"),                # ....ftyp at byte 5
    ("3C21", 1, "text/html"),                    # <!doctype / <!--
    ("3C68746D6C", 1, "text/html"),              # <html
    ("3C48544D4C", 1, "text/html"),              # <HTML
)

# hex-pair classes for "printable ASCII or tab/LF/CR" — one byte is two
# hex chars, so the whole prefix being text is an anchored repeat of
# these pairs (09/0A/0D, 20-7E).
_TEXT_HEX_RE = "^(0[9AD]|[2-6][0-9A-F]|7[0-9AE])*$"


def mime_sniff(df: DataFrame, payload_col: str = "payload",
               id_col: str = "doc_id", prefix_bytes: int = 32) -> DataFrame:
    """Content-type sniffing over opaque binary payloads — the routing
    step of a mixed-media crawl (WARC payloads carry server-declared
    Content-Type headers that are wrong often enough that every real
    pipeline re-sniffs magic bytes before dispatching to the HTML /
    PDF / image / media branches).

    Matches the MAGIC_RULES table over the hex of the first
    ``prefix_bytes`` bytes (binary slice FIRST, so a 100 MB payload
    contributes 64 hex chars, not 200 MB); unmatched payloads fall back
    to text/plain when every prefix byte is printable ASCII (hex-pair
    class match — no decode, no invalid-UTF8 risk), else
    application/octet-stream.

    Returns (id, mime, sniff_hex, n_bytes).  Pure column expressions —
    zero shuffles, codegen-resident; composes as the partition key for a
    by-modality write."""
    from pyspark.sql import functions as F

    hx = F.hex(F.substring(F.col(payload_col), 1, prefix_bytes))
    # fold most-specific-first: build from the END of the table so the
    # FIRST rule ends up outermost
    mime = F.when(
        F.regexp_like(hx, F.lit(_TEXT_HEX_RE)), F.lit("text/plain")
    ).otherwise(F.lit("application/octet-stream"))
    for pat, off, m in reversed(MAGIC_RULES):
        mime = F.when(
            F.substring(hx, off, len(pat)) == pat, F.lit(m)
        ).otherwise(mime)
    return df.select(
        id_col,
        mime.alias("mime"),
        hx.alias("sniff_hex"),
        F.octet_length(F.col(payload_col)).cast("long").alias("n_bytes"),
    )
