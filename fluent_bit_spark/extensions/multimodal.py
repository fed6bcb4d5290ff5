"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Metadata decode is REAL at the container-header level: pure-Python parsers
for the public PNG/JPEG/GIF/BMP/WAV formats (``parse_media_header``) read
width/height/channels/bit depth/sample rate/duration from the payload
bytes — exactly what scale metadata extraction reads, since full
pixel/sample decode is never done in the scan path. ``decode_stub``
remains as the deterministic fake for plumbing tests. Full pixel/sample
decode (resize, frame extraction) would need codec libraries not present
in this environment; the Spark-side plumbing for it — binary columns,
Arrow-batched mapInPandas, explicit schemas, batch-shape control — is the
same code path exercised here.

At 100 TB the pattern is: binary payloads stay columnar in parquet,
metadata extraction runs as mapInPandas over row groups (one Arrow batch
per ~N rows), and downstream filters use only the typed metadata so the
binary column is pruned from scans that don't need it.
"""

from __future__ import annotations

import functools as _functools
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import (
    NearDupHistory, append_to_history, filter_history,
)

MEDIA_META_SCHEMA = (
    "media_id bigint, kind string, n_bytes int, fake_width int, fake_height int, "
    "fake_duration_ms int, sha string"
)


def to_media_frame(df: DataFrame, id_col: str, payload_col, kind: str) -> DataFrame:
    """Wrap an arbitrary source as (media_id, kind, content binary)."""
    return df.select(
        F.col(id_col).cast("bigint").alias("media_id"),
        F.lit(kind).alias("kind"),
        payload_col.cast("binary").alias("content"),
    )


def decode_stub(content: bytes, kind: str) -> dict:
    """Deterministic fake decode. A real deployment swaps this for
    PIL/ffmpeg; everything around it (schema, batching, pruning) is the
    production path."""
    n = len(content or b"")
    return {
        "n_bytes": n,
        "fake_width": (n % 640) + 1,
        "fake_height": (n % 480) + 1,
        "fake_duration_ms": (n * 7) % 10000,
    }


# --------------------------------------------------------------------------
# Real container-header decoding — pure-Python parsers for the public file
# formats (PNG, JPEG, GIF, BMP, WAV). Pixel/sample decode below covers
# BMP/PPM/PGM/WAV (pure numpy), PNG (stdlib zlib + numpy unfilter), and
# baseline AND progressive JPEG (pure-numpy Huffman + IDCT); GIF/LZW;
# 16-bit/interlaced PNG remains header-only — the documented envelope.
# --------------------------------------------------------------------------
import struct as _struct

MEDIA_HEADER_SCHEMA = (
    "media_id bigint, format string, width int, height int, channels int, "
    "bit_depth int, sample_rate int, duration_ms int, n_bytes int, sha string"
)


def parse_media_header(b: bytes) -> dict:
    """Sniff + parse the container header of a media payload. Returns a dict
    with ``format`` plus whichever of width/height/channels/bit_depth/
    sample_rate/duration_ms the format carries; unknown bytes -> format
    'unknown' with everything null."""
    out = {"format": "unknown", "width": None, "height": None, "channels": None,
           "bit_depth": None, "sample_rate": None, "duration_ms": None}
    if not b:
        return out
    try:
        if b[:8] == b"\x89PNG\r\n\x1a\n" and b[12:16] == b"IHDR":
            w, h = _struct.unpack(">II", b[16:24])
            depth, color_type = b[24], b[25]
            nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
            out.update(format="png", width=w, height=h, channels=nch, bit_depth=depth)
        elif b[:2] == b"\xff\xd8":
            off = 2
            while off + 4 <= len(b):
                if b[off] != 0xFF:
                    break
                marker = b[off + 1]
                if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                    off += 2
                    continue
                seglen = _struct.unpack(">H", b[off + 2 : off + 4])[0]
                # SOF0-SOF15 except DHT(C4)/JPG(C8)/DAC(CC) carry dimensions
                if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                    depth = b[off + 4]
                    h, w = _struct.unpack(">HH", b[off + 5 : off + 9])
                    nch = b[off + 9]
                    out.update(format="jpeg", width=w, height=h, channels=nch,
                               bit_depth=depth)
                    break
                off += 2 + seglen
        elif b[:6] in (b"GIF87a", b"GIF89a"):
            w, h = _struct.unpack("<HH", b[6:10])
            out.update(format="gif", width=w, height=h, bit_depth=(b[10] & 0x07) + 1)
        elif b[:2] == b"BM" and len(b) >= 26:
            w, h = _struct.unpack("<ii", b[18:26])
            out.update(format="bmp", width=w, height=abs(h))
            if len(b) >= 30:
                out["bit_depth"] = _struct.unpack("<H", b[28:30])[0]
        elif b[:4] == b"RIFF" and b[8:12] == b"WAVE":
            off = 12
            nch = rate = bits = None
            data_len = None
            while off + 8 <= len(b):
                cid = b[off : off + 4]
                clen = _struct.unpack("<I", b[off + 4 : off + 8])[0]
                if cid == b"fmt ":
                    nch, rate = _struct.unpack("<HI", b[off + 10 : off + 16])
                    bits = _struct.unpack("<H", b[off + 22 : off + 24])[0]
                elif cid == b"data":
                    data_len = clen
                off += 8 + clen + (clen & 1)  # chunks are word-aligned
            out.update(format="wav", channels=nch, sample_rate=rate, bit_depth=bits)
            if None not in (nch, rate, bits, data_len) and nch and rate and bits:
                frames = data_len // (nch * (bits // 8))
                out["duration_ms"] = int(frames * 1000 // rate)
        elif b[:4] == b"RIFF" and b[8:12] == b"WEBP" and len(b) >= 20:
            cid = b[12:16]
            if cid == b"VP8 " and len(b) >= 30 and b[23:26] == b"\x9d\x01\x2a":
                w = _struct.unpack("<H", b[26:28])[0] & 0x3FFF
                h = _struct.unpack("<H", b[28:30])[0] & 0x3FFF
                out.update(format="webp", width=w, height=h, channels=3,
                           bit_depth=8)
            elif cid == b"VP8L" and len(b) >= 25 and b[20] == 0x2F:
                b1, b2, b3, b4 = b[21], b[22], b[23], b[24]
                w = 1 + (((b2 & 0x3F) << 8) | b1)
                h = 1 + (((b4 & 0x0F) << 10) | (b3 << 2) | (b2 >> 6))
                alpha = (b4 >> 4) & 1
                out.update(format="webp", width=w, height=h,
                           channels=4 if alpha else 3, bit_depth=8)
            elif cid == b"VP8X" and len(b) >= 30:
                w = 1 + int.from_bytes(b[24:27], "little")
                h = 1 + int.from_bytes(b[27:30], "little")
                alpha = (b[20] >> 4) & 1
                out.update(format="webp", width=w, height=h,
                           channels=4 if alpha else 3, bit_depth=8)
            else:
                out.update(format="webp")
        elif b[:4] == b"fLaC" and len(b) >= 26:
            # first metadata block must be STREAMINFO (type 0)
            if b[4] & 0x7F == 0:
                si = b[8:]
                rate = (si[10] << 12) | (si[11] << 4) | (si[12] >> 4)
                nch = ((si[12] >> 1) & 0x07) + 1
                bits = (((si[12] & 1) << 4) | (si[13] >> 4)) + 1
                total = ((si[13] & 0x0F) << 32) | int.from_bytes(
                    si[14:18], "big"
                )
                out.update(format="flac", channels=nch, sample_rate=rate,
                           bit_depth=bits)
                if rate and total:
                    out["duration_ms"] = int(total * 1000 // rate)
            else:
                out.update(format="flac")
        elif b[:3] == b"ID3" or (
            len(b) >= 4 and b[0] == 0xFF and (b[1] & 0xE0) == 0xE0
        ):
            off = 0
            if b[:3] == b"ID3" and len(b) >= 10:
                # syncsafe tag size, then the first MPEG frame follows
                sz = ((b[6] & 0x7F) << 21 | (b[7] & 0x7F) << 14
                      | (b[8] & 0x7F) << 7 | (b[9] & 0x7F))
                off = 10 + sz
            hdr_ok = False
            if off + 4 <= len(b) and b[off] == 0xFF and (
                b[off + 1] & 0xE0
            ) == 0xE0:
                ver = (b[off + 1] >> 3) & 3  # 3=MPEG1, 2=MPEG2, 0=MPEG2.5
                layer = (b[off + 1] >> 1) & 3  # 1=III, 2=II, 3=I
                br_idx = (b[off + 2] >> 4) & 0xF
                sr_idx = (b[off + 2] >> 2) & 3
                mode = (b[off + 3] >> 6) & 3
                rates = _MP3_RATES.get(ver)
                # a bare 0xFF 0xEx prefix is NOT evidence of mp3 — the
                # whole header must validate: version not reserved (1),
                # layer not reserved (0), sample-rate index < 3, bitrate
                # index not free-format (0) or forbidden (0xF). Arbitrary
                # binary starting 0xFF 0xEx stays "unknown".
                if (rates is not None and sr_idx < 3 and layer != 0
                        and 0 < br_idx < 15):
                    hdr_ok = True
                    out.update(
                        format="mp3",
                        sample_rate=rates[sr_idx],
                        channels=1 if mode == 3 else 2,
                    )
            if not hdr_ok and b[:3] == b"ID3":
                # the tag magic alone is the evidence when the first
                # frame header is absent from (or invalid in) the prefix
                out.update(format="mp3")
        elif b[:4] in (b"II*\x00", b"MM\x00*") and len(b) >= 8:
            end = "<" if b[:2] == b"II" else ">"
            ifd = _struct.unpack(end + "I", b[4:8])[0]
            n_tags = _struct.unpack(end + "H", b[ifd : ifd + 2])[0]
            vals: dict[int, int] = {}
            for t in range(min(n_tags, 64)):
                e = ifd + 2 + 12 * t
                tag, typ, cnt = _struct.unpack(end + "HHI", b[e : e + 8])
                if cnt != 1:
                    continue  # multi-value (e.g. per-channel bits): offset
                if typ == 3:  # SHORT
                    vals[tag] = _struct.unpack(end + "H", b[e + 8 : e + 10])[0]
                elif typ == 4:  # LONG
                    vals[tag] = _struct.unpack(end + "I", b[e + 8 : e + 12])[0]
            out.update(
                format="tiff",
                width=vals.get(256),
                height=vals.get(257),
                bit_depth=vals.get(258),
                channels=vals.get(277),
            )
    except (IndexError, _struct.error):
        return {"format": "unknown", "width": None, "height": None, "channels": None,
                "bit_depth": None, "sample_rate": None, "duration_ms": None}
    return out


# minimal encoders for the same formats — test/synthesis support (valid
# headers, deterministic filler payload)
def make_png(w: int, h: int, bit_depth: int = 8, color_type: int = 2) -> bytes:
    ihdr = _struct.pack(">II", w, h) + bytes([bit_depth, color_type, 0, 0, 0])
    return (b"\x89PNG\r\n\x1a\n" + _struct.pack(">I", 13) + b"IHDR" + ihdr
            + b"\x00\x00\x00\x00" + _struct.pack(">I", 0) + b"IEND\x00\x00\x00\x00")


def make_jpeg(w: int, h: int, channels: int = 3) -> bytes:
    sof = b"\xff\xc0" + _struct.pack(">H", 8 + 3 * channels) + b"\x08"
    sof += _struct.pack(">HH", h, w) + bytes([channels])
    sof += b"".join(bytes([i + 1, 0x11, 0]) for i in range(channels))
    return b"\xff\xd8" + sof + b"\xff\xd9"


def make_gif(w: int, h: int) -> bytes:
    return b"GIF89a" + _struct.pack("<HH", w, h) + b"\x77\x00\x00" + b"\x3b"


def make_bmp(w: int, h: int, bits: int = 24) -> bytes:
    dib = _struct.pack("<IiiHH", 40, w, h, 1, bits) + b"\x00" * 24
    return b"BM" + _struct.pack("<IHHI", 54, 0, 0, 54) + dib


def make_wav(channels: int, sample_rate: int, bits: int, n_frames: int) -> bytes:
    data_len = n_frames * channels * (bits // 8)
    fmt = _struct.pack("<HHIIHH", 1, channels, sample_rate,
                       sample_rate * channels * (bits // 8),
                       channels * (bits // 8), bits)
    return (b"RIFF" + _struct.pack("<I", 36 + data_len) + b"WAVE"
            + b"fmt " + _struct.pack("<I", 16) + fmt
            + b"data" + _struct.pack("<I", data_len) + b"\x00" * data_len)


def make_webp(w: int, h: int, variant: str = "vp8") -> bytes:
    """Minimal WebP header fixture: 'vp8' (lossy), 'vp8l' (lossless),
    or 'vp8x' (extended canvas)."""
    if variant == "vp8":
        payload = (b"\x00\x00\x00" + b"\x9d\x01\x2a"
                   + _struct.pack("<HH", w & 0x3FFF, h & 0x3FFF))
        chunk = b"VP8 " + _struct.pack("<I", len(payload)) + payload
    elif variant == "vp8l":
        ww, hh = w - 1, h - 1
        bits = ww | (hh << 14)
        payload = bytes([0x2F, bits & 0xFF, (bits >> 8) & 0xFF,
                         (bits >> 16) & 0xFF, (bits >> 24) & 0x0F])
        chunk = b"VP8L" + _struct.pack("<I", len(payload)) + payload
    elif variant == "vp8x":
        payload = (b"\x00\x00\x00\x00"
                   + (w - 1).to_bytes(3, "little")
                   + (h - 1).to_bytes(3, "little"))
        chunk = b"VP8X" + _struct.pack("<I", len(payload)) + payload
    else:
        raise ValueError("variant must be vp8 / vp8l / vp8x")
    if len(chunk) % 2:
        chunk += b"\x00"
    return b"RIFF" + _struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def make_flac(
    sample_rate: int, channels: int, bits: int, total_samples: int
) -> bytes:
    """Minimal FLAC STREAMINFO fixture."""
    si = bytearray(34)
    si[0:2] = _struct.pack(">H", 4096)  # min blocksize
    si[2:4] = _struct.pack(">H", 4096)
    si[10] = (sample_rate >> 12) & 0xFF
    si[11] = (sample_rate >> 4) & 0xFF
    si[12] = (((sample_rate & 0x0F) << 4)
              | ((channels - 1) << 1) | ((bits - 1) >> 4))
    si[13] = (((bits - 1) & 0x0F) << 4) | ((total_samples >> 32) & 0x0F)
    si[14:18] = _struct.pack(">I", total_samples & 0xFFFFFFFF)
    return b"fLaC" + bytes([0x80]) + len(si).to_bytes(3, "big") + bytes(si)


# Layer III bitrate tables (kbps; index 0 = free-format, 15 = forbidden)
# straight from ISO/IEC 11172-3 (MPEG-1) and 13818-3 (MPEG-2/2.5 LSF) —
# shared by the sniffer fixture and the frame plan. The LSF table is NOT
# 8*index: it diverges above index 8 (80/96/112/128/144/160).
_MP3_BITRATES_V1L3 = (
    None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320,
)
_MP3_BITRATES_V2L3 = (
    None, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160,
)
_MP3_RATES = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000),
              0: (11025, 12000, 8000)}


def mp3_frame_table(b: bytes) -> list[tuple[int, int, int, int]] | None:
    """The audio member of the frame-plan family: [(frame_idx, ts_ms,
    size, absolute_byte_offset)] by walking MPEG audio frame headers —
    an ID3v2 tag is skipped by its syncsafe size, each frame's length
    derives from the header's bitrate/sample-rate/padding fields
    (ISO/IEC 11172-3 Layer III ONLY: len = 144*bitrate/rate + pad for
    MPEG-1, 72*bitrate/rate + pad for MPEG-2/2.5 LSF; Layer I/II
    streams stop the walk — out of envelope), and ts_ms accumulates
    samples-per-frame over the sample rate. Like mp4_sample_table, each row is an
    independent (offset, size) range-read decode task — the unit a
    1000-executor transcode fans out over; no stateful scan. The walk
    stops at the first non-frame byte (ID3v1 'TAG' trailer, truncation,
    garbage) — filter, don't crash. None when no valid frame exists.
    Envelope: constant version/layer within a stream (the broadcast
    norm); free-format (bitrate index 0) returns what was walked so
    far."""
    try:
        off = 0
        if b[:3] == b"ID3" and len(b) >= 10:
            off = 10 + ((b[6] & 0x7F) << 21 | (b[7] & 0x7F) << 14
                        | (b[8] & 0x7F) << 7 | (b[9] & 0x7F))
        out: list[tuple[int, int, int, int]] = []
        samples = 0
        rate0 = None
        while off + 4 <= len(b):
            if b[off] != 0xFF or (b[off + 1] & 0xE0) != 0xE0:
                break
            ver = (b[off + 1] >> 3) & 3
            layer = (b[off + 1] >> 1) & 3
            br_idx = (b[off + 2] >> 4) & 0xF
            sr_idx = (b[off + 2] >> 2) & 3
            pad = (b[off + 2] >> 1) & 1
            rates = _MP3_RATES.get(ver)
            if (rates is None or sr_idx >= 3 or layer == 0
                    or br_idx in (0, 15)):
                break
            rate = rates[sr_idx]
            if layer != 1:
                break  # envelope: Layer III only (the broadcast norm)
            if ver == 3:
                br = _MP3_BITRATES_V1L3[br_idx]
                spf = 1152
                size = 144 * br * 1000 // rate + pad
            else:
                # MPEG-2/2.5 LSF: 576 samples/frame, half the slot count
                br = _MP3_BITRATES_V2L3[br_idx]
                spf = 576
                size = 72 * br * 1000 // rate + pad
            if rate0 is None:
                rate0 = rate
            if size < 4 or off + size > len(b):
                break  # torn trailing frame: plan only complete reads
            out.append((len(out), samples * 1000 // rate0, size, off))
            samples += spf
            off += size
        return out or None
    except IndexError:
        return None


def make_mp3_frames(
    n: int,
    sample_rate: int = 44100,
    bitrate_kbps: int = 128,
    pad_pattern: int = 0,
    id3_size: int | None = None,
    id3v1_trailer: bool = False,
) -> bytes:
    """Multi-frame MPEG-1 Layer III fixture: ``n`` frames of
    deterministic filler (frame g's codec payload is chr(65 + g%26)
    repeated), frame g padded when bit g of ``pad_pattern`` is set,
    optionally behind an ID3v2 tag of ``id3_size`` payload bytes and/or
    before a 128-byte ID3v1 'TAG' trailer (both of which the frame plan
    must skip / stop at)."""
    br_idx = _MP3_BITRATES_V1L3.index(bitrate_kbps)
    sr_idx = {44100: 0, 48000: 1, 32000: 2}[sample_rate]
    out = bytearray()
    if id3_size is not None:
        out += b"ID3\x04\x00\x00" + bytes(
            [(id3_size >> 21) & 0x7F, (id3_size >> 14) & 0x7F,
             (id3_size >> 7) & 0x7F, id3_size & 0x7F]
        ) + b"\x00" * id3_size
    for g in range(n):
        pad = (pad_pattern >> g) & 1
        size = 144 * bitrate_kbps * 1000 // sample_rate + pad
        hdr = bytes([
            0xFF,
            0xE0 | (3 << 3) | (1 << 1),          # MPEG1, Layer III
            (br_idx << 4) | (sr_idx << 2) | (pad << 1),
            0x00,
        ])
        out += hdr + bytes([65 + g % 26]) * (size - 4)
    if id3v1_trailer:
        out += b"TAG" + b"\x00" * 125
    return bytes(out)


# ADTS sampling_frequency_index table (ISO/IEC 14496-3, 1.6.3.4) —
# shared by the frame plan and the fixture writer.
_ADTS_RATES = (96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
               16000, 12000, 11025, 8000, 7350)


def adts_frame_table(b: bytes) -> list[tuple[int, int, int, int]] | None:
    """mp3_frame_table's AAC sibling — the in-MP4 and raw-stream audio
    format real crawls actually carry: [(frame_idx, ts_ms, size,
    absolute_byte_offset)] by walking ADTS headers (ISO/IEC 13818-7 /
    14496-3). An ID3v2 tag is skipped by its syncsafe size (".aac"
    files do ship tagged); each frame's length is read DIRECTLY from
    the 13-bit aac_frame_length field (unlike MP3 there is no bitrate
    arithmetic — the header carries the byte count, including the 7- or
    9-byte header itself per protection_absent), and ts_ms accumulates
    1024 samples per raw data block over the sampling-frequency-index
    rate. Like mp4_sample_table, each row is an independent (offset,
    size) range-read decode task — no stateful scan. The walk stops at
    the first non-frame byte (truncation, garbage, an ID3v1 trailer) —
    filter, don't crash. None when no valid frame exists."""
    try:
        off = 0
        if b[:3] == b"ID3" and len(b) >= 10:
            off = 10 + ((b[6] & 0x7F) << 21 | (b[7] & 0x7F) << 14
                        | (b[8] & 0x7F) << 7 | (b[9] & 0x7F))
        out: list[tuple[int, int, int, int]] = []
        samples = 0
        rate0 = None
        while off + 7 <= len(b):
            # syncword 0xFFF, layer must be 00 in ADTS
            if (b[off] != 0xFF or (b[off + 1] & 0xF0) != 0xF0
                    or (b[off + 1] >> 1) & 3 != 0):
                break
            prot_absent = b[off + 1] & 1
            sf_idx = (b[off + 2] >> 2) & 0xF
            if sf_idx >= len(_ADTS_RATES):
                break
            flen = (((b[off + 3] & 0x03) << 11) | (b[off + 4] << 3)
                    | (b[off + 5] >> 5))
            hdr = 7 if prot_absent else 9  # CRC adds 2 bytes
            if flen < hdr or off + flen > len(b):
                break  # torn trailing frame: plan only complete reads
            rdb = b[off + 6] & 0x03  # number_of_raw_data_blocks - 1
            rate = _ADTS_RATES[sf_idx]
            if rate0 is None:
                rate0 = rate
            out.append((len(out), samples * 1000 // rate0, flen, off))
            samples += 1024 * (rdb + 1)
            off += flen
        return out or None
    except IndexError:
        return None


def make_adts_frames(
    n: int,
    sample_rate: int = 44100,
    profile: int = 1,
    channels: int = 2,
    payload_size: int | list[int] = 50,
    crc_pattern: int = 0,
    id3_size: int | None = None,
) -> bytes:
    """Multi-frame ADTS fixture: frame g's codec payload is
    chr(65 + g%26) repeated payload_size[g] (or the scalar
    ``payload_size``) bytes; frame g carries a CRC
    (protection_absent=0, 9-byte header with two zero CRC bytes) when
    bit g of ``crc_pattern`` is set; optionally behind an ID3v2 tag of
    ``id3_size`` payload bytes."""
    sf_idx = _ADTS_RATES.index(sample_rate)
    out = bytearray()
    if id3_size is not None:
        out += b"ID3\x04\x00\x00" + bytes(
            [(id3_size >> 21) & 0x7F, (id3_size >> 14) & 0x7F,
             (id3_size >> 7) & 0x7F, id3_size & 0x7F]
        ) + b"\x00" * id3_size
    for g in range(n):
        crc = (crc_pattern >> g) & 1
        hdr = 9 if crc else 7
        psize = (
            payload_size[g] if isinstance(payload_size, list) else payload_size
        )
        flen = hdr + psize
        out += bytes([
            0xFF,
            0xF0 | (0 << 3) | (0 << 1) | (0 if crc else 1),  # MPEG-4, layer 00
            ((profile & 3) << 6) | (sf_idx << 2) | ((channels >> 2) & 1),
            ((channels & 3) << 6) | ((flen >> 11) & 3),
            (flen >> 3) & 0xFF,
            ((flen & 7) << 5) | 0x1F,        # buffer fullness hi (VBR)
            0xFC,                            # fullness lo | rdb = 0
        ])
        if crc:
            out += b"\x00\x00"
        out += bytes([65 + g % 26]) * psize
    return bytes(out)


def make_mp3(
    sample_rate: int = 44100, stereo: bool = True, id3: bool = False
) -> bytes:
    """Minimal MPEG-1 Layer III frame-header fixture, optionally behind
    an (empty) ID3v2 tag."""
    sr_idx = {44100: 0, 48000: 1, 32000: 2}[sample_rate]
    hdr = bytes([
        0xFF,
        0xE0 | (3 << 3) | (1 << 1),             # MPEG1, Layer III
        (9 << 4) | (sr_idx << 2),               # bitrate idx 9, sr idx
        (0x00 if stereo else 0xC0),
    ])
    body = hdr + b"\x00" * 16
    if id3:
        return b"ID3\x04\x00\x00" + bytes([0, 0, 0, 8]) + b"\x00" * 8 + body
    return body


def make_tiff(
    w: int, h: int, bits: int = 8, channels: int = 1, big_endian: bool = False
) -> bytes:
    """Minimal single-IFD TIFF fixture (SHORT/LONG inline values)."""
    end = ">" if big_endian else "<"
    tags = [(256, 4, w), (257, 4, h), (258, 3, bits), (277, 3, channels)]
    out = bytearray()
    out += (b"MM\x00*" if big_endian else b"II*\x00")
    out += _struct.pack(end + "I", 8)
    out += _struct.pack(end + "H", len(tags))
    for tag, typ, val in tags:
        out += _struct.pack(end + "HHI", tag, typ, 1)
        if typ == 3:
            out += _struct.pack(end + "H", val) + b"\x00\x00"
        else:
            out += _struct.pack(end + "I", val)
    out += _struct.pack(end + "I", 0)  # no next IFD
    return bytes(out)


def real_decode(content: bytes, kind: str) -> dict:
    """Header-level decode of a media payload (see parse_media_header).
    ``kind`` is advisory — the sniffer trusts magic bytes."""
    return parse_media_header(content or b"")


def extract_media_headers(media: DataFrame) -> DataFrame:
    """mapInPandas real-header extraction: Arrow batches in, typed metadata
    out; the binary column dies here so downstream scans prune it."""
    import hashlib

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["media_id", "format", "width", "height", "channels",
                "bit_depth", "sample_rate", "duration_ms", "n_bytes", "sha"]
        for pdf in batches:
            metas = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                content = bytes(content) if content else b""
                m = parse_media_header(content)
                m["media_id"] = mid
                m["n_bytes"] = len(content)
                m["sha"] = hashlib.sha256(content).hexdigest()
                metas.append(m)
            yield pd.DataFrame(metas)[cols]

    return media.mapInPandas(extract, schema=MEDIA_HEADER_SCHEMA)


def extract_media_metadata(media: DataFrame, use_stub: bool = True) -> DataFrame:
    """mapInPandas metadata extraction: Arrow batches in, typed rows out.
    The binary column is consumed here and NOT carried downstream, so later
    stages prune it from the scan.

    ``use_stub=False`` returns the real container-header decode
    (``extract_media_headers``, MEDIA_HEADER_SCHEMA) instead of the
    deterministic fake (MEDIA_META_SCHEMA)."""
    import hashlib

    if not use_stub:
        return extract_media_headers(media)
    decode = decode_stub

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = []
            for mid, kind, content in zip(
                pdf["media_id"], pdf["kind"], pdf["content"]
            ):
                m = decode(content, kind)
                m["media_id"] = mid
                m["kind"] = kind
                m["sha"] = hashlib.sha256(content or b"").hexdigest()
                metas.append(m)
            yield pd.DataFrame(metas)[
                ["media_id", "kind", "n_bytes", "fake_width", "fake_height",
                 "fake_duration_ms", "sha"]
            ]

    return media.mapInPandas(extract, schema=MEDIA_META_SCHEMA)


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plumbing: expand each media row into frame
    timestamps (decode itself stubbed). Shows the explode-side shape: one
    row per frame to extract, distributable across executors."""
    meta = extract_media_metadata(media)
    return meta.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.greatest((F.col("fake_duration_ms") / every_ms).cast("int") - 1, F.lit(0)))
        ).alias("frame_idx"),
    ).withColumn("frame_ts_ms", F.col("frame_idx") * every_ms)


def resize_images(
    media: DataFrame,
    width: int,
    height: int,
    library=None,
) -> DataFrame:
    """Image-resize plumbing: (media_id, content, width, height) out.

    The Spark-side contract is the real one — Arrow-batched
    binary-in/binary-out mapInPandas, output dimensions in typed columns,
    the source binary consumed inside the stage so downstream scans prune
    it. The PIXEL work delegates to ``library`` (a callable
    ``bytes -> bytes`` producing the resized payload); imaging libs are
    not in this container, so the default stand-in emits a REAL tiny PNG
    of the target dimensions (make_png) whose palette byte derives from
    the source sha — deterministic, parseable by parse_media_header, and
    the right schema/size shape for plumbing tests. Swap ``library`` for
    a PIL/turbojpeg closure in deployment; the plan does not change."""
    target_w, target_h = int(width), int(height)

    def default_lib(content: bytes) -> bytes:
        import hashlib

        return make_png(target_w, target_h,
                        color_type=2 if (hashlib.sha256(content).digest()[0] % 2) else 0)

    lib = library or default_lib

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                resized = lib(bytes(content) if content else b"")
                out.append({
                    "media_id": mid,
                    "content": resized,
                    "width": target_w,
                    "height": target_h,
                })
            yield pd.DataFrame(out)[["media_id", "content", "width", "height"]]

    return media.mapInPandas(
        run, schema="media_id bigint, content binary, width int, height int"
    )


def image_patch_grid(
    meta: DataFrame,
    patch: int = 16,
    id_col: str = "media_id",
    w_col: str = "width",
    h_col: str = "height",
) -> DataFrame:
    """ViT-style patch inventory: one row per (patch_row, patch_col) tile
    of each image's dimension grid — the work-list a patch-embedding
    stage fans out over. Pure Catalyst explode; images whose dims don't
    divide evenly keep their floor grid (the standard center-crop
    contract). Emits (id, patch_row, patch_col, x0, y0)."""
    rows = (F.col(h_col) / patch).cast("int")
    cols = (F.col(w_col) / patch).cast("int")
    g = meta.select(
        F.col(id_col), rows.alias("__r"), cols.alias("__c")
    ).filter((F.col("__r") > 0) & (F.col("__c") > 0))
    return (
        g.select(
            id_col,
            F.explode(F.sequence(F.lit(0), F.col("__r") - 1)).alias("patch_row"),
            "__c",
        )
        .select(
            id_col,
            "patch_row",
            F.explode(F.sequence(F.lit(0), F.col("__c") - 1)).alias("patch_col"),
        )
        .withColumn("x0", F.col("patch_col") * patch)
        .withColumn("y0", F.col("patch_row") * patch)
    )


# --------------------------------------------------------------------------
# Codec-free PIXEL decode: BMP (uncompressed 8/24/32-bit) and binary
# PPM/PGM (P5/P6) need no codec library — pure numpy reads the samples
# straight out of the payload. JPEG/PNG stay header-only above
# (parse_media_header): their pixel paths are codec-bound and documented
# out in this container. On top of the decoded pixels: a perceptual
# difference hash (dHash, 64-bit) and a banded image near-dup join with
# the same pigeonhole-recall discipline as MinHash banding.
# --------------------------------------------------------------------------
import numpy as _np

PIXELS_SCHEMA = (
    "media_id bigint, format string, width int, height int, channels int, "
    "pixels binary"
)


def _decode_bmp_pixels(b: bytes):
    """Uncompressed BMP -> (w, h, channels, row-major top-down uint8 bytes).
    8-bit payloads map through the palette to grayscale; 24/32-bit BGR(A)
    reorder to RGB. Compressed BMPs (BI_RLE*) return None."""
    if len(b) < 54 or b[:2] != b"BM":
        return None
    data_off = _struct.unpack("<I", b[10:14])[0]
    dib = _struct.unpack("<I", b[14:18])[0]
    w, h = _struct.unpack("<ii", b[18:26])
    bits = _struct.unpack("<H", b[28:30])[0]
    comp = _struct.unpack("<I", b[30:34])[0] if len(b) >= 34 else 0
    if comp != 0 or bits not in (8, 24, 32) or w <= 0 or h == 0:
        return None
    flip = h > 0  # positive height = bottom-up row order
    h = abs(h)
    row_bytes = (w * bits // 8 + 3) & ~3  # rows pad to 4 bytes
    need = data_off + row_bytes * h
    if len(b) < need:
        return None
    raw = _np.frombuffer(b, dtype=_np.uint8, count=row_bytes * h, offset=data_off)
    rows = raw.reshape(h, row_bytes)[:, : w * bits // 8]
    if flip:
        rows = rows[::-1]
    if bits == 8:
        # palette: BGRX entries right after the DIB header
        pal_off = 14 + dib
        ncolors = _struct.unpack("<I", b[46:50])[0] if dib >= 40 and len(b) >= 50 else 0
        ncolors = ncolors or 256
        if ncolors > 256 or pal_off + ncolors * 4 > len(b):
            return None  # truncated/over-long palette: filter, don't crash
        pal = _np.frombuffer(
            b, dtype=_np.uint8, count=ncolors * 4, offset=pal_off
        ).reshape(ncolors, 4)
        if int(rows.max(initial=0)) >= ncolors:
            return None  # pixel index beyond the palette
        # luma of the palette entry (BGR order)
        lum = (
            0.299 * pal[:, 2] + 0.587 * pal[:, 1] + 0.114 * pal[:, 0]
        ).round().astype(_np.uint8)
        px = lum[rows]
        return w, h, 1, px.tobytes()
    nch = bits // 8
    px = rows.reshape(h, w, nch)
    rgb = px[:, :, [2, 1, 0]]  # BGR(A) -> RGB, alpha dropped
    return w, h, 3, _np.ascontiguousarray(rgb).tobytes()


def _decode_pnm_pixels(b: bytes):
    """Binary PPM (P6) / PGM (P5), maxval <= 255 -> same tuple as BMP."""
    if len(b) < 2 or b[:1] != b"P" or b[1:2] not in (b"5", b"6"):
        return None
    nch = 3 if b[1:2] == b"6" else 1
    # header: three whitespace-separated ints, '#' comments to end of line
    vals, i, n = [], 2, len(b)
    while len(vals) < 3 and i < n:
        c = b[i : i + 1]
        if c == b"#":
            while i < n and b[i : i + 1] != b"\n":
                i += 1
        elif c.isspace():
            i += 1
        elif c.isdigit():
            j = i
            while j < n and b[j : j + 1].isdigit():
                j += 1
            vals.append(int(b[i:j]))
            i = j
        else:
            return None
    if len(vals) < 3 or not b[i : i + 1].isspace():
        return None
    i += 1  # single whitespace after maxval, then raster
    w, h, maxval = vals
    if w <= 0 or h <= 0 or not (0 < maxval <= 255):
        return None
    need = w * h * nch
    if n - i < need:
        return None
    return w, h, nch, b[i : i + need]


# --------------------------------------------------------------------------
# PNG (RFC 2083) — stdlib zlib inflate + numpy scanline unfiltering; no
# codec library. Envelope: 8- and 16-bit depth (16-bit downsamples to the
# high byte, the PIL convention), color types 0/2/3/4/6, non-interlaced
# AND Adam7-interlaced (each of the 7 passes unfilters as its own
# sub-image, then scatters into place). Palette maps to RGB; alpha
# channels drop (the BMP-32 convention). Low-bit-depth (1/2/4) stays
# header-only — the remaining documented envelope.
# --------------------------------------------------------------------------
_PNG_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]
def _png_unfilter(raw: bytes, h: int, stride: int, bpp: int):
    """Reverse the per-scanline filters (None/Sub/Up/Average/Paeth).
    Sub is a modular prefix-sum per byte lane (vectorized); Up is a
    vectorized add against the previous row; Average/Paeth fall back to
    the per-pixel loop their definitions require."""
    out = _np.zeros((h, stride), dtype=_np.uint8)
    pos = 0
    for y in range(h):
        ft = raw[pos]
        line = _np.frombuffer(raw, _np.uint8, stride, pos + 1)
        pos += 1 + stride
        prev = out[y - 1] if y else _np.zeros(stride, _np.uint8)
        if ft == 0:
            out[y] = line
        elif ft == 1:  # Sub: prefix sum within each byte lane, mod 256
            lanes = line.reshape(-1, bpp)
            out[y] = (lanes.astype(_np.int64).cumsum(axis=0) % 256).astype(
                _np.uint8
            ).reshape(-1)
        elif ft == 2:  # Up
            out[y] = line + prev
        elif ft == 3:  # Average
            cur = out[y]
            for x in range(stride):
                left = int(cur[x - bpp]) if x >= bpp else 0
                cur[x] = (int(line[x]) + (left + int(prev[x])) // 2) & 0xFF
        elif ft == 4:  # Paeth
            cur = out[y]
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                b_ = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b_ - c
                pa, pb, pc = abs(p - a), abs(p - b_), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b_ if pb <= pc else c)
                cur[x] = (int(line[x]) + pred) & 0xFF
        else:
            return None
    return out


def _decode_png_pixels(b: bytes):
    """PNG -> (w, h, channels, row-major top-down uint8 bytes): stdlib
    zlib inflate + numpy unfilter. 8- and 16-bit depth (16-bit keeps the
    high byte), non-interlaced and Adam7; palette (type 3) maps through
    PLTE to RGB; alpha drops (types 4/6 -> 1/3 channels); low-bit-depth
    payloads return None — filter, don't crash, mid-scan."""
    import zlib

    try:
        if b[:8] != b"\x89PNG\r\n\x1a\n":
            return None
        pos = 8
        n = len(b)
        w = h = None
        depth = ctype = interlace = None
        plte = None
        idat = bytearray()
        while pos + 8 <= n:
            clen = _struct.unpack(">I", b[pos : pos + 4])[0]
            cid = b[pos + 4 : pos + 8]
            data = b[pos + 8 : pos + 8 + clen]
            if len(data) < clen:
                return None
            if cid == b"IHDR":
                w, h = _struct.unpack(">II", data[:8])
                depth, ctype, comp, filt, interlace = data[8:13]
                if comp or filt:
                    return None
            elif cid == b"PLTE":
                plte = _np.frombuffer(data, _np.uint8).reshape(-1, 3)
            elif cid == b"IDAT":
                idat += data
            elif cid == b"IEND":
                break
            pos += 12 + clen  # len + id + crc
        if w is None or not idat or interlace not in (0, 1):
            return None
        if depth not in (8, 16) or (depth == 16 and ctype == 3):
            return None  # low-bit-depth out of envelope; 16-bit PLTE invalid
        nch_in = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
        if nch_in is None or not (0 < w <= 1 << 15 and 0 < h <= 1 << 15):
            return None
        raw = zlib.decompress(bytes(idat))
        bps = depth // 8
        bpp = nch_in * bps
        if interlace == 0:
            stride = w * bpp
            if len(raw) != h * (stride + 1):
                return None
            px = _png_unfilter(raw, h, stride, bpp)
            if px is None:
                return None
            px = px.reshape(h, w, bpp)
        else:  # Adam7: 7 independently-filtered sub-images, scattered
            px = _np.zeros((h, w, bpp), dtype=_np.uint8)
            at = 0
            for x0, y0, dx, dy in _PNG_ADAM7:
                pw = (w - x0 + dx - 1) // dx
                ph = (h - y0 + dy - 1) // dy
                if pw <= 0 or ph <= 0:
                    continue
                stride = pw * bpp
                need = ph * (stride + 1)
                sub = raw[at : at + need]
                if len(sub) != need:
                    return None
                at += need
                img = _png_unfilter(sub, ph, stride, bpp)
                if img is None:
                    return None
                px[y0::dy, x0::dx, :] = img.reshape(ph, pw, bpp)
            if at != len(raw):
                return None
        if bps == 2:
            px = px[:, :, 0::2]  # big-endian: high byte downsample
        if ctype == 3:
            if plte is None or int(px.max(initial=0)) >= len(plte):
                return None
            return w, h, 3, _np.ascontiguousarray(plte[px[:, :, 0]]).tobytes()
        if ctype in (4, 6):
            px = px[:, :, : nch_in - 1]  # drop alpha
        nch_out = 1 if ctype in (0, 4) else 3
        return w, h, nch_out, _np.ascontiguousarray(px).tobytes()
    except Exception:
        return None


def _png_filter_rows(a: "_np.ndarray", bpp: int, filters) -> bytearray:
    """Forward-filter the byte rows of one (sub-)image: a is (rows,
    stride) uint8; one filter byte + filtered bytes per scanline."""
    lines = bytearray()
    stride = a.shape[1]
    for y in range(a.shape[0]):
        ft = filters[y % len(filters)] if filters else 0
        row = a[y].astype(_np.int64)
        prev = a[y - 1].astype(_np.int64) if y else _np.zeros(stride, _np.int64)
        if ft == 0:
            enc = row
        elif ft == 1:
            left = _np.concatenate([_np.zeros(bpp, _np.int64), row[:-bpp]])
            enc = row - left
        elif ft == 2:
            enc = row - prev
        elif ft == 3:
            left = _np.concatenate([_np.zeros(bpp, _np.int64), row[:-bpp]])
            enc = row - (left + prev) // 2
        elif ft == 4:
            left = _np.concatenate([_np.zeros(bpp, _np.int64), row[:-bpp]])
            ul = _np.concatenate([_np.zeros(bpp, _np.int64), prev[:-bpp]])
            p = left + prev - ul
            pa, pb, pc = _np.abs(p - left), _np.abs(p - prev), _np.abs(p - ul)
            pred = _np.where(
                (pa <= pb) & (pa <= pc), left, _np.where(pb <= pc, prev, ul)
            )
            enc = row - pred
        else:
            raise ValueError("filter type must be 0..4")
        lines.append(ft)
        lines += (enc % 256).astype(_np.uint8).tobytes()
    return lines


def make_png_pixels(
    w: int,
    h: int,
    pixels: bytes,
    channels: int = 3,
    filters=None,
    interlace: bool = False,
    bit_depth: int = 8,
) -> bytes:
    """PNG encoder carrying REAL pixel data (fixture support): gray or
    RGB, one filter type per scanline (default 0; pass a list to
    exercise Sub/Up/Average/Paeth decode paths). ``interlace=True``
    emits Adam7 (each pass filtered as its own sub-image, per the
    spec); ``bit_depth=16`` widens each 8-bit sample to v<<8|v
    big-endian, so the decoder's high-byte downsample round-trips the
    input exactly."""
    import zlib

    if channels not in (1, 3):
        raise ValueError("channels must be 1 or 3")
    if bit_depth not in (8, 16):
        raise ValueError("bit_depth must be 8 or 16")
    if len(pixels) != w * h * channels:
        raise ValueError("pixel buffer must be w*h*channels bytes")
    a = _np.frombuffer(pixels, _np.uint8).reshape(h, w, channels)
    if bit_depth == 16:
        wide = _np.zeros((h, w, channels * 2), dtype=_np.uint8)
        wide[:, :, 0::2] = a
        wide[:, :, 1::2] = a  # v<<8 | v: full-range widening
        a = wide
    bpp = channels * (bit_depth // 8)
    if not interlace:
        lines = _png_filter_rows(a.reshape(h, w * bpp), bpp, filters)
    else:
        lines = bytearray()
        for x0, y0, dx, dy in _PNG_ADAM7:
            sub = a[y0::dy, x0::dx, :]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            lines += _png_filter_rows(
                _np.ascontiguousarray(sub).reshape(
                    sub.shape[0], sub.shape[1] * bpp
                ),
                bpp, filters,
            )

    def chunk(cid: bytes, data: bytes) -> bytes:
        return (_struct.pack(">I", len(data)) + cid + data
                + _struct.pack(">I", zlib.crc32(cid + data) & 0xFFFFFFFF))

    ihdr = _struct.pack(">II", w, h) + bytes(
        [bit_depth, 0 if channels == 1 else 2, 0, 0, 1 if interlace else 0]
    )
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(lines)))
            + chunk(b"IEND", b""))


# --------------------------------------------------------------------------
# GIF (87a/89a) — pure-Python LZW (variable code width, LSB-first bit
# packing, 4096-entry dictionary) for the FIRST frame; palette maps to
# RGB; Adam-style 4-pass interlace deinterleaved; later frames /
# transparency composition are out of envelope (documented — perceptual
# hashing reads frame 1).
# --------------------------------------------------------------------------
def _gif_lzw_decode_trivial(data: bytes, max_out: int):
    """Vectorized fast path for min_code-8 streams in the trivially valid
    clear-code-per-pixel scheme (what _gif_lzw_encode_trivial emits):
    code_size stays 9 because every literal is preceded by CLEAR, so the
    stream is a fixed-rate sequence of 9-bit codes — unpack them all at
    once and verify the (CLEAR, literal)* END shape. Returns the decoded
    bytes, or None when the stream is NOT of this shape (general LZW,
    growing code sizes, truncation...) so the caller falls back to the
    reference loop; output is bit-identical to the loop by the same
    verification. Raises the loop's overrun error identically."""
    if not data:
        return None
    bits = _np.unpackbits(_np.frombuffer(data, _np.uint8), bitorder="little")
    n_codes = len(bits) // 9
    if n_codes < 1:
        return None
    codes = _np.packbits(
        _np.concatenate(
            [bits[: n_codes * 9].reshape(-1, 9),
             _np.zeros((n_codes, 23), _np.uint8)],
            axis=1,
        ).reshape(-1),
        bitorder="little",
    ).view("<u4")
    ends = _np.flatnonzero(codes == 257)
    if len(ends) == 0:
        return None
    e = int(ends[0])
    if e % 2 != 0:
        return None
    body = codes[:e].reshape(-1, 2)
    if e and not (body[:, 0] == 256).all():
        return None
    vals = body[:, 1]
    if e and int(vals.max(initial=0)) > 255:
        return None
    if len(vals) > max_out:
        raise ValueError("gif lzw output overrun")
    return vals.astype(_np.uint8).tobytes()


def _gif_lzw_decode(data: bytes, min_code: int, max_out: int):
    """GIF LZW index-stream decode. Raises on corrupt streams; caller
    wraps."""
    if min_code == 8:
        fast = _gif_lzw_decode_trivial(data, max_out)
        if fast is not None:
            return fast
    clear = 1 << min_code
    end = clear + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    code_size = min_code + 1
    out = bytearray()
    prev = None
    acc = nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= code_size:
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            nbits -= code_size
            if code == clear:
                table = list(base)
                code_size = min_code + 1
                prev = None
                continue
            if code == end:
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
            elif code == len(table):
                entry = prev + prev[:1]
            else:
                raise ValueError("gif lzw code out of range")
            out += entry
            if len(out) > max_out:
                raise ValueError("gif lzw output overrun")
            if prev is not None:
                table.append(prev + entry[:1])
                if len(table) == (1 << code_size) and code_size < 12:
                    code_size += 1
            prev = entry
    return bytes(out)


def _decode_gif_pixels(b: bytes):
    """GIF -> (w, h, 3, RGB bytes) of the FIRST frame, palette-mapped;
    interlace handled; anything truncated/corrupt returns None."""
    try:
        if b[:6] not in (b"GIF87a", b"GIF89a"):
            return None
        sw, sh = _struct.unpack("<HH", b[6:10])
        packed = b[10]
        pos = 13
        gct = None
        if packed & 0x80:
            n = 2 << (packed & 0x07)
            gct = _np.frombuffer(b, _np.uint8, n * 3, pos).reshape(n, 3)
            pos += n * 3
        while pos < len(b):
            blk = b[pos]
            if blk == 0x21:  # extension: skip sub-blocks
                pos += 2
                while b[pos] != 0:
                    pos += 1 + b[pos]
                pos += 1
            elif blk == 0x2C:  # image descriptor
                _, _, w, h = _struct.unpack("<HHHH", b[pos + 1 : pos + 9])
                ipacked = b[pos + 9]
                pos += 10
                pal = gct
                if ipacked & 0x80:
                    n = 2 << (ipacked & 0x07)
                    pal = _np.frombuffer(b, _np.uint8, n * 3, pos).reshape(n, 3)
                    pos += n * 3
                if pal is None or not (0 < w <= 1 << 15 and 0 < h <= 1 << 15):
                    return None
                min_code = b[pos]
                pos += 1
                data = bytearray()
                while b[pos] != 0:
                    ln = b[pos]
                    data += b[pos + 1 : pos + 1 + ln]
                    pos += 1 + ln
                if not (2 <= min_code <= 8):
                    return None
                idx = _gif_lzw_decode(bytes(data), min_code, w * h)
                if len(idx) < w * h:
                    return None
                a = _np.frombuffer(idx[: w * h], _np.uint8).reshape(h, w)
                if int(a.max(initial=0)) >= len(pal):
                    return None
                if ipacked & 0x40:  # interlaced: rows arrive in 4 passes
                    order = (list(range(0, h, 8)) + list(range(4, h, 8))
                             + list(range(2, h, 4)) + list(range(1, h, 2)))
                    de = _np.empty_like(a)
                    de[order] = a
                    a = de
                return w, h, 3, _np.ascontiguousarray(pal[a]).tobytes()
            elif blk == 0x3B:
                return None  # trailer before any frame
            else:
                return None
        return None
    except Exception:
        return None


def make_gif_pixels(
    w: int, h: int, rgb_or_gray: bytes, channels: int = 1,
    interlace: bool = False,
) -> bytes:
    """GIF encoder carrying REAL pixel data (fixture support): gray
    input uses an identity 256-gray palette; RGB input builds an exact
    palette (<= 256 distinct colors required). Emits the trivially
    valid clear-code-per-pixel LZW stream (decoders must honor CLEAR
    anywhere, so this exercises the reset path on every symbol)."""
    a = _np.frombuffer(rgb_or_gray, _np.uint8)
    if channels == 1:
        if len(a) != w * h:
            raise ValueError("pixel buffer must be w*h bytes")
        idx = a.reshape(h, w)
        pal = _np.repeat(_np.arange(256, dtype=_np.uint8), 3).reshape(256, 3)
    else:
        if len(a) != w * h * 3:
            raise ValueError("pixel buffer must be w*h*3 bytes")
        px = a.reshape(h * w, 3)
        pal, inv = _np.unique(px, axis=0, return_inverse=True)
        if len(pal) > 256:
            raise ValueError("more than 256 distinct colors")
        pad = _np.zeros((256, 3), _np.uint8)
        pad[: len(pal)] = pal
        pal = pad
        idx = inv.astype(_np.uint8).reshape(h, w)
    if interlace:
        order = (list(range(0, h, 8)) + list(range(4, h, 8))
                 + list(range(2, h, 4)) + list(range(1, h, 2)))
        idx = idx[order]
    sub = _gif_lzw_encode_trivial(bytes(idx.reshape(-1)))
    out = b"GIF89a" + _struct.pack("<HH", w, h) + bytes([0xF7, 0, 0])
    out += pal.tobytes()
    out += b"\x2c" + _struct.pack("<HHHH", 0, 0, w, h)
    out += bytes([0x40 if interlace else 0x00, 8]) + sub
    return out + b"\x3b"


def _gif_lzw_encode_trivial(indices: bytes) -> bytes:
    """Sub-blocked LZW stream (min_code 8, clear-code-per-pixel — the
    trivially valid scheme; decoders must honor CLEAR anywhere).
    Vectorized: each pixel contributes the fixed 18-bit little-endian
    word CLEAR | (v << 9) (code_size stays 9 — the table resets on every
    CLEAR), the 9-bit END code follows the last pixel, and the whole
    LSB-first bit stream packs in one numpy pass — bit-identical to the
    former per-pixel put() loop by construction."""
    v = _np.frombuffer(indices, _np.uint8).astype(_np.uint32)
    words = (256 | (v << 9)).astype("<u4")
    bits = _np.unpackbits(
        words.view(_np.uint8).reshape(-1, 4), axis=1, bitorder="little"
    )[:, :18]
    end = _np.unpackbits(
        _np.array([257], dtype="<u4").view(_np.uint8), bitorder="little"
    )[:9]
    stream = _np.packbits(
        _np.concatenate([bits.reshape(-1), end]), bitorder="little"
    ).tobytes()
    sub = bytearray()
    for i in range(0, len(stream), 255):
        part = stream[i : i + 255]
        sub.append(len(part))
        sub += part
    sub.append(0)
    return bytes(sub)


def make_gif_animation(
    w: int,
    h: int,
    frames: list[tuple[int, int, int, int, bytes, int, int, int | None]],
    bg_index: int = 0,
) -> bytes:
    """Animated GIF89a writer (fixture support): identity 256-gray
    palette; ``frames`` entries are (left, top, fw, fh, gray_indices,
    delay_cs, disposal, transparent_idx|None) — each preceded by its
    Graphic Control Extension carrying the delay (centiseconds),
    disposal method (0 none / 1 keep / 2 restore-background / 3
    restore-previous) and optional transparency index."""
    pal = _np.repeat(_np.arange(256, dtype=_np.uint8), 3).reshape(256, 3)
    out = b"GIF89a" + _struct.pack("<HH", w, h) + bytes([0xF7, bg_index, 0])
    out += pal.tobytes()
    for left, top, fw, fh, data, delay_cs, disposal, tidx in frames:
        if len(data) != fw * fh:
            raise ValueError("frame data must be fw*fh bytes")
        flags = (disposal & 7) << 2 | (1 if tidx is not None else 0)
        out += (b"\x21\xf9\x04" + bytes([flags])
                + _struct.pack("<H", delay_cs)
                + bytes([tidx or 0, 0]))
        out += b"\x2c" + _struct.pack("<HHHH", left, top, fw, fh)
        out += bytes([0x00, 8]) + _gif_lzw_encode_trivial(data)
    return out + b"\x3b"


def decode_gif_frames(b: bytes):
    """Animated GIF -> (w, h, [(delay_ms, composed RGB bytes)]): every
    frame composited onto the logical screen per its Graphic Control
    Extension — transparency indices leave the underlying canvas,
    disposal 2 restores the frame region to the background color,
    disposal 3 restores the pre-frame canvas (the full GIF89a animation
    model; _decode_gif_pixels stays the first-frame fast path). None on
    anything truncated/corrupt — filter, don't crash."""
    try:
        if b[:6] not in (b"GIF87a", b"GIF89a"):
            return None
        sw, sh = _struct.unpack("<HH", b[6:10])
        if not (0 < sw <= 1 << 13 and 0 < sh <= 1 << 13):
            return None
        packed = b[10]
        bg_index = b[11]
        pos = 13
        gct = None
        if packed & 0x80:
            n = 2 << (packed & 0x07)
            gct = _np.frombuffer(b, _np.uint8, n * 3, pos).reshape(n, 3)
            pos += n * 3
        bg_rgb = (
            gct[bg_index] if gct is not None and bg_index < len(gct)
            else _np.zeros(3, _np.uint8)
        )
        canvas = _np.tile(bg_rgb, (sh, sw, 1)).astype(_np.uint8)
        frames: list[tuple[int, bytes]] = []
        delay_cs = 0
        disposal = 0
        tidx: int | None = None
        while pos < len(b):
            blk = b[pos]
            if blk == 0x21:  # extension
                label = b[pos + 1]
                pos += 2
                if label == 0xF9 and b[pos] >= 4:  # GCE
                    flags = b[pos + 1]
                    delay_cs = _struct.unpack(
                        "<H", b[pos + 2 : pos + 4]
                    )[0]
                    disposal = (flags >> 2) & 7
                    tidx = b[pos + 4] if flags & 1 else None
                while b[pos] != 0:
                    pos += 1 + b[pos]
                pos += 1
            elif blk == 0x2C:  # image descriptor
                left, top, w, h = _struct.unpack("<HHHH", b[pos + 1 : pos + 9])
                ipacked = b[pos + 9]
                pos += 10
                pal = gct
                if ipacked & 0x80:
                    n = 2 << (ipacked & 0x07)
                    pal = _np.frombuffer(b, _np.uint8, n * 3, pos).reshape(n, 3)
                    pos += n * 3
                if pal is None or left + w > sw or top + h > sh or not (
                    0 < w and 0 < h
                ):
                    return None
                min_code = b[pos]
                pos += 1
                data = bytearray()
                while b[pos] != 0:
                    ln = b[pos]
                    data += b[pos + 1 : pos + 1 + ln]
                    pos += 1 + ln
                pos += 1
                if not (2 <= min_code <= 8):
                    return None
                idx = _gif_lzw_decode(bytes(data), min_code, w * h)
                if len(idx) < w * h:
                    return None
                a = _np.frombuffer(idx[: w * h], _np.uint8).reshape(h, w)
                if int(a.max(initial=0)) >= len(pal):
                    return None
                if ipacked & 0x40:  # interlaced rows
                    order = (list(range(0, h, 8)) + list(range(4, h, 8))
                             + list(range(2, h, 4)) + list(range(1, h, 2)))
                    de = _np.empty_like(a)
                    de[order] = a
                    a = de
                before = canvas.copy() if disposal == 3 else None
                region = canvas[top : top + h, left : left + w]
                rgb = pal[a]
                if tidx is not None:
                    opaque = a != tidx
                    region[opaque] = rgb[opaque]
                else:
                    region[:] = rgb
                frames.append((delay_cs * 10, canvas.tobytes()))
                if disposal == 2:
                    canvas[top : top + h, left : left + w] = bg_rgb
                elif disposal == 3 and before is not None:
                    canvas = before
                delay_cs, disposal, tidx = 0, 0, None
            elif blk == 0x3B:
                break
            else:
                return None
        if not frames:
            return None
        return sw, sh, frames
    except Exception:
        return None


# --------------------------------------------------------------------------
# JPEG (ITU-T T.81) — pure numpy/stdlib, no codec library: baseline
# sequential (SOF0/1) and PROGRESSIVE (SOF2, spectral selection +
# successive approximation, T.81 Annex G — ~10% of web-crawled JPEGs)
# entropy decode + dequant + IDCT for the decoder, plus sequential and
# progressive grayscale encoders for test fixtures. Arithmetic-coded,
# 12-bit, and hierarchical payloads return None (the remaining documented
# gap). The decoder emits the LUMA plane (channels=1): chroma blocks are
# entropy-decoded for bitstream sync where interleaved with luma, while
# chroma-only progressive scans (self-delimited by the next marker) are
# skipped whole — the perceptual-hash pipeline grayscales anyway.
# --------------------------------------------------------------------------
_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]
# Annex K luminance quantization table (natural order) + standard
# luminance Huffman specs — encoder-side only; the decoder reads the
# tables carried by the file.
_JPEG_QLUM = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
_JPEG_DC_COUNTS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_SYMBOLS = list(range(12))
_JPEG_AC_COUNTS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_JPEG_AC_SYMBOLS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _jpeg_idct_matrix():
    u = _np.arange(8)
    A = 0.5 * _np.cos((2 * u[None, :] + 1) * u[:, None] * _np.pi / 16.0)
    A[0, :] *= 1.0 / _np.sqrt(2.0)
    return A  # f = A.T @ F @ A


class _JpegHuffTable:
    """Canonical Huffman table from (counts per length, symbols) — the
    T.81 Annex C layout shared by encode and decode."""

    def __init__(self, counts, symbols):
        self.symbols = list(symbols)
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        code, k = 0, 0
        for length in range(1, 17):
            n = counts[length - 1]
            self.valptr[length] = k
            self.mincode[length] = code
            self.maxcode[length] = code + n - 1 if n else -1
            code = (code + n) << 1
            k += n
        # encoder view: symbol -> (code, length)
        self.codes = {}
        code, k = 0, 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                self.codes[self.symbols[k]] = (code, length)
                code += 1
                k += 1
            code <<= 1


class _JpegBitReader:
    """MSB-first bit reader over UNSTUFFED entropy bytes."""

    __slots__ = ("d", "pos", "nbits")

    def __init__(self, d: bytes):
        self.d = d
        self.pos = 0       # bit position
        self.nbits = 8 * len(d)

    def bit(self) -> int:
        if self.pos >= self.nbits:
            raise EOFError("jpeg entropy data exhausted")
        byte = self.d[self.pos >> 3]
        b = (byte >> (7 - (self.pos & 7))) & 1
        self.pos += 1
        return b

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v


def _jpeg_extend(v: int, s: int) -> int:
    return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v


def _jpeg_huff_decode(r: _JpegBitReader, t: _JpegHuffTable) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | r.bit()
        if t.maxcode[length] >= code >= t.mincode[length]:
            return t.symbols[t.valptr[length] + code - t.mincode[length]]
    raise ValueError("invalid jpeg huffman code")


def _exif_orientation(seg: bytes) -> int | None:
    """Orientation (tag 0x0112) from an APP1 Exif payload: 'Exif\\0\\0'
    then a TIFF header + IFD0, either endianness."""
    if seg[:6] != b"Exif\x00\x00":
        return None
    t = seg[6:]
    if t[:4] not in (b"II*\x00", b"MM\x00*"):
        return None
    end = "<" if t[:2] == b"II" else ">"
    ifd = _struct.unpack(end + "I", t[4:8])[0]
    n_tags = _struct.unpack(end + "H", t[ifd : ifd + 2])[0]
    for k in range(min(n_tags, 64)):
        e = ifd + 2 + 12 * k
        tag, typ, cnt = _struct.unpack(end + "HHI", t[e : e + 8])
        if tag == 0x0112 and typ == 3 and cnt == 1:
            return _struct.unpack(end + "H", t[e + 8 : e + 10])[0]
    return None


def _jpeg_apply_orientation(got, orientation: int | None):
    """Bake the EXIF orientation into the decoded luma plane — the
    display transform (orientation 6 = stored raster needs a 90-degree
    clockwise rotation to stand upright, etc.), so perceptual hashes of
    a rotated-by-metadata photo match its rotated-by-pixels copy.
    Orientations 5-8 swap width/height."""
    if got is None or not orientation or orientation == 1:
        return got
    w, h, nch, px = got
    a = _np.frombuffer(px, _np.uint8).reshape(h, w)
    if orientation == 2:
        a = a[:, ::-1]
    elif orientation == 3:
        a = a[::-1, ::-1]
    elif orientation == 4:
        a = a[::-1, :]
    elif orientation == 5:
        a = a.T
    elif orientation == 6:
        a = _np.rot90(a, -1)  # stored needs 90 degrees CW
    elif orientation == 7:
        # TRANSVERSE (anti-diagonal flip, self-inverse) per TIFF/EXIF and
        # PIL.ImageOps.exif_transpose — NOT rot90(a,-1)[:, ::-1], which
        # algebraically reduces to a.T (orientation 5's transform)
        a = a.T[::-1, ::-1]
    elif orientation == 8:
        a = _np.rot90(a, 1)
    else:
        return got  # unknown value: leave untouched
    oh, ow = a.shape
    return ow, oh, nch, _np.ascontiguousarray(a).tobytes()


def _decode_jpeg_gray(b: bytes):
    """Baseline or progressive JPEG -> (w, h, 1, luma bytes), or None on
    any payload outside the supported envelope (arithmetic/12-bit/
    lossless/hierarchical/truncated/corrupt) — the filter-don't-crash
    contract."""
    try:
        return _decode_jpeg_gray_inner(b)
    except Exception:
        return None


def _jpeg_entropy_segments(b: bytes, start: int):
    """Unstuff a scan's entropy bytes from ``start``; segments split at
    restart markers. Returns (segments, index of the next real marker's
    0xFF — or len(b) if the stream ends inside the scan)."""
    n = len(b)
    segments: list = []
    cur = bytearray()
    i = start
    while i < n:
        c = b[i]
        if c != 0xFF:
            cur.append(c)
            i += 1
            continue
        m = b[i + 1] if i + 1 < n else 0xD9
        if m == 0x00:
            cur.append(0xFF)
            i += 2
        elif 0xD0 <= m <= 0xD7:
            segments.append(bytes(cur))
            cur = bytearray()
            i += 2
        else:  # EOI or next real marker
            break
    segments.append(bytes(cur))
    return segments, i


def _decode_jpeg_gray_inner(b: bytes):
    if len(b) < 4 or b[:2] != b"\xff\xd8":
        return None
    n = len(b)
    i = 2
    qt: dict = {}
    huff: dict = {}
    sof = None
    progressive = False
    store: dict | None = None  # progressive: cid -> (bh, bw, 64) zigzag coefs
    any_scan = False
    exif_o: int | None = None
    dri = 0
    while i + 2 <= n:
        if b[i] != 0xFF:
            return None
        marker = b[i + 1]
        if marker == 0xD9:  # EOI
            if progressive and any_scan:
                return _jpeg_apply_orientation(
                    _jpeg_finalize_progressive(sof, store, qt), exif_o
                )
            return None  # sequential: EOI before the scan
        if marker in (0x01,) or 0xD0 <= marker <= 0xD8:
            i += 2
            continue
        if i + 4 > n:
            return None
        seglen = _struct.unpack(">H", b[i + 2 : i + 4])[0]
        seg = b[i + 4 : i + 2 + seglen]
        if marker == 0xE1 and exif_o is None:  # APP1: Exif orientation
            try:
                exif_o = _exif_orientation(seg)
            except (_struct.error, IndexError):
                exif_o = None
        if marker == 0xDB:  # DQT
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 15
                j += 1
                if pq:  # 16-bit tables: not baseline
                    return None
                tab = _np.zeros(64)
                for z in range(64):
                    tab[_JPEG_ZIGZAG[z]] = seg[j + z]
                qt[tq] = tab.reshape(8, 8)
                j += 64
        elif marker in (0xC0, 0xC1, 0xC2):  # sequential / progressive
            if sof is not None:
                return None
            prec = seg[0]
            if prec != 8:
                return None
            h, w = _struct.unpack(">HH", seg[1:5])
            ncomp = seg[5]
            comps = []
            for c in range(ncomp):
                cid = seg[6 + 3 * c]
                hv = seg[7 + 3 * c]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 15,
                     "tq": seg[8 + 3 * c]}
                )
            sof = {"w": w, "h": h, "comps": comps}
            progressive = marker == 0xC2
        elif 0xC3 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            return None  # arithmetic / lossless / hierarchical
        elif marker == 0xC4:  # DHT
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 15
                counts = list(seg[j + 1 : j + 17])
                nsym = sum(counts)
                symbols = list(seg[j + 17 : j + 17 + nsym])
                huff[(tc, th)] = _JpegHuffTable(counts, symbols)
                j += 17 + nsym
        elif marker == 0xDD:  # DRI
            dri = _struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS
            if sof is None:
                return None
            ns = seg[0]
            scan = []
            for c in range(ns):
                cs = seg[1 + 2 * c]
                tt = seg[2 + 2 * c]
                comp = next(x for x in sof["comps"] if x["id"] == cs)
                scan.append((comp, tt >> 4, tt & 15))
            if not progressive:
                return _jpeg_apply_orientation(
                    _jpeg_decode_scan(
                        b, i + 2 + seglen, sof, scan, qt, huff, dri
                    ),
                    exif_o,
                )
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 15
            if store is None:
                store = _jpeg_prog_alloc(sof)
                if store is None:
                    return None
            segments, nxt = _jpeg_entropy_segments(b, i + 2 + seglen)
            if len(scan) == 1 and scan[0][0]["id"] != sof["comps"][0]["id"]:
                pass  # chroma-only scan: self-delimited, luma unaffected
            else:
                _jpeg_prog_scan(
                    segments, sof, scan, huff, dri, store, ss, se, ah, al
                )
            any_scan = True
            i = nxt
            continue
        i += 2 + seglen
    return None


def _jpeg_prog_alloc(sof):
    """Per-component persistent coefficient stores for a progressive
    decode: (block_rows, block_cols, 64) int32 in ZIGZAG order, sized to
    the MCU-padded grid (interleaved DC scans address padded blocks).
    None when the geometry is out of envelope."""
    w, h = sof["w"], sof["h"]
    if not (0 < w <= 1 << 15 and 0 < h <= 1 << 15):
        return None
    comps = sof["comps"]
    if not all(1 <= c["h"] <= 4 and 1 <= c["v"] <= 4 for c in comps):
        return None
    y = comps[0]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if y["h"] != hmax or y["v"] != vmax:
        return None  # subsampled luma: out of envelope (as sequential)
    mcx = -(-w // (8 * hmax))
    mcy = -(-h // (8 * vmax))
    store = {"__mcu__": (mcx, mcy)}
    for c in comps:
        store[c["id"]] = _np.zeros(
            (mcy * c["v"], mcx * c["h"], 64), dtype=_np.int64
        )
    return store


def _jpeg_comp_grid(sof, comp):
    """A component's REAL block grid (non-interleaved scans cover only
    this, not the MCU padding) — T.81 A.2.2."""
    hmax = max(c["h"] for c in sof["comps"])
    vmax = max(c["v"] for c in sof["comps"])
    cw = -(-(sof["w"] * comp["h"]) // hmax)
    ch = -(-(sof["h"] * comp["v"]) // vmax)
    return -(-cw // 8), -(-ch // 8)


def _jpeg_prog_scan(segments, sof, scan, huff, dri, store, ss, se, ah, al):
    """One progressive scan into the persistent stores (T.81 Annex G):
    DC first / DC refine (interleaved or single-component), AC first /
    AC refine (single-component per the spec, with EOB-run state).
    Coefficients live in ZIGZAG order; AC values use the sign-magnitude
    successive-approximation convention, DC the two's-complement one —
    matching the encoder side of the standard (and libjpeg)."""
    if not (0 <= ss <= se <= 63) or ah > 13 or al > 13:
        raise ValueError("bad spectral/approximation parameters")
    mcx, mcy = store["__mcu__"]
    if ss == 0:  # ---- DC scan (se must be 0)
        if se != 0:
            raise ValueError("DC scan with se != 0")
        interleaved = len(scan) > 1
        if interleaved:
            units = mcx * mcy
        else:
            bw, bh = _jpeg_comp_grid(sof, scan[0][0])
            units = bw * bh
        seg_idx = 0
        r = _JpegBitReader(segments[0])
        pred = {c["id"]: 0 for c in sof["comps"]}
        for u in range(units):
            if dri and u and u % dri == 0:
                seg_idx += 1
                r = _JpegBitReader(segments[seg_idx])
                pred = {c["id"]: 0 for c in sof["comps"]}
            for comp, td, _ta in scan:
                coefs = store[comp["id"]]
                nb = comp["h"] * comp["v"] if interleaved else 1
                for blk in range(nb):
                    if interleaved:
                        my, mx = divmod(u, mcx)
                        by, bx = divmod(blk, comp["h"])
                        row = my * comp["v"] + by
                        col = mx * comp["h"] + bx
                    else:
                        row, col = divmod(u, bw)
                    if ah == 0:  # first pass
                        t = huff.get((0, td))
                        if t is None:
                            raise ValueError("missing DC table")
                        s = _jpeg_huff_decode(r, t)
                        diff = _jpeg_extend(r.receive(s), s) if s else 0
                        pred[comp["id"]] += diff
                        coefs[row, col, 0] = pred[comp["id"]] << al
                    else:  # refinement: one raw bit per block
                        if r.bit():
                            coefs[row, col, 0] |= 1 << al
        return
    # ---- AC scan: single component, non-interleaved (spec G.1.1.1.1)
    if len(scan) != 1:
        raise ValueError("interleaved AC progressive scan")
    comp, _td, ta = scan[0]
    coefs = store[comp["id"]]
    bw, bh = _jpeg_comp_grid(sof, comp)
    t = huff.get((1, ta))
    if t is None:
        raise ValueError("missing AC table")
    seg_idx = 0
    r = _JpegBitReader(segments[0])
    eobrun = 0
    p1, m1 = 1 << al, -1 << al
    for u in range(bw * bh):
        if dri and u and u % dri == 0:
            seg_idx += 1
            r = _JpegBitReader(segments[seg_idx])
            eobrun = 0
        row, col = divmod(u, bw)
        zz = coefs[row, col]
        if ah == 0:  # ---- AC first pass
            if eobrun:
                eobrun -= 1
                continue
            k = ss
            while k <= se:
                rs = _jpeg_huff_decode(r, t)
                rr, s = rs >> 4, rs & 15
                if s == 0:
                    if rr == 15:
                        k += 16  # ZRL
                        continue
                    eobrun = (1 << rr) - 1
                    if rr:
                        eobrun += r.receive(rr)
                    break
                k += rr
                if k > se:
                    raise ValueError("AC run past se")
                zz[k] = _jpeg_extend(r.receive(s), s) << al
                k += 1
        else:  # ---- AC refinement (G.1.2.3 / libjpeg decode_mcu_AC_refine)
            # eobrun here counts blocks INCLUDING the current one (the
            # tail-refine below reads the current block's remaining
            # correction bits even for a run of 1, then decrements —
            # libjpeg's exact flow; pre-decrementing desyncs by the
            # buffered tail bits)
            k = ss
            if not eobrun:
                while k <= se:
                    rs = _jpeg_huff_decode(r, t)
                    rr, s = rs >> 4, rs & 15
                    if s == 0:
                        if rr < 15:
                            eobrun = 1 << rr
                            if rr:
                                eobrun += r.receive(rr)
                            break
                        # ZRL: advance past 16 zero-history coefs
                        newval = 0
                    else:
                        if s != 1:
                            raise ValueError("AC refine with s != 1")
                        newval = p1 if r.bit() else m1
                    while k <= se:
                        if zz[k]:
                            if r.bit() and not (zz[k] & p1):
                                zz[k] += p1 if zz[k] >= 0 else m1
                        else:
                            if rr == 0:
                                if newval:
                                    zz[k] = newval
                                k += 1
                                break
                            rr -= 1
                        k += 1
            if eobrun:
                # EOB span: correction bits for the remaining
                # nonzero-history coefs of this block, then consume it
                while k <= se:
                    if zz[k]:
                        if r.bit() and not (zz[k] & p1):
                            zz[k] += p1 if zz[k] >= 0 else m1
                    k += 1
                eobrun -= 1


def _jpeg_finalize_progressive(sof, store, qt):
    """Dequantize + IDCT the accumulated luma coefficients."""
    if store is None:
        return None
    y = sof["comps"][0]
    qy = qt.get(y["tq"])
    if qy is None:
        return None
    w, h = sof["w"], sof["h"]
    coefs = store[y["id"]]
    bh, bw = coefs.shape[0], coefs.shape[1]
    # zigzag -> natural order
    nat = _np.zeros_like(coefs, dtype=_np.float64)
    zig = _np.asarray(_JPEG_ZIGZAG)
    nat[:, :, zig] = coefs
    F_ = nat.reshape(bh * bw, 8, 8) * qy[None, :, :]
    A = _jpeg_idct_matrix()
    f = _np.einsum("ux,nuv,vy->nxy", A, F_, A)
    px = _np.clip(_np.round(f) + 128, 0, 255).astype(_np.uint8)
    plane = (
        px.reshape(bh, bw, 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(bh * 8, bw * 8)
    )
    return w, h, 1, plane[:h, :w].tobytes()


def _jpeg_decode_scan(b, start, sof, scan, qt, huff, dri):
    segments, _ = _jpeg_entropy_segments(b, start)

    w, h = sof["w"], sof["h"]
    if not (0 < w <= 1 << 15 and 0 < h <= 1 << 15):
        return None
    comps = sof["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if not all(1 <= c["h"] <= 4 and 1 <= c["v"] <= 4 for c in comps):
        return None
    y = comps[0]
    if y["h"] != hmax or y["v"] != vmax:
        return None  # subsampled luma: out of envelope
    interleaved = len(scan) > 1
    if interleaved:
        mcx = -(-w // (8 * hmax))
        mcy = -(-h // (8 * vmax))
    else:
        comp = scan[0][0]
        cw = -(-(w * comp["h"]) // hmax)
        ch = -(-(h * comp["v"]) // vmax)
        mcx = -(-cw // 8)
        mcy = -(-ch // 8)
    n_mcu = mcx * mcy
    qy = qt.get(y["tq"])
    if qy is None:
        return None
    # luma plane, padded to whole MCUs
    yw, yh = mcx * 8 * (y["h"] if interleaved else 1), mcy * 8 * (
        y["v"] if interleaved else 1
    )
    plane = _np.zeros((yh, yw))
    zig = _JPEG_ZIGZAG
    pred = {c["id"]: 0 for c in comps}
    y_blocks: list = []  # (row, col, dequantized 8x8)
    seg_idx = 0
    r = _JpegBitReader(segments[0])
    per_seg = dri if dri else n_mcu
    for mcu in range(n_mcu):
        if dri and mcu and mcu % dri == 0:
            seg_idx += 1
            if seg_idx >= len(segments):
                return None
            r = _JpegBitReader(segments[seg_idx])
            pred = {c["id"]: 0 for c in comps}
        my, mx = divmod(mcu, mcx)
        for comp, td, ta in scan:
            dc_t = huff.get((0, td))
            ac_t = huff.get((1, ta))
            if dc_t is None or ac_t is None:
                return None
            nb = comp["h"] * comp["v"] if interleaved else 1
            for blk in range(nb):
                coef = _np.zeros(64)
                s = _jpeg_huff_decode(r, dc_t)
                diff = _jpeg_extend(r.receive(s), s) if s else 0
                pred[comp["id"]] += diff
                coef[0] = pred[comp["id"]]
                k = 1
                while k < 64:
                    rs = _jpeg_huff_decode(r, ac_t)
                    rr, ss = rs >> 4, rs & 15
                    if ss == 0:
                        if rr == 15:
                            k += 16
                            continue
                        break
                    k += rr
                    if k > 63:
                        return None
                    coef[zig[k]] = _jpeg_extend(r.receive(ss), ss)
                    k += 1
                if comp["id"] == y["id"]:
                    if interleaved:
                        by, bx = divmod(blk, comp["h"])
                        row = (my * comp["v"] + by) * 8
                        col = (mx * comp["h"] + bx) * 8
                    else:
                        row, col = my * 8, mx * 8
                    y_blocks.append((row, col, coef.reshape(8, 8) * qy))
    A = _jpeg_idct_matrix()
    if y_blocks:
        F_ = _np.stack([blk for _, _, blk in y_blocks])
        f = _np.einsum("ux,nuv,vy->nxy", A, F_, A)
        px = _np.clip(_np.round(f) + 128, 0, 255).astype(_np.uint8)
        for (row, col, _), blk in zip(y_blocks, px):
            plane[row : row + 8, col : col + 8] = blk
    return w, h, 1, plane[:h, :w].astype(_np.uint8).tobytes()


class _JpegBitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # stuffing
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self):
        if self.n:
            self.put(0x7F >> (7 - ((8 - self.n) % 8)), (8 - self.n) % 8)


def _exif_app1(orientation: int) -> bytes:
    """Minimal APP1 Exif segment carrying just the orientation tag."""
    tiff = (b"II*\x00" + _struct.pack("<I", 8)
            + _struct.pack("<H", 1)
            + _struct.pack("<HHIHH", 0x0112, 3, 1, orientation, 0)
            + _struct.pack("<I", 0))
    payload = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + _struct.pack(">H", 2 + len(payload)) + payload


def make_jpeg_pixels(
    w: int, h: int, gray: bytes, quality: int = 90, restart_interval: int = 0,
    exif_orientation: int | None = None,
) -> bytes:
    """Single-component (grayscale) baseline JPEG encoder carrying REAL
    pixel data — fixture support for the numpy decoder, built from the
    public Annex K tables (libjpeg's quality scaling formula).
    ``restart_interval`` > 0 emits DRI + RSTn markers every N MCUs
    (exercises the decoder's predictor-reset/byte-align path)."""
    if len(gray) != w * h:
        raise ValueError("pixel buffer must be w*h bytes")
    if not (1 <= quality <= 100):
        raise ValueError("quality must be in 1..100")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = _np.clip((_np.array(_JPEG_QLUM) * scale + 50) // 100, 1, 255).astype(int)
    qm = q.reshape(8, 8).astype(float)
    dc_t = _JpegHuffTable(_JPEG_DC_COUNTS, _JPEG_DC_SYMBOLS)
    ac_t = _JpegHuffTable(_JPEG_AC_COUNTS, _JPEG_AC_SYMBOLS)
    img = _np.frombuffer(gray, dtype=_np.uint8).reshape(h, w).astype(float)
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    pad = _np.pad(img, ((0, ph - h), (0, pw - w)), mode="edge") - 128.0
    A = _jpeg_idct_matrix()  # forward: F = A @ f @ A.T
    zig = _JPEG_ZIGZAG
    wtr = _JpegBitWriter()

    def put_val(v: int):
        s = int(v).bit_length() if v > 0 else int(-v).bit_length()
        return s

    pred = 0
    mcu_i = 0
    rst = 0
    for by in range(ph // 8):
        for bx in range(pw // 8):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                wtr.flush()
                wtr.out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) & 7
                pred = 0
            mcu_i += 1
            blk = pad[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
            F_ = A @ blk @ A.T
            qc = _np.round(F_ / qm).astype(int)
            zz = [int(qc.flat[zig[k]]) for k in range(64)]
            diff = zz[0] - pred
            pred = zz[0]
            s = put_val(diff)
            code, ln = dc_t.codes[s]
            wtr.put(code, ln)
            if s:
                wtr.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
            run = 0
            last_nz = max((k for k in range(1, 64) if zz[k]), default=0)
            for k in range(1, last_nz + 1):
                v = zz[k]
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, ln = ac_t.codes[0xF0]
                    wtr.put(code, ln)
                    run -= 16
                s = put_val(v)
                code, ln = ac_t.codes[(run << 4) | s]
                wtr.put(code, ln)
                wtr.put(v if v >= 0 else v + (1 << s) - 1, s)
                run = 0
            if last_nz < 63:
                code, ln = ac_t.codes[0x00]  # EOB
                wtr.put(code, ln)
    wtr.flush()

    def dht(tc, counts, symbols):
        body = bytes([tc]) + bytes(counts) + bytes(symbols)
        return b"\xff\xc4" + _struct.pack(">H", 2 + len(body)) + body

    qz = bytes(int(q[_JPEG_ZIGZAG[z]]) for z in range(64))
    out = b"\xff\xd8"
    if exif_orientation is not None:
        out += _exif_app1(exif_orientation)
    out += b"\xff\xdb" + _struct.pack(">H", 67) + b"\x00" + qz
    out += (b"\xff\xc0" + _struct.pack(">H", 11) + b"\x08"
            + _struct.pack(">HH", h, w) + b"\x01" + bytes([1, 0x11, 0]))
    if restart_interval:
        out += b"\xff\xdd" + _struct.pack(">HH", 4, restart_interval)
    out += dht(0x00, _JPEG_DC_COUNTS, _JPEG_DC_SYMBOLS)
    out += dht(0x10, _JPEG_AC_COUNTS, _JPEG_AC_SYMBOLS)
    out += (b"\xff\xda" + _struct.pack(">H", 8) + b"\x01"
            + bytes([1, 0x00]) + b"\x00\x3f\x00")
    out += bytes(wtr.out) + b"\xff\xd9"
    return out


def _jpeg_prog_ac_counts_symbols():
    """A valid (suboptimal) canonical Huffman table covering every AC
    symbol a progressive scan can emit: EOBn (0x00..0xE0), ZRL (0xF0),
    and (run, size) for sizes 1..10 — the standard Annex K sequential
    table lacks the EOBn codes, so progressive encoders carry their own
    (real files ship optimized ones; fixtures just need coverage). All
    codes get length 9 (176 symbols < 2^9), trivially prefix-free."""
    symbols = [rr << 4 for rr in range(15)]  # EOB1..EOB2^14
    symbols.append(0xF0)  # ZRL
    for s in range(1, 11):
        for run in range(16):
            symbols.append((run << 4) | s)
    counts = [0] * 16
    counts[8] = len(symbols)  # all length 9 (counts[len-1] layout)
    return counts, symbols


def make_jpeg_progressive_pixels(
    w: int, h: int, gray: bytes, quality: int = 90, channels: int = 1
) -> bytes:
    """Progressive (SOF2) JPEG encoder carrying REAL pixel data —
    fixture support for the progressive decoder, spectral selection AND
    successive approximation (the libjpeg-style script: DC first at
    Al=1; AC 1-5 then 6-63 first at Al=2; AC refine to Al=1; DC refine;
    AC refine to Al=0). ``channels=3`` emits three 1x1-sampled
    components carrying the same gray plane, making the DC scans
    INTERLEAVED (the multi-component sync path); the decoder's luma
    output is identical either way. The quantized coefficients equal
    make_jpeg_pixels' at the same quality, so decode(progressive) ==
    decode(baseline) bit-exactly — the fixture-side equivalence the
    tests assert."""
    if len(gray) != w * h:
        raise ValueError("pixel buffer must be w*h bytes")
    if not (1 <= quality <= 100):
        raise ValueError("quality must be in 1..100")
    if channels not in (1, 3):
        raise ValueError("channels must be 1 or 3")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = _np.clip((_np.array(_JPEG_QLUM) * scale + 50) // 100, 1, 255).astype(int)
    qm = q.reshape(8, 8).astype(float)
    dc_t = _JpegHuffTable(_JPEG_DC_COUNTS, _JPEG_DC_SYMBOLS)
    ac_counts, ac_symbols = _jpeg_prog_ac_counts_symbols()
    ac_t = _JpegHuffTable(ac_counts, ac_symbols)

    img = _np.frombuffer(gray, dtype=_np.uint8).reshape(h, w).astype(float)
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    pad = _np.pad(img, ((0, ph - h), (0, pw - w)), mode="edge") - 128.0
    A = _jpeg_idct_matrix()
    zig = _JPEG_ZIGZAG
    bw_, bh_ = pw // 8, ph // 8
    blocks: list[list[int]] = []  # raster over block grid, zigzag coefs
    for by in range(bh_):
        for bx in range(bw_):
            blk = pad[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
            qc = _np.round((A @ blk @ A.T) / qm).astype(int)
            blocks.append([int(qc.flat[zig[k]]) for k in range(64)])
    comp_ids = [1] if channels == 1 else [1, 2, 3]

    def size_of(v: int) -> int:
        return int(abs(v)).bit_length()

    def scan_dc_first(wtr, al):
        pred = {c: 0 for c in comp_ids}
        for zz in blocks:  # MCU order == block raster (all comps 1x1)
            for c in comp_ids:
                v = zz[0] >> al  # arithmetic point transform (T.81)
                diff = v - pred[c]
                pred[c] = v
                s = size_of(diff)
                code, ln = dc_t.codes[s]
                wtr.put(code, ln)
                if s:
                    wtr.put(diff if diff >= 0 else diff + (1 << s) - 1, s)

    def scan_dc_refine(wtr, al):
        for zz in blocks:
            for _c in comp_ids:
                wtr.put((zz[0] >> al) & 1, 1)

    def scan_ac_first(wtr, ss, se, al):
        eobrun = 0

        def flush_eob():
            nonlocal eobrun
            if eobrun:
                nbits = eobrun.bit_length() - 1
                code, ln = ac_t.codes[nbits << 4]
                wtr.put(code, ln)
                if nbits:
                    wtr.put(eobrun & ((1 << nbits) - 1), nbits)
                eobrun = 0

        for zz in blocks:
            r = 0
            wrote = False
            for k in range(ss, se + 1):
                v = zz[k]
                a = abs(v) >> al
                if a == 0:
                    r += 1
                    continue
                flush_eob()
                while r > 15:
                    code, ln = ac_t.codes[0xF0]
                    wtr.put(code, ln)
                    r -= 16
                s = a.bit_length()
                t = a if v >= 0 else -a
                code, ln = ac_t.codes[(r << 4) | s]
                wtr.put(code, ln)
                wtr.put(t if t >= 0 else t + (1 << s) - 1, s)
                r = 0
                wrote = True
            if r > 0 or not wrote:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob()
        flush_eob()

    def scan_ac_refine(wtr, ss, se, al):
        eobrun = 0
        be_bits: list[int] = []  # correction bits riding the EOB run

        def flush_eob():
            nonlocal eobrun, be_bits
            if eobrun:
                nbits = eobrun.bit_length() - 1
                code, ln = ac_t.codes[nbits << 4]
                wtr.put(code, ln)
                if nbits:
                    wtr.put(eobrun & ((1 << nbits) - 1), nbits)
                eobrun = 0
            for bit in be_bits:
                wtr.put(bit, 1)
            be_bits = []

        for zz in blocks:
            absv = [abs(zz[k]) >> al for k in range(ss, se + 1)]
            eob_idx = max(
                (i for i, a in enumerate(absv) if a), default=-1
            )
            r = 0
            br: list[int] = []  # this block's pending correction bits
            for i, a in enumerate(absv):
                if a == 0:
                    r += 1
                    continue
                while r > 15 and i <= eob_idx:
                    flush_eob()
                    code, ln = ac_t.codes[0xF0]
                    wtr.put(code, ln)
                    r -= 16
                    for bit in br:
                        wtr.put(bit, 1)
                    br = []
                if a > 1:  # history coefficient: buffer its correction bit
                    br.append(a & 1)
                    continue
                flush_eob()
                code, ln = ac_t.codes[(r << 4) | 1]
                wtr.put(code, ln)
                wtr.put(1 if zz[ss + i] >= 0 else 0, 1)
                for bit in br:
                    wtr.put(bit, 1)
                br = []
                r = 0
            if r > 0 or br:
                eobrun += 1
                be_bits.extend(br)
                if eobrun == 0x7FFF or len(be_bits) > 900:
                    flush_eob()
        flush_eob()

    def dht(tc, counts, symbols):
        body = bytes([tc]) + bytes(counts) + bytes(symbols)
        return b"\xff\xc4" + _struct.pack(">H", 2 + len(body)) + body

    def sos(comp_list, ss, se, ah, al, ta=0):
        body = bytes([len(comp_list)])
        for c in comp_list:
            body += bytes([c, (0 << 4) | ta])
        body += bytes([ss, se, (ah << 4) | al])
        return b"\xff\xda" + _struct.pack(">H", 2 + len(body)) + body

    qz = bytes(int(q[zig[z]]) for z in range(64))
    out = b"\xff\xd8"
    out += b"\xff\xdb" + _struct.pack(">H", 67) + b"\x00" + qz
    sof = b"\x08" + _struct.pack(">HH", h, w) + bytes([channels])
    for c in comp_ids:
        sof += bytes([c, 0x11, 0])
    out += b"\xff\xc2" + _struct.pack(">H", 2 + len(sof)) + sof
    out += dht(0x00, _JPEG_DC_COUNTS, _JPEG_DC_SYMBOLS)
    out += dht(0x10, ac_counts, ac_symbols)

    def run_scan(header, emit, *args):
        nonlocal out
        wtr = _JpegBitWriter()
        emit(wtr, *args)
        wtr.flush()
        out += header + bytes(wtr.out)

    run_scan(sos(comp_ids, 0, 0, 0, 1), scan_dc_first, 1)
    for c in comp_ids:
        run_scan(sos([c], 1, 5, 0, 2, ta=0), scan_ac_first, 1, 5, 2)
        run_scan(sos([c], 6, 63, 0, 2, ta=0), scan_ac_first, 6, 63, 2)
    for c in comp_ids:
        run_scan(sos([c], 1, 63, 2, 1, ta=0), scan_ac_refine, 1, 63, 1)
    run_scan(sos(comp_ids, 0, 0, 1, 0), scan_dc_refine, 0)
    for c in comp_ids:
        run_scan(sos([c], 1, 63, 1, 0, ta=0), scan_ac_refine, 1, 63, 0)
    return out + b"\xff\xd9"


def decode_pixels(media: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Pure-numpy/stdlib pixel decode via Arrow-batched mapInPandas —
    uncompressed BMP, binary PPM/PGM, PNG (stdlib zlib inflate + numpy
    unfilter, 8/16-bit, plain or Adam7-interlaced), GIF (pure-Python
    LZW, first frame, palette->RGB — gif_animation_frames is the
    multi-frame operator), and JPEG — baseline AND progressive (Huffman
    + dequant + IDCT, luma plane, channels=1): (media_id, format,
    width, height, channels, pixels) with ``pixels`` the row-major
    top-down uint8 samples (channel-interleaved RGB, or single-channel
    gray). Payloads outside the envelope (low-bit-depth PNG, arithmetic
    JPEG) or malformed ones yield NULL pixels with the sniffed
    ``format``, so callers filter rather than crash mid-scan."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["media_id", "format", "width", "height", "channels", "pixels"]
        for pdf in batches:
            out = []
            for mid, content in zip(pdf[id_col], pdf["content"]):
                b = bytes(content) if content else b""
                fmt = parse_media_header(b)["format"]
                got = None
                if b[:2] == b"BM":
                    got = _decode_bmp_pixels(b)
                    fmt = "bmp"
                elif b[:1] == b"P":
                    got = _decode_pnm_pixels(b)
                    if got is not None:
                        fmt = "ppm" if got[2] == 3 else "pgm"
                elif b[:2] == b"\xff\xd8":
                    got = _decode_jpeg_gray(b)
                    fmt = "jpeg"
                elif b[:8] == b"\x89PNG\r\n\x1a\n":
                    got = _decode_png_pixels(b)
                    fmt = "png"
                elif b[:6] in (b"GIF87a", b"GIF89a"):
                    got = _decode_gif_pixels(b)
                    fmt = "gif"
                if got is None:
                    out.append((mid, fmt, None, None, None, None))
                else:
                    w, h, nch, px = got
                    out.append((mid, fmt, w, h, nch, px))
            yield pd.DataFrame(out, columns=cols)

    return media.mapInPandas(run, schema=PIXELS_SCHEMA)


GIF_FRAMES_SCHEMA = (
    "media_id bigint, frame_idx int, ts_ms bigint, delay_ms bigint, "
    "width int, height int, pixels binary"
)


def gif_animation_frames(
    media: DataFrame, id_col: str = "media_id"
) -> DataFrame:
    """Animated-GIF frame extraction via Arrow-batched mapInPandas —
    the web-corpus sibling of decode_video_frames: one row per frame,
    each COMPOSED onto the logical screen per its Graphic Control
    Extension (transparency holes keep the underlying canvas, disposal
    2 restores background, disposal 3 restores the pre-frame canvas).
    (media_id, frame_idx, ts_ms, delay_ms, width, height, pixels) with
    ``ts_ms`` the cumulative presentation time (sum of PRIOR frames'
    delays) and pixels full-canvas RGB. Non-GIF/malformed payloads emit
    nothing — filter, don't crash."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["media_id", "frame_idx", "ts_ms", "delay_ms", "width",
                "height", "pixels"]
        for pdf in batches:
            out = []
            for mid, content in zip(pdf[id_col], pdf["content"]):
                got = decode_gif_frames(bytes(content or b""))
                if got is None:
                    continue
                w, h, frames = got
                ts = 0
                for i, (delay_ms, rgb) in enumerate(frames):
                    out.append((mid, i, ts, delay_ms, w, h, rgb))
                    ts += delay_ms
            yield pd.DataFrame(out, columns=cols)

    return media.mapInPandas(run, schema=GIF_FRAMES_SCHEMA)


def _gray_grid(px: bytes, w: int, h: int, nch: int, gw: int = 9, gh: int = 8):
    """Grayscale + exact area-average downsample to a (gh, gw) grid."""
    a = _np.frombuffer(px, dtype=_np.uint8).reshape(h, w, nch).astype(_np.float64)
    gray = a.mean(axis=2)
    if h % gh == 0 and w % gw == 0:
        # integer cell boundaries divide evenly: the reshape mean IS the
        # slice mean below, vectorized (the hot path — 9x8 rasters hit
        # it as the identity, 8x-upscaled JPEG/video frames as 8x8)
        return gray.reshape(gh, h // gh, gw, w // gw).mean(axis=(1, 3))
    # integer cell boundaries: cell (r, c) averages rows [rb[r], rb[r+1])
    rb = (_np.arange(gh + 1) * h) // gh
    cb = (_np.arange(gw + 1) * w) // gw
    out = _np.empty((gh, gw))
    for r in range(gh):
        band = gray[rb[r] : rb[r + 1]]
        for c in range(gw):
            out[r, c] = band[:, cb[c] : cb[c + 1]].mean()
    return out


def dhash64(px: bytes, w: int, h: int, nch: int) -> int:
    """64-bit perceptual difference hash: grayscale, area-average to a
    9x8 grid, bit (r, c) = grid[r, c+1] > grid[r, c] — row-major from
    bit 0. Robust to uniform brightness/contrast shifts; one flipped
    grid cell changes at most 2 bits (its two adjacent comparisons)."""
    g = _gray_grid(px, w, h, nch)
    bits = (g[:, 1:] > g[:, :-1]).ravel()
    weights = _np.left_shift(
        _np.uint64(1), _np.arange(64, dtype=_np.uint64)
    )
    return int((bits.astype(_np.uint64) * weights).sum())


def image_dhash(media: DataFrame, id_col: str = "media_id") -> DataFrame:
    """(media_id, format, width, height, dhash) over decodable payloads —
    codec-bound rows (NULL pixels) are dropped here, not crashed on."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, fmt, w, h, nch, px in zip(
                pdf["media_id"], pdf["format"], pdf["width"], pdf["height"],
                pdf["channels"], pdf["pixels"],
            ):
                if px is None:
                    continue
                hv = dhash64(bytes(px), int(w), int(h), int(nch))
                out.append(
                    (mid, fmt, int(w), int(h),
                     hv - (1 << 64 if hv >= 1 << 63 else 0))
                )
            yield pd.DataFrame(
                out, columns=["media_id", "format", "width", "height", "dhash"]
            )

    return decode_pixels(media, id_col).mapInPandas(
        run, schema="media_id bigint, format string, width int, height int, dhash long"
    )


def _dhash_bands(hashes: DataFrame, max_hamming: int) -> DataFrame:
    """(..., band, bv): the 64-bit ``dhash`` split into max_hamming+1
    contiguous bit-bands — the pigeonhole layout the image and video
    joins and histories share. Bit ranges must PARTITION all 64 bits
    or the recall argument breaks (an uncovered bit could absorb every
    difference); when 64 % bands != 0 the early bands take the extra
    bit each. Every input column passes through, so a frame-indexed
    hash table (video.py) keeps its frame index."""
    bands = max_hamming + 1
    bounds = [(i * 64) // bands for i in range(bands + 1)]

    def _band(lo, hi):
        if hi - lo >= 64:  # max_hamming=0: the single band IS the hash
            return F.col("dhash")
        return F.shiftrightunsigned(F.col("dhash"), lo).bitwiseAND(
            F.lit((1 << (hi - lo)) - 1)
        )

    band_vals = F.array(*[_band(lo, hi) for lo, hi in zip(bounds, bounds[1:])])
    return hashes.select(
        "*", F.posexplode(band_vals).alias("band", "bv")
    )


def _check_max_hamming(max_hamming: int) -> None:
    # -1 leaves no band at all, and 64 or more a zero-width band that
    # every hash matches, turning any probe into all-pairs
    if not (0 <= max_hamming < 64):
        raise ValueError("need 0 <= max_hamming < 64")


def image_neardup_history(
    max_hamming: int = 3, id_col: str = "media_id"
) -> NearDupHistory:
    """The dHash image family (dedup.NearDupHistory): one 64-bit dHash
    per decodable image, history rows (band, bv, dhash) keyed on the
    pigeonhole band (band, bv), and an EXACT Hamming verify on the full
    hash each row carries. Codec-bound rows (undecodable pixels) have no
    fingerprint, so they never collide and pass through."""
    _check_max_hamming(max_hamming)

    def rows(hashes: DataFrame) -> DataFrame:
        return _dhash_bands(hashes, max_hamming).select(
            "media_id", "band", "bv", "dhash"
        )

    def verify(hits: DataFrame, _) -> DataFrame:
        hamming = F.bit_count(F.col("p.dhash").bitwiseXOR(F.col("s.dhash")))
        return hits.where(hamming <= max_hamming)

    def pairs(hashes: DataFrame) -> DataFrame:
        banded = rows(hashes)
        a = banded.select(
            F.col("media_id").alias("id_a"), F.col("dhash").alias("__ha"), "band", "bv"
        )
        b = banded.select(
            F.col("media_id").alias("id_b"), F.col("dhash").alias("__hb"), "band", "bv"
        )
        return (
            a.join(b, ["band", "bv"])
            .where(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
            .select(
                "id_a",
                "id_b",
                F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb"))).alias("hamming"),
            )
            .where(F.col("hamming") <= max_hamming)
        )

    return NearDupHistory(
        lambda media: image_dhash(media, id_col).select("media_id", "dhash"),
        rows,
        ("band", "bv"),
        verify=verify,
        pairs=pairs,
    )


def image_neardup_join(
    media: DataFrame,
    max_hamming: int = 3,
    id_col: str = "media_id",
) -> DataFrame:
    """Image near-duplicate pairs (id_a < id_b, hamming) by dHash — the
    minhash banding discipline applied to a 64-bit perceptual hash:
    the hash splits into ``max_hamming + 1`` contiguous bit-bands, pairs
    collide when ANY band matches (pigeonhole: two hashes within
    ``max_hamming`` differing bits have at least one untouched band, so
    recall over the dHash metric is TOTAL — no false negatives), and
    the exact Hamming distance (xor + bit_count, JVM-side) verifies
    candidates. One corpus decode pass, one band-keyed shuffle, no
    all-pairs comparison; the only Python is the Arrow-batched pixel
    decode + hash."""
    family = image_neardup_history(max_hamming, id_col)
    return family.pairs(family.fingerprint(media))


def image_dedup_against_history(
    media: DataFrame,
    state_dir: str,
    max_hamming: int = 3,
    id_col: str = "media_id",
    update_state: bool = False,
) -> DataFrame:
    """Image near-dup filter against everything EVER ingested: drops an
    image when a (band, bv) band of its dHash matches a stored one AND
    the exact Hamming distance to that stored hash is <= max_hamming.
    The drop decision is exact over the dHash metric (no band-collision
    false positives) and recall stays total by the pigeonhole argument.
    The history at ``state_dir`` holds (band, bv, dhash) rows; probe and
    append are dedup.filter_history over image_neardup_history, the one
    mechanism of every near-dup family, and dedup.compact_history
    compacts it.

    CRASH ORDERING: append AFTER the sink commits (update_state=False +
    append_image_history), or eagerly with update_state=True where
    replay loss is acceptable."""
    family = image_neardup_history(max_hamming, id_col)
    return filter_history(media, state_dir, family, id_col, update_state)


def append_image_history(
    media: DataFrame,
    state_dir: str,
    max_hamming: int = 3,
    id_col: str = "media_id",
) -> None:
    """Append ``media``'s dHash band rows to the image history — split
    out so streaming callers order it AFTER the sink write. Duplicate
    rows from replays are harmless (membership semantics) and compact
    away."""
    append_to_history(media, state_dir, image_neardup_history(max_hamming, id_col))


def audio_neardup_history(
    max_ber: float = 0.25,
    id_col: str = "media_id",
    frame: int = 2048,
    hop: int = 1024,
    energy_floor: float | None = None,
    max_bucket: int | None = None,
) -> NearDupHistory:
    """The Haitsma-Kalker audio family (dedup.NearDupHistory): history
    rows (bh, idx, fp), one per subfingerprint that clears
    ``energy_floor``, keyed on the exact 32-bit subfingerprint ``bh``
    and carrying its frame index and the WHOLE clip's ordered
    fingerprint; a candidate verifies by the bit-error rate over the
    aligned overlap (<= ``max_ber``). ``max_bucket`` caps the
    within-batch probe buckets (audio_neardup_join)."""
    if not (0.0 <= max_ber <= 1.0):
        raise ValueError("need 0 <= max_ber <= 1")
    if energy_floor is not None and energy_floor < 0:
        raise ValueError("energy_floor must be >= 0")

    def probe(subs: DataFrame) -> DataFrame:
        if energy_floor is not None:
            subs = subs.where(F.col("ac_rms") >= energy_floor)
        return subs.select("media_id", "frame_idx", F.col("sub").alias("bh"))

    return _aligned_history(
        lambda media: audio_fingerprint(media, id_col, frame, hop),
        probe, ("bh",), "sub", 32,
        lambda n_over, xor_bits: _ber(n_over, xor_bits) <= max_ber,
        max_bucket,
    )


def audio_dedup_against_history(
    media: DataFrame,
    state_dir: str,
    max_ber: float = 0.25,
    id_col: str = "media_id",
    frame: int = 2048,
    hop: int = 1024,
    energy_floor: float | None = None,
    update_state: bool = False,
) -> DataFrame:
    """Audio near-dup filter against everything EVER ingested: a clip
    drops when any of its subfingerprints EXACTLY matches a stored one
    AND the bit-error rate over the aligned overlap verifies <=
    ``max_ber`` (the join's exact contract, cross-batch).
    ``energy_floor`` gates both the probes and what the paired append
    stores — near-silent frames neither probe nor accumulate.
    Undecodable payloads never collide and pass through. The history at
    ``state_dir`` holds (bh, idx, fp) rows; probe and append are
    dedup.filter_history over audio_neardup_history, the one mechanism
    of every near-dup family, and dedup.compact_history compacts it.

    CRASH ORDERING: append AFTER the sink commits (update_state=False +
    append_audio_history)."""
    family = audio_neardup_history(max_ber, id_col, frame, hop, energy_floor)
    return filter_history(media, state_dir, family, id_col, update_state)


def append_audio_history(
    media: DataFrame,
    state_dir: str,
    id_col: str = "media_id",
    frame: int = 2048,
    hop: int = 1024,
    energy_floor: float | None = None,
) -> None:
    """Append ``media``'s subfingerprint rows to the audio history —
    split out so streaming callers order it AFTER the sink write."""
    family = audio_neardup_history(
        id_col=id_col, frame=frame, hop=hop, energy_floor=energy_floor
    )
    append_to_history(media, state_dir, family)


def make_pgm(w: int, h: int, pixels: bytes) -> bytes:
    """Binary PGM (P5) encoder — test/synthesis support."""
    if len(pixels) != w * h:
        raise ValueError("pixel buffer must be w*h bytes")
    return f"P5\n{w} {h}\n255\n".encode() + pixels


def make_ppm(w: int, h: int, pixels: bytes) -> bytes:
    """Binary PPM (P6) encoder — test/synthesis support."""
    if len(pixels) != w * h * 3:
        raise ValueError("pixel buffer must be w*h*3 bytes")
    return f"P6\n{w} {h}\n255\n".encode() + pixels


def make_bmp_pixels(w: int, h: int, rgb: bytes) -> bytes:
    """24-bit uncompressed BMP encoder carrying REAL pixel data (top-down
    RGB in, bottom-up padded BGR on the wire — the standard layout)."""
    if len(rgb) != w * h * 3:
        raise ValueError("pixel buffer must be w*h*3 bytes")
    a = _np.frombuffer(rgb, dtype=_np.uint8).reshape(h, w, 3)
    bgr = a[::-1, :, [2, 1, 0]]  # bottom-up, BGR
    row_bytes = (w * 3 + 3) & ~3
    padded = _np.zeros((h, row_bytes), dtype=_np.uint8)
    padded[:, : w * 3] = bgr.reshape(h, w * 3)
    data = padded.tobytes()
    dib = _struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    hdr = b"BM" + _struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
    return hdr + dib + data


# --------------------------------------------------------------------------
# Codec-free AUDIO decode + perceptual fingerprint: WAV PCM needs no codec
# (samples sit raw in the data chunk), and the Philips robust hash
# (Haitsma & Kalker 2002, "A Highly Robust Audio Fingerprinting System")
# is a per-frame 32-bit sign pattern of band-energy differences — the
# audio counterpart of the image dHash above, with the same lookup-table
# candidate discipline: an exact 32-bit subfingerprint match probes the
# candidate set, then the bit-error rate over aligned frames verifies.
# --------------------------------------------------------------------------
# IMA/DVI ADPCM (WAV format tag 0x11) — the common compressed-WAV
# layout: 4-bit nibbles against the public step/index tables, per-block
# (predictor, step index) headers, stereo nibbles interleaved in 4-byte
# channel groups. Public spec: IMA "Recommended Practices for Enhancing
# Digital Audio Compatibility" (1992); reference parity: fluent-bit has
# no audio layer — this extends the corpus envelope like progressive
# JPEG does for images.
_IMA_STEP = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_IMA_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8]


def _build_ima_table():
    """(diff, next_index) for every (step index, nibble) — the IMA
    transition precomputed once so the per-nibble hot loop is two table
    lookups + a clamp instead of four shifts and five branches. The diff
    arithmetic is the spec's shift cascade verbatim, so results are
    bit-identical to computing it inline."""
    tbl = []
    for idx in range(89):
        step = _IMA_STEP[idx]
        row = []
        for n in range(16):
            diff = step >> 3
            if n & 1:
                diff += step >> 2
            if n & 2:
                diff += step >> 1
            if n & 4:
                diff += step
            if n & 8:
                diff = -diff
            row.append((diff, max(0, min(88, idx + _IMA_INDEX[n]))))
        tbl.append(row)
    return tbl


_IMA_TBL = _build_ima_table()


def _ima_step_nibble(n: int, pred: int, index: int) -> tuple[int, int]:
    """One IMA state transition: (new predictor, new index)."""
    diff, index = _IMA_TBL[index][n]
    pred += diff
    if pred > 32767:
        pred = 32767
    elif pred < -32768:
        pred = -32768
    return pred, index


def _ima_decode(data: bytes, nch: int, block_align: int):
    """IMA-ADPCM data chunk -> interleaved int16 numpy array. Blocks of
    ``block_align`` bytes; per channel a 4-byte (predictor, index)
    header, then nibbles in 4-byte channel groups (low nibble first). A
    trailing partial block decodes as far as its bytes go."""
    chans: list[list[int]] = [[] for _ in range(nch)]
    for bstart in range(0, len(data), block_align):
        blk = data[bstart : bstart + block_align]
        if len(blk) < 4 * nch:
            break
        preds = []
        idxs = []
        for c in range(nch):
            p, i, _r = _struct.unpack_from("<hBB", blk, c * 4)
            preds.append(p)
            idxs.append(min(i, 88))
            chans[c].append(p)
        body = blk[4 * nch :]
        tbl = _IMA_TBL
        for g in range(0, len(body) - len(body) % 4, 4):
            c = (g // 4) % nch
            p, i = preds[c], idxs[c]
            app = chans[c].append
            for byte in body[g : g + 4]:
                for n in (byte & 0x0F, byte >> 4):
                    diff, i = tbl[i][n]
                    p += diff
                    if p > 32767:
                        p = 32767
                    elif p < -32768:
                        p = -32768
                    app(p)
            preds[c], idxs[c] = p, i
    usable = min(len(c) for c in chans)
    out = _np.empty((usable, nch), dtype=_np.int16)
    for c in range(nch):
        out[:, c] = chans[c][:usable]
    return out.reshape(-1)


def make_wav_ima_adpcm(
    sample_rate: int,
    samples: "list[int] | _np.ndarray",
    channels: int = 1,
    block_align: int = 64,
) -> tuple[bytes, "_np.ndarray"]:
    """IMA-ADPCM WAV encoder (fixture support): ``samples`` is the
    int16 MONO source; ``channels=2`` duplicates it per channel (so the
    decoder's mono mix reproduces the channel exactly). Returns (wav
    bytes, the encoder's own reconstructed int16 stream) — ADPCM is
    lossy, but encode and decode run the SAME state machine, so the
    decoder must match the reconstruction BIT-EXACTLY (what the tests
    and the adpcm_roundtrip oracle assert). Input pads to whole
    blocks."""
    src = _np.asarray(samples, dtype=_np.int64)
    nch = channels
    per_ch_bytes = (block_align - 4 * nch) // nch
    if per_ch_bytes <= 0 or per_ch_bytes % 4 or (
        block_align != 4 * nch + per_ch_bytes * nch
    ):
        raise ValueError("block_align must fit whole 4-byte channel groups")
    spb = per_ch_bytes * 2 + 1  # samples per block per channel
    n_blocks = max(1, -(-len(src) // spb))
    pad = _np.zeros(n_blocks * spb, dtype=_np.int64)
    pad[: len(src)] = src
    recon: list[int] = []
    data = bytearray()
    index = 0  # step index persists across blocks (common practice)
    for bi in range(n_blocks):
        seg = pad[bi * spb : (bi + 1) * spb]
        pred = int(seg[0])
        for _c in range(nch):
            data += _struct.pack("<hBB", pred, index, 0)
        recon.append(pred)
        p, i = pred, index
        nibs: list[int] = []
        for s in seg[1:]:
            step = _IMA_STEP[i]
            delta = int(s) - p
            n = 0
            if delta < 0:
                n = 8
                delta = -delta
            if delta >= step:
                n |= 4
                delta -= step
            if delta >= step >> 1:
                n |= 2
                delta -= step >> 1
            if delta >= step >> 2:
                n |= 1
            p, i = _ima_step_nibble(n, p, i)
            nibs.append(n)
            recon.append(p)
        index = i
        packed = bytearray()
        for j in range(0, len(nibs), 2):
            lo = nibs[j]
            hi = nibs[j + 1] if j + 1 < len(nibs) else 0
            packed.append(lo | (hi << 4))
        if nch == 1:
            data += packed
        else:  # duplicate the mono nibble stream per channel, 4-byte groups
            for g in range(0, len(packed), 4):
                grp = bytes(packed[g : g + 4])
                for _c in range(nch):
                    data += grp
    fmt = _struct.pack(
        "<HHIIHHHH", 0x11, nch, sample_rate,
        max(1, sample_rate * block_align // spb), block_align, 4, 2, spb,
    )
    out = (b"RIFF" + _struct.pack("<I", 28 + len(fmt) + len(data)) + b"WAVE"
           + b"fmt " + _struct.pack("<I", len(fmt)) + fmt
           + b"data" + _struct.pack("<I", len(data)) + bytes(data))
    rec = _np.asarray(recon, dtype=_np.int16)
    return out, rec


def decode_wav_samples(b: bytes):
    """WAV -> (sample_rate, mono float64 samples in [-1, 1]); channels
    average down to mono. PCM (8/16-bit) decodes raw; IMA/DVI ADPCM
    (format 0x11, 4-bit) decodes through the public step/index state
    machine. Other formats / truncated payloads return None."""
    if len(b) < 44 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    off, n = 12, len(b)
    fmt = data = None
    while off + 8 <= n:
        cid = b[off : off + 4]
        clen = _struct.unpack("<I", b[off + 4 : off + 8])[0]
        if cid == b"fmt " and clen >= 16 and off + 24 <= n:
            fmt = _struct.unpack("<HHIIHH", b[off + 8 : off + 24])
        elif cid == b"data":
            if off + 8 + clen > n:
                return None  # truncated payload: header claims more samples
            data = b[off + 8 : off + 8 + clen]
        off += 8 + clen + (clen & 1)
    if fmt is None or data is None:
        return None
    tag, nch, rate, _, block_align, bits = fmt
    if not nch or not rate:
        return None
    if tag == 1 and bits in (8, 16):
        if bits == 16:
            a = _np.frombuffer(data, dtype="<i2", count=len(data) // 2)
            x = a.astype(_np.float64) / 32768.0
        else:
            a = _np.frombuffer(data, dtype=_np.uint8)
            x = (a.astype(_np.float64) - 128.0) / 128.0
    elif tag == 0x11 and bits == 4 and nch in (1, 2) and block_align >= 8:
        a = _ima_decode(data, nch, block_align)
        x = a.astype(_np.float64) / 32768.0
    else:
        return None
    usable = (len(x) // nch) * nch
    x = x[:usable].reshape(-1, nch).mean(axis=1)
    return rate, x


def audio_subfingerprints(
    samples, frame: int = 2048, hop: int = 1024, bits: int = 32
):
    """Per-frame 32-bit subfingerprints (Haitsma-Kalker): each frame's
    Hann-windowed FFT magnitude splits into ``bits``+1 contiguous bands;
    bit m is the sign of the TIME-AND-BAND energy difference
    (E[n,m]-E[n,m+1]) - (E[n-1,m]-E[n-1,m+1]). Differences make the
    pattern invariant to uniform volume scaling and slow spectral tilt.
    Returns a list of python ints (one per frame from index 1; audio
    shorter than 2 frames fingerprints to [])."""
    fps, _ = _subfps_and_energy(samples, frame, hop, bits)
    return fps


@_functools.lru_cache(maxsize=8)
def _hann_window(frame: int):
    """np.hanning(frame), cached — identical values, computed once per
    worker instead of once per clip (the window depends only on the
    frame length)."""
    return _np.hanning(frame)


def _subfps_and_energy(samples, frame: int, hop: int, bits: int = 32):
    """(subfingerprints, per-sub AC RMS): the fingerprint math plus the
    energy the Haitsma-Kalker gating practice needs — each sub's energy
    is the LESSER of its two source frames' AC RMS (std of the raw
    frame samples, so DC/near-constant frames read as silent even at
    full amplitude). Near-silent and near-constant frames produce sign
    patterns of numerical noise — every such clip mints the same few
    degenerate subfingerprints, the hot-bucket pathology — so callers
    gate PROBES on this energy while keeping every sub for the exact
    BER verify."""
    x = _np.asarray(samples, dtype=_np.float64)
    if len(x) < frame + hop:
        return [], []
    win = _hann_window(frame)
    n_frames = (len(x) - frame) // hop + 1
    idx = _np.arange(frame)[None, :] + hop * _np.arange(n_frames)[:, None]
    frames = x[idx]
    ac = frames.std(axis=1)                         # per-frame AC RMS
    spec = _np.abs(_np.fft.rfft(frames * win, axis=1)) ** 2
    spec = spec[:, 1:]  # drop DC
    edges = ((_np.arange(bits + 2) * spec.shape[1]) // (bits + 1)).astype(int)
    E = _np.add.reduceat(spec, edges[:-1], axis=1)  # (n_frames, bits+1)
    d = E[:, :-1] - E[:, 1:]                        # band differences
    dd = d[1:] - d[:-1]                             # time differences
    weights = 1 << _np.arange(bits, dtype=_np.uint64)
    fps = ((dd > 0).astype(_np.uint64) * weights).sum(axis=1)
    sub_ac = _np.minimum(ac[1:], ac[:-1])           # sub i <- frames i, i+1
    return [int(v) for v in fps], [float(v) for v in sub_ac]


def audio_fingerprint(
    media: DataFrame,
    id_col: str = "media_id",
    frame: int = 2048,
    hop: int = 1024,
) -> DataFrame:
    """(media_id, frame_idx, sub, ac_rms): exploded subfingerprint table
    for a binary WAV column — the Philips lookup-table layout, where
    ``sub`` is both the match key and the stored value, and ``ac_rms``
    the lesser source-frame AC RMS for energy-gated probing. Non-PCM/
    short payloads produce no rows (filter, don't crash, mid-scan)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, subs, acs = [], [], [], []
            for mid, content in zip(pdf[id_col], pdf["content"]):
                got = decode_wav_samples(bytes(content) if content else b"")
                if got is None:
                    continue
                fps, ac = _subfps_and_energy(got[1], frame, hop)
                ids.extend([mid] * len(fps))
                idxs.extend(range(len(fps)))
                subs.extend(s - (1 << 32 if s >= 1 << 31 else 0) for s in fps)
                acs.extend(ac)
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "sub": subs, "ac_rms": acs}
            )

    return media.mapInPandas(
        run, schema="media_id bigint, frame_idx int, sub int, ac_rms double"
    )


def audio_neardup_join(
    media: DataFrame,
    max_ber: float = 0.25,
    id_col: str = "media_id",
    frame: int = 2048,
    hop: int = 1024,
    max_bucket: int | None = None,
    energy_floor: float | None = None,
) -> DataFrame:
    """Audio near-duplicate pairs (id_a < id_b, offset, ber): candidates
    are (pair, alignment-offset) tuples where at least one 32-bit
    subfingerprint matches EXACTLY at that offset (the Philips
    lookup-table probe — one shuffle keyed by the subfingerprint value,
    no all-pairs scan); each candidate verifies by the bit-error rate
    over its aligned overlapping frames, JVM-side (arrays_zip + xor +
    bit_count — no Python past the fingerprint scan). ``max_ber`` 0.25
    is the paper's operating point; identical-up-to-volume copies score
    0. A true near-dup whose every aligned frame differs (BER > 0 at
    all 32 bits everywhere) has no exact-match probe and is missed —
    the documented recall contract of lookup-table fingerprinting.

    ``max_bucket`` is the hot-bucket stop-list — the quadratic-pocket
    guard every lookup-table scheme needs at scale: a degenerate
    subfingerprint shared by f clips (silence, test tones, synthetic
    near-uniform corpora) contributes ~f^2/2 candidate pairs, so sub
    values occurring more than ``max_bucket`` times are skipped as
    probes (the minhash band-cap discipline). A pair is missed only if
    EVERY subfingerprint it shares is that common; the default None
    keeps the exact candidate contract.

    ``energy_floor`` is the CAUSAL guard for the same pocket — the
    standard Haitsma-Kalker practice of not probing on near-silent or
    near-constant frames (their sign patterns are numerical noise, so
    every degenerate clip mints the same few subfingerprints): subs
    whose lesser source-frame AC RMS sits below the floor (full-scale
    samples span [-1, 1]; 1e-3 ~ -60 dBFS) don't probe. The BER verify
    still runs over ALL frames, so reported scores are exact; a pair is
    missed only if every sub it shares is sub-floor. Unlike max_bucket
    (which reacts to corpus-wide frequency), the gate is per-clip and
    needs no extra aggregate."""
    family = audio_neardup_history(
        max_ber, id_col, frame, hop, energy_floor, max_bucket
    )
    subs = family.fingerprint(media).localCheckpoint(eager=True)
    return family.pairs(subs).select(
        "id_a", "id_b", "offset",
        _ber(F.col("n_over"), F.col("xor_bits")).alias("ber"),
    )


def _ber(n_over, xor_bits):
    """Bit-error rate of ``xor_bits`` differing bits over ``n_over``
    aligned 32-bit subfingerprints."""
    return F.round(xor_bits / (n_over.cast("double") * 32.0), 6)


def _clip_fps(subs: DataFrame, col: str) -> DataFrame:
    """(media_id, fp): each clip's frame-ordered array of ``col`` (the
    audio ``sub`` or the video ``dhash``), from an exploded
    (media_id, frame_idx, col) fingerprint table."""
    return subs.groupBy("media_id").agg(
        F.array_sort(
            F.collect_list(F.struct("frame_idx", col))
        ).alias("__fs")
    ).select(
        "media_id",
        F.transform("__fs", lambda s: s.getField(col)).alias("fp"),
    )


def _aligned_xor(fa, fb, offset, bits: int):
    """(n_over, xor_bits) Columns: the number of overlapping frames of
    two fingerprint arrays aligned so a-frame i pairs with b-frame
    i + offset, and the differing bits summed over that overlap —
    JVM-side slice/zip_with/bit_count. ``bits`` is the hash width: the
    32-bit audio xor masks to the low 32 bits BEFORE bit_count (the
    int32 xor gets sign-extended to bigint, and a negative result would
    count 32 phantom high bits — observed: per-frame counts of 36 on a
    32-bit hash); a 64-bit dHash needs no mask."""
    a_sl = F.slice(
        fa,
        F.greatest(F.lit(1), F.lit(1) - offset),
        F.size(fa) + F.size(fb),  # upper bound; slice clips
    )
    b_sl = F.slice(
        fb,
        F.greatest(F.lit(1), offset + F.lit(1)),
        F.size(fa) + F.size(fb),
    )
    n_over = F.least(F.size(a_sl), F.size(b_sl))

    def diff(x, y):
        v = x.cast("long").bitwiseXOR(y.cast("long"))
        if bits < 64:
            v = v.bitwiseAND(F.lit((1 << bits) - 1))
        return F.bit_count(v).cast("long")

    xor_bits = F.aggregate(
        F.zip_with(F.slice(a_sl, 1, n_over), F.slice(b_sl, 1, n_over), diff),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return n_over, xor_bits


def _aligned_history(
    fingerprint, probe, key: tuple[str, ...], col: str, bits: int, accept,
    max_bucket: int | None = None, pairs_probe=None,
) -> NearDupHistory:
    """The NearDupHistory of a frame-aligned family (audio, video).
    ``fingerprint`` yields the exploded (media_id, frame_idx, col)
    table; ``probe`` maps it to the (media_id, frame_idx, *key) probe
    rows (``pairs_probe``, if given, replaces it for the within-batch
    pairs only). A candidate is a (clip, alignment offset) whose probe
    keys match exactly; it verifies when its aligned overlap is
    non-empty and ``accept(n_over, xor_bits)`` holds (_aligned_xor over
    ``bits``-wide hashes). History rows are (*key, idx, fp): the probe
    key, its frame index and the whole clip's ordered ``col`` array."""
    if max_bucket is not None and max_bucket < 1:
        raise ValueError("max_bucket must be >= 1")

    def rows(subs: DataFrame) -> DataFrame:
        # left join, equal to the inner one (every non-null clip id has
        # its array): the optimizer then drops the array fetch from a
        # plan that never reads ``fp``, such as the history probe
        probe_rows = probe(subs).where(F.col("media_id").isNotNull())
        return probe_rows.join(_clip_fps(subs, col), "media_id", "left").select(
            "media_id", *key, F.col("frame_idx").alias("idx"), "fp"
        )

    def aligned(cands: DataFrame, fa: str, fb: str) -> DataFrame:
        n_over, xor_bits = _aligned_xor(F.col(fa), F.col(fb), F.col("offset"), bits)
        return cands.select(
            "*", n_over.alias("n_over"), xor_bits.alias("xor_bits")
        ).where((F.col("n_over") > 0) & accept(F.col("n_over"), F.col("xor_bits")))

    def verify(hits: DataFrame, subs: DataFrame) -> DataFrame:
        # distinct (clip, offset, stored fp) BEFORE fetching the probe
        # clip's own array: the key join shuffles no probe-side arrays
        cands = hits.select(
            F.col("p.media_id").alias("media_id"),
            (F.col("s.idx") - F.col("p.idx")).alias("offset"),
            F.col("s.fp").alias("__fb"),
        ).distinct()
        fps = _clip_fps(subs, col).select("media_id", F.col("fp").alias("__fa"))
        return aligned(cands.join(fps, "media_id"), "__fa", "__fb")

    def pairs(subs: DataFrame) -> DataFrame:
        """Verified (id_a < id_b, offset) pairs with their n_over and
        xor_bits, the hot-bucket stop-list applied to the probe keys
        first."""
        banded = (pairs_probe or probe)(subs)
        if max_bucket is not None:
            hot = (
                banded.groupBy(*key)
                .agg(F.count(F.lit(1)).alias("__n"))
                .where(F.col("__n") > max_bucket)
                .select(*key)
            )
            banded = banded.join(F.broadcast(hot), list(key), "left_anti")
        a = banded.select(
            F.col("media_id").alias("id_a"), F.col("frame_idx").alias("__ia"), *key
        )
        b = banded.select(
            F.col("media_id").alias("id_b"), F.col("frame_idx").alias("__ib"), *key
        )
        cands = (
            a.join(b, list(key))
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", (F.col("__ib") - F.col("__ia")).alias("offset"))
            .distinct()
        )
        fps = _clip_fps(subs, col)
        fa = fps.select(F.col("media_id").alias("id_a"), F.col("fp").alias("__fa"))
        fb = fps.select(F.col("media_id").alias("id_b"), F.col("fp").alias("__fb"))
        return aligned(cands.join(fa, "id_a").join(fb, "id_b"), "__fa", "__fb")

    return NearDupHistory(fingerprint, rows, key, verify=verify, pairs=pairs)
