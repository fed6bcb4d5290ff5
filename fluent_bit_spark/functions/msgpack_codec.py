"""msgpack codec + fluent-bit log-event / forward-protocol decoding.

Pure-Python (no msgpack wheel in the runtime): this is a PROTOCOL ADAPTER
for the ingest boundary, not a hot-path format — inside the engine the
columnar format is parquet/Arrow. It is only ever invoked through
Arrow-batched ``mapInPandas`` wrappers (connectors.py), one Python pass
per captured chunk/frame.

Format references:
- msgpack spec (public: github.com/msgpack/msgpack/blob/master/spec.md).
- Event layouts, include/fluent-bit/flb_log_event.h:29-61 —
  V1/forward ``[timestamp, body-map]``; V2 ``[[timestamp, metadata-map],
  body-map]``; timestamps -1/-2 are group markers, other negatives invalid.
- Timestamp decode, src/flb_log_event_decoder.c:182-260 — positive int
  seconds; float with fractional nanos; EventTime ext(type=0, 8 bytes:
  u32 sec ‖ u32 nsec big-endian, fluentd forward spec); ext seconds
  0xffffffff/0xfffffffe with nsec==0 are the legacy group markers.
- Forward wire modes, plugins/in_forward/fw_prot.c (Message
  ``[tag, time, record, option?]``, Forward ``[tag, [[time, record]...],
  option?]``, PackedForward ``[tag, bin, option?]`` with
  ``compressed: gzip`` handled via magic sniff like fw_prot.c:1727-1745).
"""

from __future__ import annotations

import gzip
import struct
from typing import Any, NamedTuple


class EventTime(NamedTuple):
    """fluentd EventTime ext value (type 0, 8 bytes)."""

    sec: int
    nsec: int


class Ext(NamedTuple):
    """Any other msgpack extension value, kept opaque."""

    code: int
    data: bytes


GROUP_START = -1  # flb_log_event.h: FLB_LOG_EVENT_GROUP_START
GROUP_END = -2


# --------------------------------------------------------------------------
# decoder
# --------------------------------------------------------------------------
def _take(buf: bytes, off: int, n: int) -> bytes:
    if off + n > len(buf):
        raise ValueError(f"truncated msgpack at offset {off} (+{n})")
    return buf[off : off + n]


def _ext(code: int, data: bytes):
    if code == 0 and len(data) == 8:
        # sec read signed: pre-1970 events roundtrip through the encoder's
        # two's-complement masking (& 0xFFFFFFFF). The fluentd spec leaves
        # signedness ambiguous; signed trades the 2038-2106 unsigned range
        # for a correct negative-epoch path.
        sec, nsec = struct.unpack(">iI", data)
        return EventTime(sec, nsec)
    return Ext(code, data)


def unpack_one(buf: bytes, off: int = 0) -> tuple[Any, int]:
    """Decode one msgpack value at ``off``; returns (value, next offset)."""
    b = buf[off]
    off += 1
    if b <= 0x7F:  # positive fixint
        return b, off
    if b >= 0xE0:  # negative fixint
        return b - 0x100, off
    if 0x80 <= b <= 0x8F:
        return _unpack_map(buf, off, b & 0x0F)
    if 0x90 <= b <= 0x9F:
        return _unpack_array(buf, off, b & 0x0F)
    if 0xA0 <= b <= 0xBF:
        n = b & 0x1F
        return _take(buf, off, n).decode("utf-8", "surrogatepass"), off + n
    if b == 0xC0:
        return None, off
    if b == 0xC2:
        return False, off
    if b == 0xC3:
        return True, off
    if b in (0xC4, 0xC5, 0xC6):  # bin 8/16/32
        w = 1 << (b - 0xC4)
        n = int.from_bytes(_take(buf, off, w), "big")
        off += w
        return bytes(_take(buf, off, n)), off + n
    if b in (0xC7, 0xC8, 0xC9):  # ext 8/16/32
        w = 1 << (b - 0xC7)
        n = int.from_bytes(_take(buf, off, w), "big")
        off += w
        code = struct.unpack("b", _take(buf, off, 1))[0]
        off += 1
        return _ext(code, bytes(_take(buf, off, n))), off + n
    if b == 0xCA:
        return struct.unpack(">f", _take(buf, off, 4))[0], off + 4
    if b == 0xCB:
        return struct.unpack(">d", _take(buf, off, 8))[0], off + 8
    if b in (0xCC, 0xCD, 0xCE, 0xCF):  # uint 8/16/32/64
        w = 1 << (b - 0xCC)
        return int.from_bytes(_take(buf, off, w), "big"), off + w
    if b in (0xD0, 0xD1, 0xD2, 0xD3):  # int 8/16/32/64
        w = 1 << (b - 0xD0)
        return int.from_bytes(_take(buf, off, w), "big", signed=True), off + w
    if 0xD4 <= b <= 0xD8:  # fixext 1/2/4/8/16
        n = 1 << (b - 0xD4)
        code = struct.unpack("b", _take(buf, off, 1))[0]
        off += 1
        return _ext(code, bytes(_take(buf, off, n))), off + n
    if b in (0xD9, 0xDA, 0xDB):  # str 8/16/32
        w = 1 << (b - 0xD9)
        n = int.from_bytes(_take(buf, off, w), "big")
        off += w
        return _take(buf, off, n).decode("utf-8", "surrogatepass"), off + n
    if b in (0xDC, 0xDD):  # array 16/32
        w = 2 << (b - 0xDC)
        n = int.from_bytes(_take(buf, off, w), "big")
        return _unpack_array(buf, off + w, n)
    if b in (0xDE, 0xDF):  # map 16/32
        w = 2 << (b - 0xDE)
        n = int.from_bytes(_take(buf, off, w), "big")
        return _unpack_map(buf, off + w, n)
    raise ValueError(f"unknown msgpack byte 0x{b:02x} at {off - 1}")


def _unpack_array(buf: bytes, off: int, n: int) -> tuple[list, int]:
    out = []
    for _ in range(n):
        v, off = unpack_one(buf, off)
        out.append(v)
    return out, off


def _unpack_map(buf: bytes, off: int, n: int) -> tuple[dict, int]:
    out = {}
    for _ in range(n):
        k, off = unpack_one(buf, off)
        v, off = unpack_one(buf, off)
        out[k] = v
    return out, off


def unpack_stream(buf: bytes) -> list:
    """Decode a back-to-back stream of msgpack values (a fluent-bit chunk)."""
    out, off = [], 0
    while off < len(buf):
        v, off = unpack_one(buf, off)
        out.append(v)
    return out


# --------------------------------------------------------------------------
# encoder (tests / fixture synthesis; decode is the product surface)
# --------------------------------------------------------------------------
def pack(o: Any) -> bytes:
    if o is None:
        return b"\xc0"
    if o is True:
        return b"\xc3"
    if o is False:
        return b"\xc2"
    if isinstance(o, EventTime):
        return b"\xd7\x00" + struct.pack(">II", o.sec & 0xFFFFFFFF, o.nsec)
    if isinstance(o, Ext):
        n = len(o.data)
        code = struct.pack("b", o.code)
        if n in (1, 2, 4, 8, 16):  # fixext 1/2/4/8/16
            return bytes([0xD4 + n.bit_length() - 1]) + code + o.data
        if n <= 0xFF:
            return b"\xc7" + bytes([n]) + code + o.data
        if n <= 0xFFFF:
            return b"\xc8" + struct.pack(">H", n) + code + o.data
        return b"\xc9" + struct.pack(">I", n) + code + o.data
    if isinstance(o, int):
        if 0 <= o <= 0x7F:
            return bytes([o])
        if -32 <= o < 0:
            return bytes([o & 0xFF])
        if 0 <= o <= 0xFFFFFFFFFFFFFFFF:
            for code, fmt, lim in ((0xCC, ">B", 1 << 8), (0xCD, ">H", 1 << 16), (0xCE, ">I", 1 << 32), (0xCF, ">Q", 1 << 64)):
                if o < lim:
                    return bytes([code]) + struct.pack(fmt, o)
        for code, fmt, lim in ((0xD0, ">b", 1 << 7), (0xD1, ">h", 1 << 15), (0xD2, ">i", 1 << 31), (0xD3, ">q", 1 << 63)):
            if -lim <= o < lim:
                return bytes([code]) + struct.pack(fmt, o)
        raise OverflowError(o)
    if isinstance(o, float):
        return b"\xcb" + struct.pack(">d", o)
    if isinstance(o, str):
        raw = o.encode("utf-8", "surrogatepass")
        n = len(raw)
        if n <= 0x1F:
            return bytes([0xA0 | n]) + raw
        if n <= 0xFF:
            return b"\xd9" + bytes([n]) + raw
        if n <= 0xFFFF:
            return b"\xda" + struct.pack(">H", n) + raw
        return b"\xdb" + struct.pack(">I", n) + raw
    if isinstance(o, (bytes, bytearray)):
        n = len(o)
        if n <= 0xFF:
            return b"\xc4" + bytes([n]) + bytes(o)
        if n <= 0xFFFF:
            return b"\xc5" + struct.pack(">H", n) + bytes(o)
        return b"\xc6" + struct.pack(">I", n) + bytes(o)
    if isinstance(o, (list, tuple)):
        n = len(o)
        if n <= 0x0F:
            head = bytes([0x90 | n])
        elif n <= 0xFFFF:
            head = b"\xdc" + struct.pack(">H", n)
        else:
            head = b"\xdd" + struct.pack(">I", n)
        return head + b"".join(pack(x) for x in o)
    if isinstance(o, dict):
        n = len(o)
        if n <= 0x0F:
            head = bytes([0x80 | n])
        elif n <= 0xFFFF:
            head = b"\xde" + struct.pack(">H", n)
        else:
            head = b"\xdf" + struct.pack(">I", n)
        return head + b"".join(pack(k) + pack(v) for k, v in o.items())
    raise TypeError(f"cannot msgpack {type(o)}")


# --------------------------------------------------------------------------
# log-event semantics
# --------------------------------------------------------------------------
def decode_timestamp(ts: Any) -> tuple[int, int]:
    """(sec, nsec) per flb_log_event_decoder_decode_timestamp. Group
    markers come back as (-1, 0)/(-2, 0); invalid types raise."""
    if isinstance(ts, EventTime):
        # the ext decoder reads sec signed, so the reference's uint32
        # markers 0xFFFFFFFF/0xFFFFFFFE arrive as -1/-2; those two seconds
        # (1969-12-31 23:59:58/59) are reserved in the wire format itself
        if ts.sec in (-1, 0xFFFFFFFF):
            if ts.nsec != 0:
                raise ValueError("invalid group marker nsec")
            return GROUP_START, 0
        if ts.sec in (-2, 0xFFFFFFFE):
            if ts.nsec != 0:
                raise ValueError("invalid group marker nsec")
            return GROUP_END, 0
        return ts.sec, ts.nsec
    if isinstance(ts, bool):
        raise ValueError(f"wrong timestamp type {ts!r}")
    if isinstance(ts, int):
        if ts < 0 and ts not in (GROUP_START, GROUP_END):
            raise ValueError(f"invalid negative timestamp {ts}")
        return ts, 0
    if isinstance(ts, float):
        sec = int(ts)
        return sec, int((ts - sec) * 1_000_000_000)
    raise ValueError(f"wrong timestamp type {ts!r}")


def decode_event(ev: Any) -> tuple[int, int, dict | None, Any] | None:
    """One V1/V2 event -> (sec, nsec, metadata, body); group markers and
    malformed events -> None (decoder-skip semantics)."""
    if not isinstance(ev, list) or len(ev) != 2:
        return None
    head, body = ev
    if isinstance(head, list):  # V2: [[ts, metadata], body]
        if len(head) != 2 or not isinstance(head[1], dict):
            return None
        ts_raw, metadata = head
    else:  # V1/forward: [ts, body]
        ts_raw, metadata = head, None
    try:
        sec, nsec = decode_timestamp(ts_raw)
    except ValueError:
        return None
    if sec in (GROUP_START, GROUP_END):
        return None
    return sec, nsec, metadata, body


def decode_event_stream(buf: bytes) -> list[tuple[int, int, dict | None, Any]]:
    """A chunk of concatenated events -> decoded tuples, skips group
    markers/corrupt entries like the C decoder."""
    out = []
    for ev in unpack_stream(buf):
        d = decode_event(ev)
        if d is not None:
            out.append(d)
    return out


def _maybe_gunzip(payload: bytes, options: dict | None) -> bytes:
    """fw_prot.c:1727-1745: trust the magic bytes over the declared
    ``compressed`` option when they disagree."""
    if payload[:2] == b"\x1f\x8b":
        return gzip.decompress(payload)
    if options and options.get("compressed") == "gzip":
        return gzip.decompress(payload)
    return payload


def decode_forward_frame(buf: bytes) -> tuple[str, list, dict | None]:
    """One forward transport frame -> (tag, events, options).

    Handles the three modes of fw_prot.c: Message ``[tag, time, record,
    option?]``, Forward ``[tag, [[time, record], ...], option?]``,
    PackedForward ``[tag, bin(msgpack stream), option?]`` (gzip
    transparently undone). Events are (sec, nsec, metadata, body).
    """
    root, _ = unpack_one(buf, 0)
    if not isinstance(root, list) or len(root) < 2 or not isinstance(root[0], str):
        raise ValueError("not a forward frame")
    tag = root[0]
    options = root[-1] if len(root) > 2 and isinstance(root[-1], dict) else None
    second = root[1]
    events: list = []
    if isinstance(second, (bytes, bytearray)):  # PackedForward
        events = decode_event_stream(_maybe_gunzip(bytes(second), options))
    elif isinstance(second, list):  # Forward
        for entry in second:
            d = decode_event(entry)
            if d is not None:
                events.append(d)
    else:  # Message mode: [tag, time, record, option?]
        if len(root) < 3:
            raise ValueError("short message-mode frame")
        d = decode_event([second, root[2]])
        options = root[3] if len(root) > 3 and isinstance(root[3], dict) else None
        if d is not None:
            events.append(d)
    return tag, events, options


# --------------------------------------------------------------------------
# Minimal protobuf wire helpers (for the Prometheus remote-write payload —
# varint + length-delimited + fixed64 are the only wire types it uses)
# --------------------------------------------------------------------------
def pb_varint(n: int) -> bytes:
    # Protobuf int64 varints encode negatives as 10-byte two's complement
    # (proto wire spec); without the mask a negative n never reaches 0 and
    # the loop hangs — e.g. remote-write with a pre-1970 epoch-ms timestamp.
    n &= (1 << 64) - 1
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def pb_read_varint(buf: bytes, off: int) -> tuple[int, int]:
    shift = n = 0
    while True:
        b = buf[off]
        off += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, off
        shift += 7


def pb_field(field_no: int, wire_type: int) -> bytes:
    return pb_varint((field_no << 3) | wire_type)


def pb_len_delim(field_no: int, payload: bytes) -> bytes:
    return pb_field(field_no, 2) + pb_varint(len(payload)) + payload


def pb_fields(buf: bytes):
    """Yield (field_no, wire_type, value) — value is bytes for
    length-delimited, int for varint/fixed64 raw bits."""
    off = 0
    while off < len(buf):
        key, off = pb_read_varint(buf, off)
        field_no, wt = key >> 3, key & 7
        if wt == 0:
            v, off = pb_read_varint(buf, off)
        elif wt == 1:
            v = int.from_bytes(buf[off : off + 8], "little")
            off += 8
        elif wt == 2:
            ln, off = pb_read_varint(buf, off)
            v = buf[off : off + ln]
            off += ln
        elif wt == 5:
            v = int.from_bytes(buf[off : off + 4], "little")
            off += 4
        else:
            raise ValueError(f"unsupported wire type {wt}")
        yield field_no, wt, v
