"""Write the msgpack golden-pair corpus in this directory.

Each pair is ``<name>.json`` (the value, ``ensure_ascii=True``) and
``<name>.mp`` (that JSON text, loaded and packed by msgpack-python, the
copy vendored in pip as ``pip._vendor.msgpack``). No byte comes from
``fluent_bit_spark``: the encoder is independent of the decoder under test
(tests/test_connectors.py::test_msgpack_codec_golden_pairs).

Run from anywhere: ``python tests/data/pack/make_pack_corpus.py``. The
output is deterministic; rerunning it reproduces the committed bytes.
"""

from __future__ import annotations

import json
import string
from pathlib import Path

from pip._vendor import msgpack

HERE = Path(__file__).resolve().parent

_ALNUM = string.ascii_letters + string.digits


def _text(n: int) -> str:
    """``n`` ASCII characters (``n`` UTF-8 bytes, ``n`` JSON characters)."""
    return (_ALNUM * (n // len(_ALNUM) + 1))[:n]


def _keys(n: int) -> dict:
    return {f"k{i:02d}": i for i in range(n)}


# name -> value; each comment names the msgpack format families it holds
CORPUS = {
    # positive fixint 0..0x7f, negative fixint -32..-1
    "int_fixint": [0, 1, 127, -1, -32],
    # uint 8/16/32/64 at both ends
    "int_uint": [128, 255, 256, 65535, 65536, 4294967295, 4294967296, 18446744073709551615],
    # int 8/16/32/64 at both ends
    "int_int": [-33, -128, -129, -32768, -32769, -2147483648, -2147483649, -9223372036854775808],
    # float 64: signs, subnormal, extremes
    "float64": [0.0, 0.5, -1.5, 3.141592653589793, 1e300, -2.2250738585072014e-308, 5e-324, 1.7976931348623157e308],
    # float 32 (packed with use_single_float): values exact in binary32
    "float32": [0.0, 0.5, -1.5, 3.140625, 16777216.0, 1.1754943508222875e-38, 3.4028234663852886e38],
    # nil, false, true
    "nil_bool": [None, False, True],
    # fixstr at 0 and 31 bytes
    "str_fix": ["", "a", _text(31)],
    # str 8 at 32 and 255 bytes
    "str8": [_text(32), _text(255)],
    # str 16 at 256 bytes and mid-range
    "str16": [_text(256), _text(1000)],
    # str 32 at 65536 bytes
    "str32": _text(65536),
    # fixarray at 0 and 15 elements, nested
    "array_fix": [[], [[]], list(range(15))],
    # array 16 at 16 elements and mid-range
    "array16": [list(range(16)), [i % 10 for i in range(1000)]],
    # array 32 at 65536 elements
    "array32": [i % 10 for i in range(65536)],
    # fixmap at 0 and 15 entries, nested
    "map_fix": {"empty": {}, "full": _keys(15)},
    # map 16 at 16 entries
    "map16": _keys(16),
    # 2-, 3- and 4-byte UTF-8 in fixstr, str 8 and as map keys
    "utf8_multibyte": {"2": "éßñ", "3": "日本語 €", "4": "\U0001f600\U00029e3d", "é€\U0001f600": "x" * 10 + "é" * 20},
    # a control character (BEL, U+0007)
    "utf8_bell": {"bell": "\u0007", "text": "ring\u0007ring"},
    # U+29E3D (hokke), written in the .json as the surrogate pair \ud867\ude3d
    "utf8_hokke": {"hokke": "\U00029e3d", "text": "\U00029e3dの塩焼き"},
    # log records shaped like fluent-bit events: [time, {record}]
    "mixed_001": [1700000000, {"log": "GET /index.html 200", "stream": "stdout", "time": "2023-11-14T22:13:20.000000000Z"}],
    "mixed_002": [
        1700000001,
        {
            "level": "error",
            "msg": "disk full",
            "bytes": 1073741824,
            "ratio": 0.97,
            "retry": None,
            "ok": False,
            "tags": ["disk", "alert", "événement"],
            "kubernetes": {"pod_name": "web-0", "namespace_name": "prod", "labels": {"app": "web", "tier": "frontend"}},
        },
    ],
    "mixed_003": [
        1700000002,
        {
            "message": "user 田中 logged in \U0001f511",
            "user": {"id": -42, "roles": ["admin", "dev"], "quota": 5e-324, "active": True},
            "trace": [{"span": i, "ms": i * 0.5} for i in range(17)],
            "headers": _keys(16),
            "body": _text(300),
        },
    ],
}

SINGLE_FLOAT = {"float32"}


def main() -> None:
    for name, value in CORPUS.items():
        text = json.dumps(value, ensure_ascii=True, separators=(",", ":")) + "\n"
        raw = msgpack.packb(json.loads(text), use_bin_type=True, use_single_float=name in SINGLE_FLOAT)
        (HERE / f"{name}.json").write_bytes(text.encode("ascii"))
        (HERE / f"{name}.mp").write_bytes(raw)
    print(f"wrote {len(CORPUS)} pairs with msgpack-python {'.'.join(map(str, msgpack.version))}")


if __name__ == "__main__":
    main()
