"""Property-based tests (hypothesis) — SURVEY §5.2's property tier.

Spark jobs are too slow for per-example execution, so each property either
(a) exercises a pure-Python component (accessor parsing, template
splitting), or (b) folds all hypothesis examples into ONE DataFrame and
runs a single Spark action per test case.
"""

import json
import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from fluent_bit_spark.accessor import parse_accessor

KEY = st.from_regex(r"[A-Za-z_][A-Za-z0-9_]{0,10}", fullmatch=True)
# string subscripts: anything without quotes/brackets
SUB_S = st.text(
    alphabet=st.characters(blacklist_characters="'\"[]\\", min_codepoint=32, max_codepoint=126),
    max_size=8,
)
SUB = st.one_of(SUB_S, st.integers(min_value=0, max_value=999))


@given(name=KEY, subs=st.lists(SUB, max_size=4))
def test_accessor_parse_roundtrip(name, subs):
    """parse(display(p)) == p for every buildable path."""
    path = "$" + name + "".join(
        f"[{s}]" if isinstance(s, int) else f"['{s}']" for s in subs
    )
    acc = parse_accessor(path)
    assert acc.name == name
    assert list(acc.subkeys) == list(subs)
    # re-rendering the parsed form parses back to the same accessor
    rendered = "$" + acc.name + "".join(
        f"[{s}]" if isinstance(s, int) else f"['{s}']" for s in acc.subkeys
    )
    assert parse_accessor(rendered) == acc


@given(n=st.integers(min_value=0, max_value=9))
def test_accessor_tag_part(n):
    acc = parse_accessor(f"$TAG[{n}]")
    assert acc.is_tag and acc.subkeys == (n,)


@given(
    tpl_parts=st.lists(
        st.text(
            alphabet=st.characters(blacklist_characters="{}", min_codepoint=32, max_codepoint=126),
            max_size=6,
        ),
        min_size=1,
        max_size=4,
    )
)
def test_template_line_splitting(tpl_parts):
    """template_line's placeholder regex splits any literal/placeholder mix
    losslessly (pure string property of the splitter regex)."""
    tpl = "{a}".join(tpl_parts)
    spans = [m.span() for m in re.finditer(r"\{([A-Za-z_][A-Za-z0-9_]*)\}", tpl)]
    rebuilt, pos = "", 0
    for s, e in spans:
        rebuilt += tpl[pos:s] + "{a}"
        pos = e
    rebuilt += tpl[pos:]
    assert rebuilt == tpl


# ---------------------------------------------------------------------------
# batched Spark properties: one DataFrame per test case
# ---------------------------------------------------------------------------
LOGFMT_VAL = st.text(
    alphabet=st.characters(
        blacklist_characters='"\\\n\t=', min_codepoint=32, max_codepoint=126
    ),
    min_size=0,
    max_size=12,
)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    records=st.lists(
        st.dictionaries(KEY, LOGFMT_VAL, min_size=1, max_size=4), min_size=1, max_size=8
    )
)
def test_logfmt_encode_parse_roundtrip(spark, records):
    """encode as logfmt text -> LogfmtParser -> original map (for values in
    logfmt's unquoted-safe alphabet; quoting covered by unit tests)."""
    from fluent_bit_spark.functions.parsers import LogfmtParser

    lines = [
        (" ".join(f'{k}="{v}"' for k, v in rec.items()), json.dumps(rec))
        for rec in records
    ]
    df = spark.createDataFrame(lines, "line string, expected string")
    parsed = df.select(
        LogfmtParser().parse_map(F.col("line")).alias("m"), "expected"
    ).collect()
    for row in parsed:
        assert row.m == json.loads(row.expected)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    records=st.lists(
        st.dictionaries(KEY, LOGFMT_VAL.filter(lambda s: ":" not in s), min_size=1, max_size=4),
        min_size=1,
        max_size=8,
    )
)
def test_ltsv_encode_parse_roundtrip(spark, records):
    from fluent_bit_spark.functions.parsers import LtsvParser

    lines = [
        ("\t".join(f"{k}:{v}" for k, v in rec.items()), json.dumps(rec))
        for rec in records
    ]
    df = spark.createDataFrame(lines, "line string, expected string")
    parsed = df.select(
        LtsvParser().parse_map(F.col("line")).alias("m"), "expected"
    ).collect()
    for row in parsed:
        assert row.m == json.loads(row.expected)


def _last_wins(pairs):
    """Reference map: the last value of each key, keys in order of their
    last occurrence, as (key, value) pairs."""
    out = {}
    for k, v in pairs:
        out.pop(k, None)
        out[k] = v
    return list(out.items())


def _entries(rows):
    return [None if r.e is None else [(x.key, x.value) for x in r.e] for r in rows]


# few keys, so lines repeat them
DUP_KEY = st.sampled_from(["a", "b", "lvl", "x.y", "k-1"])
_PRINTABLE = st.characters(min_codepoint=32, max_codepoint=126)
LOGFMT_PAIR = st.one_of(
    # bare value; may hold '=' but no space, quote or backslash
    st.tuples(
        DUP_KEY,
        st.text(alphabet=st.characters(blacklist_characters=' "\\', min_codepoint=33,
                                       max_codepoint=126), max_size=6),
        st.just(False),
    ),
    # quoted value: spaces, '=', quotes and backslashes, escaped
    st.tuples(DUP_KEY, st.text(alphabet=_PRINTABLE, max_size=8), st.just(True)),
)
# a word with no '=' between pairs: not a pair, skipped
LOGFMT_NOISE = st.text(alphabet="abc:-", min_size=1, max_size=4)


def _logfmt_line(tokens):
    parts, pairs = [], []
    for t in tokens:
        if isinstance(t, str):
            parts.append(t)
            continue
        k, v, quoted = t
        raw = '"' + v.replace("\\", "\\\\").replace('"', '\\"') + '"' if quoted else v
        parts.append(f"{k}={raw}")
        pairs.append((k, v))
    return " ".join(parts), _last_wins(pairs)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    lines=st.lists(
        st.one_of(
            st.none(),
            st.lists(st.one_of(LOGFMT_PAIR, LOGFMT_NOISE), max_size=8),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_logfmt_parse_map_matches_last_wins_reference(spark, lines):
    """LogfmtParser.parse_map equals a pure-Python last-wins map, key order
    included, over duplicate keys, quoted and escaped values, empty
    values, and empty and NULL lines."""
    from fluent_bit_spark.functions.parsers import LogfmtParser

    cases = [(None, None) if t is None else _logfmt_line(t) for t in lines]
    df = spark.createDataFrame([(c[0],) for c in cases], "line string")
    rows = df.select(
        F.map_entries(LogfmtParser().parse_map(F.col("line"))).alias("e")
    ).collect()
    assert _entries(rows) == [c[1] for c in cases]


def _ltsv_reference(line):
    if line is None:
        return None
    pairs = []
    for p in line.split("\t"):
        k, sep, v = p.partition(":")
        pairs.append((k, v if sep else None))
    return _last_wins(pairs)


LTSV_PAIR = st.tuples(
    st.sampled_from(["a", "b", "host", "x.y", ""]),
    # None = a bare pair with no ':'; values may hold further ':'
    st.one_of(st.none(), st.text(alphabet=_PRINTABLE, max_size=6)),
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    lines=st.lists(
        st.one_of(st.none(), st.lists(LTSV_PAIR, max_size=8)),
        min_size=1,
        max_size=30,
    )
)
def test_ltsv_parse_map_matches_last_wins_reference(spark, lines):
    """LtsvParser.parse_map equals a pure-Python last-wins map, key order
    included, over duplicate keys, values holding ':', bare pairs, and
    empty and NULL lines."""
    from fluent_bit_spark.functions.parsers import LtsvParser

    text = [
        None if t is None
        else "\t".join(k if v is None else f"{k}:{v}" for k, v in t)
        for t in lines
    ]
    df = spark.createDataFrame([(t,) for t in text], "line string")
    rows = df.select(
        F.map_entries(LtsvParser().parse_map(F.col("line"))).alias("e")
    ).collect()
    assert _entries(rows) == [_ltsv_reference(t) for t in text]


VALS = st.lists(
    st.one_of(
        st.integers(min_value=-(2**31), max_value=2**31 - 1).map(str),
        st.floats(allow_nan=False, allow_infinity=False, width=16).map(str),
        st.sampled_from(["true", "False", "TRUEish", "falsey", "on", "0", "-0", " 12abc"]),
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=6
        ),
    ),
    min_size=1,
    max_size=40,
)


def _strtol(s):
    m = re.match(r"[ \t\n]*([+-]?[0-9]+)", s)
    return int(m.group(1)) if m else None


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(vals=VALS)
def test_typecast_int_both_engines(spark, vals):
    """'int' cast vs pure-Python strtol models of BOTH reference engines:
    parser mode = atoll (flb_parser.c:2097, garbage -> 0); converter mode =
    strtoimax with 0-as-error (flb_typecast.c:100-104)."""
    from fluent_bit_spark.typecast import cast_column

    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = df.select(
        cast_column(F.col("v"), "int", mode="parser").alias("p"),
        cast_column(F.col("v"), "int", mode="converter").alias("c"),
    ).collect()
    for v, row in zip(vals, got):
        n = _strtol(v)
        assert row.p == (n if n is not None else 0), (v, row.p)
        assert row.c == (n if n not in (None, 0) else None), (v, row.c)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(vals=VALS)
def test_typecast_bool_prefix_match(spark, vals):
    """bool cast is a case-insensitive PREFIX match on true/false
    (strncasecmp, flb_parser.c:2121-2126), not equality."""
    from fluent_bit_spark.typecast import cast_column

    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = [r.b for r in df.select(cast_column(F.col("v"), "bool").alias("b")).collect()]
    for v, b in zip(vals, got):
        lo = v.lower()
        expect = True if lo.startswith("true") else False if lo.startswith("false") else None
        assert b is expect or b == expect, (v, b)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(
        st.floats(allow_nan=False, allow_infinity=False, width=32).map(repr),
        min_size=1,
        max_size=30,
    )
)
def test_typecast_float_exact_on_clean_input(spark, vals):
    """atof on a clean float repr recovers the value exactly in both modes
    (atof never errors; garbage handling covered by the int/bool tests)."""
    from fluent_bit_spark.typecast import cast_column

    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = [r.f for r in df.select(cast_column(F.col("v"), "float").alias("f")).collect()]
    assert got == [float(v) for v in vals]


@given(
    vals=st.lists(
        st.one_of(
            st.none(),
            st.booleans(),
            st.integers(min_value=-(2**63), max_value=2**64 - 1),
            st.floats(allow_nan=False, allow_infinity=True),
            st.text(max_size=40),
            st.binary(max_size=40),
        ),
        max_size=8,
    )
)
def test_msgpack_pack_unpack_roundtrip(vals):
    """Pure-Python msgpack codec: pack -> unpack is identity for every
    scalar type the wire supports, nested in arrays and maps."""
    from fluent_bit_spark.functions.msgpack_codec import pack, unpack_one

    obj = {"arr": vals, "nested": {"k": vals}}
    got, off = unpack_one(pack(obj))
    raw = pack(obj)
    assert off == len(raw)
    assert got == obj


@given(
    series=st.lists(
        st.tuples(
            st.from_regex(r"[a-z_][a-z0-9_]{0,12}", fullmatch=True),  # metric
            st.text(max_size=12),                                      # label value
            st.floats(allow_nan=False, allow_infinity=False, width=64),
            st.integers(min_value=-(2**41), max_value=2**41),          # epoch ms (incl. pre-1970)
        ),
        min_size=1,
        max_size=12,
    )
)
def test_remote_write_proto_roundtrip_pure(series):
    """The hand-rolled protobuf wire survives arbitrary label values and
    sample magnitudes (pure-Python level, no Spark per example)."""
    import struct

    from fluent_bit_spark.functions.msgpack_codec import (
        pb_field, pb_fields, pb_len_delim, pb_varint,
    )

    msgs = []
    for name, lv, val, ms in series:
        labels = pb_len_delim(1, pb_len_delim(1, b"__name__") + pb_len_delim(2, name.encode()))
        labels += pb_len_delim(1, pb_len_delim(1, b"host") + pb_len_delim(2, lv.encode()))
        sample = pb_field(1, 1) + struct.pack("<d", val) + pb_field(2, 0) + pb_varint(ms)
        msgs.append(pb_len_delim(1, labels + pb_len_delim(2, sample)))
    body = b"".join(msgs)

    out = []
    for fno, _, ts_msg in pb_fields(body):
        assert fno == 1
        name = host = val = ms = None
        for f2, _, v2 in pb_fields(ts_msg):
            if f2 == 1:
                kv = {}
                for f3, _, v3 in pb_fields(v2):
                    kv[f3] = v3
                if kv[1] == b"__name__":
                    name = kv[2].decode()
                else:
                    host = kv[2].decode()
            else:
                for f3, wt3, v3 in pb_fields(v2):
                    if f3 == 1:
                        val = struct.unpack("<d", v3.to_bytes(8, "little"))[0]
                    else:
                        # int64 varint sign extension (negatives arrive as
                        # 10-byte two's complement)
                        ms = v3 - (1 << 64) if v3 >= (1 << 63) else v3
        out.append((name, host, val, ms))
    assert out == list(series)


@given(
    w=st.integers(min_value=1, max_value=65535),
    h=st.integers(min_value=1, max_value=65535),
    fmt=st.sampled_from(["png", "jpeg", "gif", "bmp"]),
)
@settings(max_examples=60, deadline=None)
def test_media_header_encode_parse_property(w, h, fmt):
    """parse_media_header inverts the encoders across the full u16
    dimension range for every image container format."""
    from fluent_bit_spark.extensions.multimodal import (
        make_bmp, make_gif, make_jpeg, make_png, parse_media_header,
    )

    b = {"png": make_png, "jpeg": make_jpeg, "gif": make_gif, "bmp": make_bmp}[fmt](w, h)
    m = parse_media_header(b)
    assert (m["format"], m["width"], m["height"]) == (fmt, w, h)


@given(
    parts=st.lists(
        st.from_regex(r"[a-z][a-z0-9_-]{0,8}", fullmatch=True), min_size=1, max_size=4
    ),
    n=st.integers(min_value=0, max_value=9),
)
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_tag_template_part_extraction(spark, parts, n):
    """$TAG[n] always yields the n-th dot part or empty — never NULLs the
    whole expansion (ANSI out-of-range regression)."""
    from fluent_bit_spark.accessor import tag_template

    tag = ".".join(parts)
    df = spark.createDataFrame([(tag,)], "tag string")
    got = df.select(tag_template(f"x/$TAG[{n}]/y").alias("k")).collect()[0].k
    expect = parts[n] if n < len(parts) else ""
    assert got == f"x/{expect}/y"


def test_pb_varint_negative_is_ten_byte_twos_complement():
    """proto int64: negative values encode as 10-byte two's complement and
    must not hang the encoder (regression: pb_varint(-1) looped forever)."""
    from fluent_bit_spark.functions.msgpack_codec import pb_read_varint, pb_varint

    for n in (-1, -62135596800000, -(2**63)):
        enc = pb_varint(n)
        assert len(enc) == 10
        raw, off = pb_read_varint(enc, 0)
        assert off == len(enc)
        assert raw - (1 << 64) == n or raw == n


@given(
    text=st.text(
        alphabet=st.characters(min_codepoint=1, max_codepoint=0x2FF), max_size=30
    )
)
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_influx_escape_matches_python_model(spark, text):
    """The Jackson-based JSON-body escape + quote escape equals the
    straightforward Python model of influxdb.c's two-stage escaping."""
    import json as _json
    import re as _re

    from fluent_bit_spark.connectors import (
        _influx_json_body_escape, _influx_quote_escape,
    )

    df = spark.createDataFrame([(text,)], "s string")
    got = df.select(
        _influx_quote_escape(_influx_json_body_escape(F.col("s"))).alias("e")
    ).collect()[0].e
    json_escaped = _json.dumps(text, ensure_ascii=False)[1:-1]
    # Jackson renders \uXXXX hex uppercase (C's flb emits lowercase —
    # cosmetic deviation documented on the encoder)
    json_escaped = _re.sub(
        r"\\u([0-9a-f]{4})", lambda m: "\\u" + m.group(1).upper(), json_escaped
    )
    want = _re.sub(r'([\\"])', r"\\\1", json_escaped)
    assert got == want


@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["alpha line", "beta line", "gamma", "delta x", ""]),
                 min_size=1, max_size=6),
        min_size=2, max_size=12,
    )
)
def test_corpus_line_dedup_frequency_property(spark, docs):
    """No surviving line may occur in more than max_docs distinct docs,
    and kept+dropped always equals the doc's line count. One Spark action
    per hypothesis example set (examples folded into one frame)."""
    from collections import Counter

    from fluent_bit_spark.extensions.text import corpus_line_dedup

    rows = [(i, "\n".join(lines)) for i, lines in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = corpus_line_dedup(df, max_docs=2).collect()

    # reference computation in plain Python
    freq = Counter()
    for i, lines in enumerate(docs):
        for ln in {l.strip() for l in lines if l.strip()}:
            freq[ln] += 1
    banned = {ln for ln, n in freq.items() if n > 2}

    assert len(out) == len(docs)
    for r in out:
        lines = docs[r["doc_id"]]
        assert r["n_kept_lines"] + r["n_dropped_lines"] == len(lines)
        for ln in r["clean_text"].split("\n"):
            assert ln.strip() not in banned or not ln.strip()


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    obs=st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=10,
                 unique=True)
)
def test_gap_fill_spine_and_locf_properties(spark, obs):
    """The spine covers [min, max] buckets inclusive with no holes, is_gap
    marks exactly the materialized rows, and LOCF leaves no nulls."""
    import datetime as dt

    from fluent_bit_spark.extensions.timeseries import gap_fill

    t0 = dt.datetime(2024, 1, 1)
    rows = [("s", t0 + dt.timedelta(minutes=m), float(m)) for m in obs]
    df = spark.createDataFrame(rows, ["k", "bucket", "v"])
    out = sorted(
        gap_fill(df, ["k"], 60, ["v"], method="locf").collect(),
        key=lambda r: r["bucket"],
    )
    lo, hi = min(obs), max(obs)
    assert len(out) == hi - lo + 1
    mins = [r["bucket"].minute + 60 * r["bucket"].hour for r in out]
    assert mins == list(range(lo, hi + 1))
    assert sum(r["is_gap"] for r in out) == (hi - lo + 1) - len(obs)
    assert all(r["v"] is not None for r in out)


# ---------------------------------------------------------------------------
# URL canonicalization properties
# ---------------------------------------------------------------------------
_HOST_LABEL = st.text(alphabet="abcdefghij", min_size=1, max_size=5)
_PATH_SEG = st.text(alphabet="abcXYZ019", min_size=0, max_size=6)
_PARAM = st.tuples(
    st.sampled_from(["a", "b", "zz", "utm_source", "utm_campaign", "fbclid", "ref"]),
    st.text(alphabet="abc123", min_size=0, max_size=4),
)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    urls=st.lists(
        st.tuples(
            st.sampled_from(["http", "HTTP", "https", "HTTPS"]),
            st.lists(_HOST_LABEL, min_size=2, max_size=4),
            st.sampled_from(["", ":80", ":443", ":8080"]),
            st.lists(_PATH_SEG, min_size=0, max_size=3),
            st.booleans(),  # trailing slash
            st.lists(_PARAM, min_size=0, max_size=4),
            st.sampled_from(["", "#frag"]),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_url_normalize_idempotent_and_shape(spark, urls):
    """normalize(normalize(u)) == normalize(u) for any URL from the
    grammar (canonical forms are fixed points), and every canonical form
    is free of fragments, tracking params, default ports, and uppercase
    scheme/host."""
    from fluent_bit_spark.extensions.urls import url_normalize

    raw = []
    for scheme, labels, port, segs, slash, params, frag in urls:
        u = scheme + "://" + ".".join(labels) + port + "/" + "/".join(segs)
        if slash and not u.endswith("/"):
            u += "/"
        if params:
            u += "?" + "&".join(f"{k}={v}" for k, v in params)
        u += frag
        raw.append((u,))
    df = spark.createDataFrame(raw, ["url"])
    once = df.select(url_normalize(F.col("url")).alias("n1"))
    twice = once.select("n1", url_normalize(F.col("n1")).alias("n2"))
    for r in twice.collect():
        assert r.n2 == r.n1, (r.n1, r.n2)
        assert "#" not in r.n1 and "utm_" not in r.n1 and "fbclid" not in r.n1
        scheme, rest = r.n1.split("://", 1)
        # DEFAULT ports are stripped (80 only for http, 443 only for https —
        # a cross pairing like http://h:443 is non-default and stays)
        if scheme == "http":
            assert ":80/" not in r.n1
        if scheme == "https":
            assert ":443/" not in r.n1
        assert scheme == scheme.lower()
        assert rest.split("/", 1)[0] == rest.split("/", 1)[0].lower()


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["a", "b", "c", "d"]), st.integers(0, 50)),
        min_size=1, max_size=40,
    ),
    n=st.integers(1, 6),
)
def test_cap_per_key_quota_property(spark, rows, n):
    """For any key/order multiset and quota n: every key keeps
    min(count, n) rows, and the kept rows are exactly the n smallest by
    (order, tiebreak) — the over-cap/under-cap split must be invisible."""
    from collections import Counter

    from fluent_bit_spark.extensions.mixing import cap_per_key

    # unique ids as deterministic tiebreak for duplicate order values
    data = [(k, o, i) for i, (k, o) in enumerate(rows)]
    df = spark.createDataFrame(data, ["k", "o", "id"])
    counts = Counter(k for k, _ in rows)
    for salt in (1, 4):  # salted two-phase must be output-identical
        out = cap_per_key(df, ["k"], ["o", "id"], n, salt=salt)
        got = {}
        for r in out.collect():
            got.setdefault(r.k, []).append((r.o, r.id))
        for k, c in counts.items():
            expect = sorted(((o, i) for i, (kk, o) in enumerate(rows) if kk == k))[:n]
            assert sorted(got.get(k, [])) == expect, (k, n, salt)
            assert len(got.get(k, [])) == min(c, n)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    data=st.lists(
        st.lists(st.sampled_from("red green blue fox dog cat run eat".split()),
                 min_size=1, max_size=12),
        min_size=3, max_size=8,
    ),
    qwords=st.lists(st.sampled_from("red green blue fox dog cat run eat".split()),
                    min_size=1, max_size=4),
)
def test_bm25_matches_naive_python(spark, data, qwords):
    """bm25_topk vs an independent pure-Python BM25 on random corpora:
    identical candidate sets, scores within float tolerance, same order."""
    import math

    from fluent_bit_spark.extensions.retrieval import bm25_topk

    docs = [(i, " ".join(ws)) for i, ws in enumerate(data)]
    sdf = spark.createDataFrame(docs, ["doc_id", "text"])
    q = spark.createDataFrame([(0, " ".join(qwords))], ["query_id", "text"])
    got = {r.doc_id: r.score for r in bm25_topk(sdf, q, k=len(docs)).collect()}

    # naive reference
    n = len(docs)
    tf = [dict() for _ in range(n)]
    for i, ws in enumerate(data):
        for w in ws:
            tf[i][w] = tf[i].get(w, 0) + 1
    dl = [len(ws) for ws in data]
    avgdl = sum(dl) / n
    qset = set(qwords)
    want = {}
    for i in range(n):
        s = 0.0
        for t in qset:
            if t not in tf[i]:
                continue
            df_t = sum(1 for j in range(n) if t in tf[j])
            idf = math.log((n - df_t + 0.5) / (df_t + 0.5) + 1)
            f = tf[i][t]
            s += idf * f * 2.2 / (f + 1.2 * (0.25 + 0.75 * dl[i] / avgdl))
        if s > 0:
            want[i] = s
    assert set(got) == set(want)
    for i in want:
        assert abs(got[i] - want[i]) < 1e-4, (i, got[i], want[i])


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    tgt=st.lists(
        st.lists(st.sampled_from("aa bb cc dd ee".split()), min_size=2, max_size=8),
        min_size=2, max_size=5,
    ),
    doc=st.lists(st.sampled_from("aa bb cc dd ee zz".split()), min_size=1, max_size=10),
)
def test_bigram_logprob_matches_naive_python(spark, tgt, doc):
    """bigram_logprob vs an independent pure-Python scorer on random
    target corpora and docs (including OOV 'zz')."""
    import math

    from fluent_bit_spark.extensions.text import bigram_logprob

    target = spark.createDataFrame(
        [(100 + i, " ".join(ws)) for i, ws in enumerate(tgt)], ["doc_id", "text"]
    )
    docs = spark.createDataFrame([(1, " ".join(doc))], ["doc_id", "text"])
    got = bigram_logprob(docs, target, interpolation=0.5).collect()[0]

    uni, big, ctx = {}, {}, {}
    for ws in tgt:
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(ws, ws[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
            ctx[a] = ctx.get(a, 0) + 1
    denom = sum(uni.values()) + len(uni)

    def p_uni(w):
        return (uni.get(w, 0) + 1) / denom

    lps = []
    prev = None
    for w in doc:
        if prev is None or prev not in ctx:
            p = p_uni(w)
        else:
            p = 0.5 * (big.get((prev, w), 0) / ctx[prev]) + 0.5 * p_uni(w)
        lps.append(math.log(p))
        prev = w
    assert got.n_tokens == len(doc)
    assert abs(got.avg_logp - sum(lps) / len(lps)) < 1e-9


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rules=st.lists(
        st.tuples(
            st.sampled_from(["allow", "disallow"]),
            st.sampled_from(["/a", "/a/b", "/a/b/c", "/x", "/x/y*", "/a$", "/"]),
        ),
        min_size=0, max_size=6,
    ),
    paths=st.lists(
        st.sampled_from(["/a", "/a/b", "/a/b/c/d", "/x/yz", "/x/", "/other", "/"]),
        min_size=1, max_size=5, unique=True,
    ),
)
def test_robots_filter_matches_naive_rfc9309(spark, rules, paths):
    """robots_filter vs an independent Python longest-match evaluator on
    random rule sets: identical allow/deny verdicts for every path."""
    import re as _re

    from fluent_bit_spark.extensions.urls import robots_filter

    dom = "t.example"
    rdf = spark.createDataFrame(
        [(dom, r, p) for r, p in set(rules)] or [(dom, "allow", "/never-used")],
        ["domain", "rule", "path_prefix"],
    )
    urls = spark.createDataFrame(
        [(i, f"http://{dom}{p}") for i, p in enumerate(paths)], ["uid", "url"]
    )
    kept = {r.uid for r in robots_filter(urls, rdf).collect()}

    def naive_allowed(path):
        best_len, verdict = -1, True
        for rule, prefix in set(rules) or {("allow", "/never-used")}:
            pat = "^" + _re.sub(r"([.^+?(){}\[\]\\|])", r"\\\1", prefix).replace("*", ".*")
            if _re.search(pat, path):
                plen = len(prefix)
                if plen > best_len or (plen == best_len and rule == "allow"):
                    if plen > best_len:
                        verdict = rule == "allow"
                    elif rule == "allow":
                        verdict = True
                    best_len = plen
        return verdict

    want = {i for i, p in enumerate(paths) if naive_allowed(p)}
    assert kept == want, (sorted(kept), sorted(want), rules, paths)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    uri=st.from_regex(r"http://[a-z]{1,8}\.example/[a-z0-9/]{0,12}", fullmatch=True),
    status=st.integers(min_value=100, max_value=599),
    ctype=st.sampled_from(["text/html", "text/plain", "application/json"]),
    body=st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126),
        max_size=60,
    ),
    crlf=st.booleans(),
)
def test_warc_roundtrip_random_records(spark, uri, status, ctype, body, crlf):
    """Template a record from random fields, parse it back, and every
    field round-trips (header values never leak into the body)."""
    from fluent_bit_spark.extensions.html import warc_parse

    nl = "\r\n" if crlf else "\n"
    raw = (
        f"WARC/1.0{nl}WARC-Type: response{nl}WARC-Target-URI: {uri}{nl}"
        f"WARC-Date: 2024-06-01T00:00:00Z{nl}{nl}"
        f"HTTP/1.1 {status} X{nl}Content-Type: {ctype}{nl}{nl}{body}"
    )
    df = spark.createDataFrame([(1, raw)], ["doc_id", "raw"])
    r = warc_parse(df).collect()[0]
    assert r.warc_type == "response"
    assert r.target_uri == uri
    assert r.http_status == status
    assert r.content_type == ctype
    assert r.body == body


# --- round-9 media parsers: fuzz + roundtrip properties -------------------


@settings(deadline=None, suppress_health_check=list(HealthCheck))
@given(data=st.binary(max_size=400))
def test_video_parsers_never_raise(data):
    """Filter-don't-crash over ARBITRARY bytes (not just truncations of
    valid payloads): every video-side parser returns a value or None."""
    from fluent_bit_spark.extensions.video import (
        decode_avi_frames,
        mp4_sample_table,
        parse_avi,
        parse_mp4,
        parse_video_header,
    )

    parse_video_header(data)
    parse_avi(data)
    parse_mp4(data)
    mp4_sample_table(data)
    decode_avi_frames(data)
    # prefixing valid magic must not change the no-raise contract
    for magic in (
        b"RIFF\x10\x00\x00\x00AVI ",
        b"\x00\x00\x00\x10ftyp",
        b"\x1aE\xdf\xa3",
    ):
        parse_video_header(magic + data)
        decode_avi_frames(magic + data)
        mp4_sample_table(magic + data)


@given(text=st.text(max_size=300))
def test_parse_captions_never_raises(text):
    from fluent_bit_spark.extensions.video import parse_captions

    got = parse_captions(text)
    for idx, start, end, _cap in got:
        assert 0 <= start <= end


@given(
    cues=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3_599_000),  # start ms
            st.integers(min_value=0, max_value=60_000),  # duration ms
            st.from_regex(r"[A-Za-z0-9 ,.!?]{1,40}", fullmatch=True),
        ),
        min_size=1,
        max_size=6,
    ),
    vtt=st.booleans(),
)
def test_caption_format_roundtrip(cues, vtt):
    """render(cues) -> parse == cues for both grammars."""
    from fluent_bit_spark.extensions.video import parse_captions

    def fmt(ms, sep):
        h, rem = divmod(ms, 3_600_000)
        m, rem = divmod(rem, 60_000)
        s, milli = divmod(rem, 1000)
        return f"{h:02d}:{m:02d}:{s:02d}{sep}{milli:03d}"

    sep = "." if vtt else ","
    blocks = []
    for i, (start, dur, text) in enumerate(cues):
        head = "" if vtt else f"{i + 1}\n"
        blocks.append(
            f"{head}{fmt(start, sep)} --> {fmt(start + dur, sep)}\n{text}"
        )
    payload = ("WEBVTT\n\n" if vtt else "") + "\n\n".join(blocks) + "\n"
    got = parse_captions(payload)
    assert got == [
        (i, start, start + dur, text.strip())
        for i, (start, dur, text) in enumerate(cues)
    ]


@settings(deadline=None, suppress_health_check=list(HealthCheck))
@given(
    clusters=st.lists(
        st.tuples(
            st.booleans(),  # has a Timecode element
            st.integers(min_value=0, max_value=50_000),  # cluster tc
            st.lists(st.binary(min_size=1, max_size=12), max_size=4),
            st.booleans(),  # unknown-size encoding for this cluster
        ),
        max_size=5,
    ),
)
def test_mkv_block_rows_require_same_cluster_timecode(clusters):
    """No plan row is EVER emitted without a same-cluster Timecode:
    blocks in Timecode-less clusters filter, never inherit a neighbor's
    context — r9 verdict nit #1's fuzz gate. Unknown-size clusters
    (live-muxer encoding) keep the same contract."""
    import struct

    from fluent_bit_spark.extensions import video as V

    def sblock(rel, payload):
        return V._ebml_elem(
            V._MKV_SIMPLEBLOCK,
            b"\x81" + struct.pack(">h", rel) + b"\x80" + payload,
        )

    header = V._ebml_elem(
        V._EBML_HEADER, V._ebml_elem(V._EBML_DOCTYPE, b"matroska")
    )
    info = V._ebml_elem(
        V._MKV_INFO,
        V._ebml_elem(V._MKV_TIMECODE_SCALE, V._ebml_uint(1_000_000)),
    )
    body = info
    expect = []
    for i, (has_tc, tc, payloads, unknown_size) in enumerate(clusters):
        cbody = b""
        if has_tc:
            cbody += V._ebml_elem(V._MKV_TIMECODE, V._ebml_uint(tc))
        for j, p in enumerate(payloads):
            cbody += sblock(j, p)
            if has_tc:
                expect.append((tc + j, p))
        if unknown_size and i == len(clusters) - 1:
            # unknown size is only unambiguous on the LAST cluster
            # (it clamps to the enclosing bound)
            body += V._ebml_id_bytes(V._MKV_CLUSTER) + b"\xff" + cbody
        else:
            body += V._ebml_elem(V._MKV_CLUSTER, cbody)
    b = header + V._ebml_elem(V._MKV_SEGMENT, body)
    tbl = V.mkv_block_table(b)
    assert tbl is not None
    assert [(ts, b[off : off + sz]) for (_i, ts, sz, off, _k) in tbl] == expect


@settings(deadline=None, suppress_health_check=list(HealthCheck))
@given(
    frames=st.lists(st.binary(min_size=0, max_size=600), min_size=1, max_size=8),
    mode=st.sampled_from(["xiph", "ebml"]),
    ts=st.integers(min_value=0, max_value=100_000),
)
def test_mkv_lacing_roundtrip_property(frames, mode, ts):
    """write(laced frames) -> plan -> range-reads == frames for random
    sizes (zero-length frames included) in both variable-size modes."""
    from fluent_bit_spark.extensions.video import make_mkv_laced, mkv_block_table

    b = make_mkv_laced(8, 8, ts, frames, mode=mode)
    tbl = mkv_block_table(b)
    assert tbl is not None and len(tbl) == len(frames)
    for (_i, t, sz, off, _k), f in zip(tbl, frames):
        assert t == ts and b[off : off + sz] == f


@settings(deadline=None, suppress_health_check=list(HealthCheck))
@given(data=st.binary(max_size=400))
def test_round10_parsers_never_raise(data):
    """Filter-don't-crash over ARBITRARY bytes for every round-10
    parser: fragmented MP4, animated GIF, ADPCM WAV, the extended
    sniffers, warc.gz member split, and mojibake repair (on the bytes
    decoded leniently)."""
    from fluent_bit_spark.extensions.html import (
        _gzip_members, _split_warc_records,
    )
    from fluent_bit_spark.extensions.multimodal import (
        decode_gif_frames, decode_wav_samples, parse_media_header,
    )
    from fluent_bit_spark.extensions.text import fix_mojibake_str
    from fluent_bit_spark.extensions.video import mp4_fragment_table

    mp4_fragment_table(data)
    decode_gif_frames(data)
    decode_wav_samples(data)
    parse_media_header(data)
    _split_warc_records(_gzip_members(data))
    fix_mojibake_str(data.decode("latin-1"))
    # valid-magic prefixes must not change the no-raise contract
    for magic in (
        b"\x00\x00\x00\x10ftyp", b"GIF89a", b"RIFF\x10\x00\x00\x00WAVE",
        b"RIFF\x10\x00\x00\x00WEBP", b"fLaC", b"II*\x00", b"MM\x00*",
        b"\x1f\x8b\x08\x00", b"WARC/1.0\r\n",
    ):
        parse_media_header(magic + data)
        mp4_fragment_table(magic + data)
        decode_wav_samples(magic + data)
        _split_warc_records(_gzip_members(magic + data))


@settings(deadline=None, suppress_health_check=list(HealthCheck))
@given(
    sig=st.lists(
        st.integers(min_value=-32000, max_value=32000), min_size=1,
        max_size=300,
    ),
    nch=st.sampled_from([1, 2]),
)
def test_adpcm_decoder_matches_encoder_property(sig, nch):
    """decode(encode(x)) == the encoder's own reconstruction BIT-EXACTLY
    for arbitrary int16 signals, mono and stereo — the two sides run
    the same public state machine."""
    import numpy as np

    from fluent_bit_spark.extensions.multimodal import (
        decode_wav_samples, make_wav_ima_adpcm,
    )

    wav, recon = make_wav_ima_adpcm(
        8000, np.asarray(sig, dtype=np.int64), channels=nch,
        block_align=72 if nch == 2 else 64,
    )
    rate, x = decode_wav_samples(wav)
    dec16 = np.round(x * 32768).astype(np.int64)
    assert rate == 8000 and len(dec16) == len(recon)
    assert (dec16 == recon.astype(np.int64)).all()


@settings(deadline=None, suppress_health_check=list(HealthCheck))
@given(data=st.binary(max_size=300))
def test_mp3_frame_table_never_raises(data):
    """mp3_frame_table over arbitrary bytes: returns a list or None,
    never raises; sync-looking and ID3 prefixes included. Every
    returned row's range must lie inside the payload (the plan only
    hands out complete range-reads)."""
    from fluent_bit_spark.extensions.multimodal import mp3_frame_table

    for payload in (data, b"\xff\xfb\x90\x00" + data, b"ID3" + data,
                    b"ID3\x04\x00\x00\x00\x00\x00\x04" + data):
        t = mp3_frame_table(payload)
        if t:
            for _i, ts, sz, off in t:
                assert 0 <= off and off + sz <= len(payload) and ts >= 0


@settings(deadline=None, suppress_health_check=list(HealthCheck))
@given(
    n=st.integers(min_value=1, max_value=12),
    sr=st.sampled_from([44100, 48000, 32000]),
    br=st.sampled_from([64, 96, 128, 160, 192, 320]),
    pad=st.integers(min_value=0, max_value=4095),
    id3=st.one_of(st.none(), st.integers(min_value=0, max_value=64)),
)
def test_mp3_frame_table_roundtrips_fixture(n, sr, br, pad, id3):
    """Property: the frame plan recovers exactly the frames the fixture
    wrote — count, per-frame length arithmetic (144*br/sr + padding
    bit), cumulative offsets, and sample-accurate timestamps."""
    from fluent_bit_spark.extensions.multimodal import (
        make_mp3_frames, mp3_frame_table,
    )

    b = make_mp3_frames(n, sr, br, pad_pattern=pad, id3_size=id3,
                        id3v1_trailer=True)
    t = mp3_frame_table(b)
    assert len(t) == n
    off = 0 if id3 is None else 10 + id3
    for g, (idx, ts, sz, o) in enumerate(t):
        assert idx == g and o == off
        assert sz == 144 * br * 1000 // sr + ((pad >> g) & 1)
        assert ts == g * 1152 * 1000 // sr
        off += sz


@settings(deadline=None, suppress_health_check=list(HealthCheck))
@given(
    n=st.integers(min_value=1, max_value=8),
    dur=st.integers(min_value=10, max_value=200),
    lift=st.integers(min_value=0, max_value=300),
    m=st.integers(min_value=0, max_value=300),
    lead=st.one_of(st.none(), st.integers(min_value=1, max_value=1000)),
    spc=st.integers(min_value=1, max_value=4),
)
def test_elst_plan_matches_arithmetic(n, dur, lift, m, lead, spc):
    """Property: with a constant ctts lift and an elst media-time (and
    an optional leading EMPTY edit, which must be skipped), every plan
    row's presentation time is dts + lift - media_time exactly; byte
    ranges never move relative to the edit-free file."""
    from fluent_bit_spark.extensions.video import make_mp4, mp4_sample_table

    deltas = [dur] * n
    sizes = [10 + (3 * g) % 7 for g in range(n)]
    base = mp4_sample_table(
        make_mp4(32, 24, deltas, sizes, samples_per_chunk=spc)
    )
    got = mp4_sample_table(make_mp4(
        32, 24, deltas, sizes, samples_per_chunk=spc,
        ctts_offsets=[lift] * n, elst_media_time=m, elst_lead_empty=lead,
    ))
    assert [r[1] for r in got] \
        == [(g * dur + lift - m) * 1000 // 1000 for g in range(n)]
    assert [r[2:] for r in got] == [r[2:] for r in base]


@settings(deadline=None, suppress_health_check=list(HealthCheck))
@given(
    counts=st.lists(st.integers(min_value=1, max_value=4), min_size=1,
                    max_size=4),
    dur=st.integers(min_value=10, max_value=100),
    a_n=st.integers(min_value=1, max_value=3),
    seed=st.integers(min_value=0, max_value=999),
)
def test_fmp4_multitrack_plan_matches_video_only(counts, dur, a_n, seed):
    """Property: interleaving arbitrary audio trafs (one per moof,
    before the video traf, samples laid out first in mdat) never
    changes the video plan's indices/timestamps/sizes/keyflags, and
    every muxed range-read still lands on the uppercase video filler."""
    from fluent_bit_spark.extensions.video import make_fmp4, mp4_fragment_table

    g = 0
    frags, audio, t = [], [], 0
    for c in counts:
        samples = []
        for _ in range(c):
            samples.append((dur, 8 + (seed + g) % 9, g % 2 == 0))
            g += 1
        frags.append((t, samples))
        audio.append((t // 2, [(21, 5 + (seed + k) % 4, True)
                               for k in range(a_n)]))
        t += c * dur
    solo = mp4_fragment_table(make_fmp4(320, 180, frags))
    b = make_fmp4(320, 180, frags, audio_fragments=audio)
    muxed = mp4_fragment_table(b)
    assert [(r[0], r[1], r[2], r[4]) for r in muxed] \
        == [(r[0], r[1], r[2], r[4]) for r in solo]
    for i, (_idx, _ts, sz, off, _k) in enumerate(muxed):
        assert b[off : off + sz] == bytes([65 + i % 26]) * sz
