"""Parsers: unstructured text -> typed columns.

Reference: src/flb_parser.c (regex/json/ltsv/logfmt dispatch flb_parser_do
:1784), plugins/filter_parser/ applies a named parser to one string field.
All four parsers here are pure Catalyst expressions (regexp_extract,
from_json, str_to_map, regexp_extract_all) — no UDFs, so parsing inlines
into whole-stage codegen and scales linearly with executors.

Each parser exposes:
- fields()                  -> output field names (may be None = dynamic)
- parse(col) -> dict[str, Column]  (static fields)  OR
- parse_map(col) -> Column (MapType) for dynamic-key parsers (ltsv/logfmt/json-map)

Typed extraction: pass types={'field': 'int'|'float'|'bool'|...} (the
parser ``types`` option, flb_parser.h:72-78) and a time_key/time_format
(strptime) to materialize the event timestamp.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fluent_bit_spark.functions.timefmt import parse_time
from fluent_bit_spark.typecast import cast_column

_NAMED_GROUP_RE = _re.compile(r"\(\?P?<([A-Za-z][A-Za-z0-9_]*)>")


def _group_indexes(pattern: str) -> dict[str, int]:
    """Map named-group name -> regex group INDEX, counting unnamed
    capturing groups too (patterns like ``(?<a>(x|-))`` put later named
    groups at shifted indexes)."""
    out: dict[str, int] = {}
    idx = 0
    i = 0
    in_class = False
    while i < len(pattern):
        c = pattern[i]
        if c == "\\":
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
            i += 1
            continue
        if c == "[":
            in_class = True
            i += 1
            continue
        if c == "(":
            m = _re.match(r"\(\?P?<([A-Za-z][A-Za-z0-9_]*)>", pattern[i:])
            if m:
                idx += 1
                out[m.group(1)] = idx
                i += m.end()
                continue
            if pattern[i : i + 2] == "(?":
                # (?: (?= (?! (?<= (?<! — non-capturing / lookaround
                i += 1
                continue
            idx += 1
        i += 1
    return out


class RegexParser:
    """Named-group regex parser (reference: onigmo patterns, src/flb_regex.c;
    e.g. the apache/syslog patterns in conf/parsers.conf).

    Python/onigmo ``(?<name>...)`` named groups are Java-compatible; each
    group extracts via regexp_extract(col, pattern, group_index).
    Non-matching lines yield all-NULL fields (fluent-bit drops them —
    use ``matched(col)`` to filter).
    """

    def __init__(
        self,
        pattern: str,
        types: dict[str, str] | None = None,
        time_key: str | None = None,
        time_format: str | None = None,
    ):
        pattern = pattern.replace("(?P<", "(?<")
        self.group_names = _NAMED_GROUP_RE.findall(pattern)
        if not self.group_names:
            raise ValueError("regex parser needs named capture groups")
        self.group_index = _group_indexes(pattern)
        # extraction is by index, so strip the names from the JVM pattern:
        # Java rejects names with underscores (onigmo allows them) and
        # plain groups avoid the whole naming dialect
        self.pattern = _NAMED_GROUP_RE.sub("(", pattern)
        self.types = types or {}
        self.time_key = time_key
        self.time_format = time_format

    def fields(self) -> list[str]:
        return list(self.group_names)

    def matched(self, col: Column) -> Column:
        return col.rlike(self.pattern)

    def parse(self, col: Column) -> dict[str, Column]:
        out: dict[str, Column] = {}
        for name in self.group_names:
            raw = F.regexp_extract(col, self.pattern, self.group_index[name])
            raw = F.when(col.rlike(self.pattern), raw)  # non-match -> NULL, not ''
            if name in self.types:
                raw = cast_column(raw, self.types[name])
            out[name] = raw
        if self.time_key and self.time_format and self.time_key in out:
            out[self.time_key] = parse_time(
                F.regexp_extract(col, self.pattern, self.group_index[self.time_key]),
                self.time_format,
            )
        return out


class JsonParser:
    """JSON parser (reference: src/flb_pack.c:670 flb_pack_json).

    With a schema -> typed struct via from_json; without -> string map
    (schemaless bodies). Duplicate keys: Jackson keeps the LAST occurrence,
    matching the reference's dup-key removal keeping the latest
    (tests/internal/data/pack/dup_keys_out.json).
    """

    def __init__(self, schema: T.StructType | str | None = None, types: dict[str, str] | None = None):
        self.schema = schema
        self.types = types or {}

    def fields(self) -> list[str] | None:
        if isinstance(self.schema, T.StructType):
            return [f.name for f in self.schema.fields]
        return None

    def parse_struct(self, col: Column) -> Column:
        if self.schema is None:
            raise ValueError("parse_struct needs a schema; use parse_map for schemaless")
        return F.from_json(col, self.schema)

    def parse_map(self, col: Column) -> Column:
        return F.from_json(col, "map<string,string>")

    def parse(self, col: Column) -> dict[str, Column]:
        if self.schema is not None:
            st = self.parse_struct(col)
            names = self.fields() or []
            out = {n: st.getField(n) for n in names}
        else:
            mp = self.parse_map(col)
            raise ValueError("schemaless JSON: use parse_map and getItem per key")
        for n, t in self.types.items():
            if n in out:
                out[n] = cast_column(out[n], t)
        return out


def _map_last_wins(entries: Column) -> Column:
    """map_from_entries with LAST-occurrence-wins dedup: Spark's default
    mapKeyDedupPolicy is EXCEPTION, so one log line repeating a key
    ('a=1 a=2' — routine in real logfmt/LTSV) would otherwise abort the
    whole job with DUPLICATED_MAP_KEY. The reference keeps the last
    value (its rbtree insert overwrites), and keys come out ordered by
    their last occurrence.

    One left fold: each pair drops its key from the map built so far and
    is appended at the end. ``entries`` must appear exactly once in the
    expression: a lambda cannot share a subexpression with the code
    around it, so every extra mention of ``entries`` re-runs the whole
    tokenizer (both regexp_extract_all scans for logfmt) per row. The
    cost is one tokenizer pass per line plus O(n^2) key compares for n
    pairs in that line."""
    return F.aggregate(
        entries,
        F.create_map().cast("map<string,string>"),
        lambda acc, e: F.map_concat(
            F.map_filter(acc, lambda k, _: k != e["k"]),
            F.create_map(e["k"], e["v"]),
        ),
    )


class LtsvParser:
    """LTSV: tab-separated ``key:value`` pairs (reference
    src/flb_parser_ltsv.c). Duplicate keys keep the last occurrence
    (see _map_last_wins); a pair without ':' yields a NULL value,
    matching str_to_map."""

    def parse_map(self, col: Column) -> Column:
        entries = F.transform(
            F.split(col, "\t"),
            lambda p: F.struct(
                F.substring_index(p, ":", 1).alias("k"),
                F.when(
                    F.instr(p, ":") > 0, F.substr(p, F.instr(p, ":") + 1)
                ).alias("v"),
            ),
        )
        return _map_last_wins(entries)


class LogfmtParser:
    r"""logfmt: space-separated key=value with optional double quotes
    (reference src/flb_parser_logfmt.c). Implemented as two
    regexp_extract_all passes + last-wins map construction — handles
    bare and quoted values, and repeated keys; no UDF.
    """

    _PAIR = r'([A-Za-z0-9_.\-/]+)=("(?:[^"\\]|\\.)*"|[^\s"]*)'

    def parse_map(self, col: Column) -> Column:
        keys = F.regexp_extract_all(col, F.lit(self._PAIR), 1)
        vals = F.regexp_extract_all(col, F.lit(self._PAIR), 2)
        vals = F.transform(
            vals,
            lambda v: F.when(
                v.startswith('"') & v.endswith('"') & (F.length(v) >= 2),
                F.regexp_replace(F.substring(v, 2, F.length(v) - 2), r'\\(.)', "$1"),
            ).otherwise(v),
        )
        entries = F.zip_with(
            keys, vals, lambda k, v: F.struct(k.alias("k"), v.alias("v"))
        )
        return _map_last_wins(entries)


def map_fields(
    mp: Column, names: list[str], types: dict[str, str] | None = None
) -> dict[str, Column]:
    """Materialize named fields out of a dynamic map-parser result."""
    types = types or {}
    out: dict[str, Column] = {}
    for n in names:
        c = mp.getItem(n)
        if n in types:
            c = cast_column(c, types[n])
        out[n] = c
    return out


# --------------------------------------------------------------------------
# field decoders (src/flb_parser_decoder.c:39-130: json / escaped /
# escaped_utf8 / mysql_quoted)
# --------------------------------------------------------------------------
def decode_field(col: Column, decoder: str) -> Column:
    """Decode_Field analog. decoder:

    - 'json': stringified JSON -> VariantType value (decode_json,
      flb_parser_decoder.c:39-66)
    - 'escaped' / 'escaped_utf8': unescape backslash sequences
      (\\n \\t \\r \\" \\\\ \\uXXXX) via JVM-side JSON string decoding —
      the exotic C escapes (\\a \\v) are not round-tripped
      (flb_parser_decoder.c:85-112, src/flb_unescape.c)
    - 'mysql_quoted': strip surrounding quotes, collapse doubled and
      backslash-escaped quotes (flb_parser_decoder.c:114-130)
    """
    d = decoder.lower()
    if d == "json":
        return F.parse_json(col)
    if d in ("escaped", "escaped_utf8"):
        # wrap as a one-element JSON array literal and let the JSON reader
        # decode every escape (from_json needs a container schema);
        # pre-escape bare double quotes so wrapping is safe
        quoted = F.concat(F.lit('["'), F.regexp_replace(col, r'(?<!\\)"', '\\\\"'), F.lit('"]'))
        return F.from_json(quoted, "array<string>").getItem(0)
    if d == "mysql_quoted":
        inner = F.when(
            (F.length(col) >= 2)
            & (
                (col.startswith("'") & col.endswith("'"))
                | (col.startswith('"') & col.endswith('"'))
            ),
            F.substring(col, 2, F.length(col) - 2),
        ).otherwise(col)
        inner = F.regexp_replace(inner, r"''", "'")
        inner = F.regexp_replace(inner, r"\\'", "'")
        return F.regexp_replace(inner, r'\\"', '"')
    raise ValueError(f"unknown decoder {decoder!r}")


# --------------------------------------------------------------------------
# standard parser presets — the shipped parser set (conf/parsers.conf),
# regexes re-expressed for the JVM regex engine (named groups carry over)
# --------------------------------------------------------------------------
PRESET_DEFS: dict[str, dict] = {
    "apache": {
        "format": "regex",
        "regex": r'^(?<host>[^ ]*) [^ ]* (?<user>[^ ]*) \[(?<time>[^\]]*)\] "(?<method>\S+)(?: +(?<path>[^\"]*?)(?: +\S*)?)?" (?<code>[^ ]*) (?<size>[^ ]*)(?: "(?<referer>[^\"]*)" "(?<agent>[^\"]*)")?$',
        "time_key": "time", "time_format": "%d/%b/%Y:%H:%M:%S %z",
        "types": {"code": "int", "size": "int"},
    },
    "apache2": {
        "format": "regex",
        "regex": r'^(?<host>[^ ]*) [^ ]* (?<user>[^ ]*) \[(?<time>[^\]]*)\] "(?<method>\S+)(?: +(?<path>[^ ]*) +\S*)?" (?<code>[^ ]*) (?<size>[^ ]*)(?: "(?<referer>[^\"]*)" "(?<agent>.*)")?$',
        "time_key": "time", "time_format": "%d/%b/%Y:%H:%M:%S %z",
        "types": {"code": "int", "size": "int"},
    },
    "apache_error": {
        "format": "regex",
        "regex": r"^\[[^ ]* (?<time>[^\]]*)\] \[(?<level>[^\]]*)\](?: \[pid (?<pid>[^\]]*)\])?( \[client (?<client>[^\]]*)\])? (?<message>.*)$",
    },
    "nginx": {
        "format": "regex",
        "regex": r'^(?<remote>[^ ]*) (?<host>[^ ]*) (?<user>[^ ]*) \[(?<time>[^\]]*)\] "(?<method>\S+)(?: +(?<path>[^\"]*?)(?: +\S*)?)?" (?<code>[^ ]*) (?<size>[^ ]*)(?: "(?<referer>[^\"]*)" "(?<agent>[^\"]*)")',
        "time_key": "time", "time_format": "%d/%b/%Y:%H:%M:%S %z",
        "types": {"code": "int", "size": "int"},
    },
    "json": {"format": "json", "time_key": "time", "time_format": "%d/%b/%Y:%H:%M:%S %z"},
    "logfmt": {"format": "logfmt"},
    "docker": {"format": "json", "time_key": "time", "time_format": "%Y-%m-%dT%H:%M:%S.%L"},
    "docker-daemon": {
        "format": "regex",
        "regex": r'time="(?<time>[^ ]*)" level=(?<level>[^ ]*) msg="(?<msg>[^ ].*)"',
        "time_key": "time", "time_format": "%Y-%m-%dT%H:%M:%S.%L",
    },
    "syslog-rfc5424": {
        "format": "regex",
        "regex": r"^\<(?<pri>[0-9]{1,5})\>1 (?<time>[^ ]+) (?<host>[^ ]+) (?<ident>[^ ]+) (?<pid>[-0-9]+) (?<msgid>[^ ]+) (?<extradata>(\[(.*?)\]|-)) (?<message>.+)$",
        "time_key": "time", "time_format": "%Y-%m-%dT%H:%M:%S.%L%z",
        "types": {"pri": "int"},
    },
    "syslog-rfc3164-local": {
        "format": "regex",
        "regex": r"^\<(?<pri>[0-9]+)\>(?<time>[^ ]* {1,2}[^ ]* [^ ]*) (?<ident>[a-zA-Z0-9_\/\.\-]*)(?:\[(?<pid>[0-9]+)\])?(?:[^\:]*\:)? *(?<message>.*)$",
        "time_key": "time", "time_format": "%b %d %H:%M:%S",
        "types": {"pri": "int"},
    },
    "syslog-rfc3164": {
        "format": "regex",
        "regex": r"^\<(?<pri>[0-9]+)\>(?<time>[^ ]* {1,2}[^ ]* [^ ]*) (?<host>[^ ]*) (?<ident>[a-zA-Z0-9_\/\.\-]*)(?:\[(?<pid>[0-9]+)\])?(?:[^\:]*\:)? *(?<message>.*)$",
        "time_key": "time", "time_format": "%b %d %H:%M:%S",
        "types": {"pri": "int"},
    },
    "mongodb": {
        "format": "regex",
        "regex": r"^(?<time>[^ ]*)\s+(?<severity>\w)\s+(?<component>[^ ]+)\s+\[(?<context>[^\]]+)]\s+(?<message>.*?) *(?<ms>(\d+))?(:?ms)?$",
        "time_key": "time", "time_format": "%Y-%m-%dT%H:%M:%S.%L",
    },
    "envoy": {
        "format": "regex",
        "regex": r'^\[(?<start_time>[^\]]*)\] "(?<method>\S+)(?: +(?<path>[^\"]*?)(?: +\S*)?)? (?<protocol>\S+)" (?<code>[^ ]*) (?<response_flags>[^ ]*) (?<bytes_received>[^ ]*) (?<bytes_sent>[^ ]*) (?<duration>[^ ]*) (?<x_envoy_upstream_service_time>[^ ]*) "(?<x_forwarded_for>[^ ]*)" "(?<user_agent>[^\"]*)" "(?<request_id>[^\"]*)" "(?<authority>[^ ]*)" "(?<upstream_host>[^ ]*)"',
        "time_key": "start_time", "time_format": "%Y-%m-%dT%H:%M:%S.%L%z",
        "types": {"code": "int", "bytes_received": "int", "bytes_sent": "int", "duration": "int"},
    },
    "cri": {
        "format": "regex",
        "regex": r"^(?<time>[^ ]+) (?<stream>stdout|stderr) (?<logtag>[^ ]*) (?<message>.*)$",
        "time_key": "time", "time_format": "%Y-%m-%dT%H:%M:%S.%L%z",
    },
    "kube-custom": {
        "format": "regex",
        "regex": r"(?<tag>[^.]+)?\.?(?<pod_name>[a-z0-9](?:[-a-z0-9]*[a-z0-9])?(?:\.[a-z0-9]([-a-z0-9]*[a-z0-9])?)*)_(?<namespace_name>[^_]+)_(?<container_name>.+)-(?<docker_id>[a-z0-9]{64})\.log$",
    },
    # conf/parsers.conf k8s-nginx-ingress (Oniguruma -> Python translation)
    "k8s-nginx-ingress": {
        "format": "regex",
        "regex": r'^(?<host>[^ ]*) - (?<user>[^ ]*) \[(?<time>[^\]]*)\] "(?<method>\S+)(?: +(?<path>[^\"]*?)(?: +\S*)?)?" (?<code>[^ ]*) (?<size>[^ ]*) "(?<referer>[^\"]*)" "(?<agent>[^\"]*)" (?<request_length>[^ ]*) (?<request_time>[^ ]*) \[(?<proxy_upstream_name>[^ ]*)\] (?:\[(?<proxy_alternative_upstream_name>[^ ]*)\] )?(?<upstream_addr>[^ ]*) (?<upstream_response_length>[^ ]*) (?<upstream_response_time>[^ ]*) (?<upstream_status>[^ ]*) (?<reg_id>[^ ]*).*$',
        "time_key": "time", "time_format": "%d/%b/%Y:%H:%M:%S %z",
        "types": {"code": "int", "size": "int"},
    },
    # conf/parsers.conf istio-envoy-proxy
    "istio-envoy-proxy": {
        "format": "regex",
        "regex": r'^\[(?<start_time>[^\]]*)\] "(?<method>\S+)(?: +(?<path>[^\"]*?)(?: +\S*)?)? (?<protocol>\S+)" (?<response_code>[^ ]*) (?<response_flags>[^ ]*) (?<response_code_details>[^ ]*) (?<connection_termination_details>[^ ]*) "(?<upstream_transport_failure_reason>[^ ]*)" (?<bytes_received>[^ ]*) (?<bytes_sent>[^ ]*) (?<duration>[^ ]*) (?<x_envoy_upstream_service_time>[^ ]*) "(?<x_forwarded_for>[^ ]*)" "(?<user_agent>[^\"]*)" "(?<x_request_id>[^\"]*)" "(?<authority>[^ ]*)" "(?<upstream_host>[^ ]*)" (?<upstream_cluster>[^ ]*) (?<upstream_local_address>[^ ]*) (?<downstream_local_address>[^ ]*) (?<downstream_remote_address>[^ ]*) (?<requested_server_name>[^ ]*) (?<route_name>[^  ]*)$',
        "time_key": "start_time", "time_format": "%Y-%m-%dT%H:%M:%S.%L%z",
        "types": {"response_code": "int", "bytes_received": "int", "bytes_sent": "int", "duration": "int"},
    },
    # conf/parsers.conf kmsg-netfilter-log (named groups only; the C regex's
    # anonymous (D*F*) flag group is non-capturing here)
    "kmsg-netfilter-log": {
        "format": "regex",
        "regex": r"^\<(?<pri>[0-9]{1,5})\>1 (?<time>[^ ]+) (?<host>[^ ]+) kernel - - - \[[0-9\.]*\] (?<logprefix>[^ ]*)\s?IN=(?<in>[^ ]*) OUT=(?<out>[^ ]*) MAC=(?<macsrc>[0-9a-f]{2}:[0-9a-f]{2}:[0-9a-f]{2}:[0-9a-f]{2}:[0-9a-f]{2}:[0-9a-f]{2}):(?<macdst>[0-9a-f]{2}:[0-9a-f]{2}:[0-9a-f]{2}:[0-9a-f]{2}:[0-9a-f]{2}:[0-9a-f]{2}):(?<ethtype>[0-9a-f]{2}:[0-9a-f]{2}) SRC=(?<saddr>[^ ]*) DST=(?<daddr>[^ ]*) LEN=(?<len>[^ ]*) TOS=(?<tos>[^ ]*) PREC=(?<prec>[^ ]*) TTL=(?<ttl>[^ ]*) ID=(?<id>[^ ]*) (?:D*F*)\s*PROTO=(?<proto>[^ ]*)\s?(?:(?:SPT=)?(?<sport>[0-9]*))\s?(?:(?:DPT=)?(?<dport>[0-9]*))\s?(?:(?:LEN=)?(?<protolen>[0-9]*))\s?(?:(?:WINDOW=)?(?<window>[0-9]*))\s?(?:(?:RES=)?(?<res>0?x?[0-9]*))\s?(?<flag>[^ ]*)\s?(?:(?:URGP=)?(?<urgp>[0-9]*))",
        "time_key": "time", "time_format": "%Y-%m-%dT%H:%M:%S.%L%z",
        "types": {"pri": "int"},
    },
}


def preset_parser(name: str):
    """Build a parser object for a shipped preset (conf/parsers.conf name)."""
    d = PRESET_DEFS[name]
    fmt = d["format"]
    if fmt == "regex":
        return RegexParser(
            d["regex"], types=d.get("types"),
            time_key=d.get("time_key"), time_format=d.get("time_format"),
        )
    if fmt == "json":
        return JsonParser()
    if fmt == "logfmt":
        return LogfmtParser()
    raise ValueError(f"unknown preset format {fmt!r}")


def utf8_sanitize(col, policy: str = "replace"):
    """UTF-8 validation/repair for bytes-derived string columns — the
    flb_utf8 surface (src/flb_utf8.c, simdutf-backed validation on
    ingest), as Spark-native expressions:

    - ``"replace"``: invalid sequences become U+FFFD (make_valid_utf8 —
      the reference's lossy-repair path);
    - ``"strict"``: raise on invalid input (validate_utf8);
    - ``"null"``: NULL out invalid values (try_validate_utf8);
    - ``"flag"``: return a boolean validity column (is_valid_utf8).

    Accepts string or binary input (binary is checked as UTF-8 bytes).
    """
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    if policy == "replace":
        return F.make_valid_utf8(c)
    if policy == "strict":
        return F.validate_utf8(c)
    if policy == "null":
        return F.try_validate_utf8(c)
    if policy == "flag":
        return F.is_valid_utf8(c)
    raise ValueError(f"unknown utf8 policy {policy!r}")
