"""Parsing-layer tests: regex (apache), logfmt, ltsv, json, time formats,
multiline sessionization, throttle, metrics derivation.
"""

import pytest
from pyspark.sql import Row, functions as F

from fluent_bit_spark.functions.parsers import (
    JsonParser,
    LogfmtParser,
    LtsvParser,
    RegexParser,
)
from fluent_bit_spark.functions.timefmt import strptime_to_java
from fluent_bit_spark.operators.parser_filter import parser_filter
from fluent_bit_spark.operators.multiline import (
    multiline,
    multiline_rules,
    reassemble_cri,
    reassemble_docker,
)
from fluent_bit_spark.operators.throttle import throttle, throttle_size
from fluent_bit_spark.operators.log_to_metrics import log_to_metrics
from fluent_bit_spark.operators.cumulative_to_delta import cumulative_to_delta
from fluent_bit_spark.operators.sampling import sample_probabilistic, sample_tail

APACHE = (
    r'(?P<remote>[^ ]*) [^ ]* (?P<user>[^ ]*) \[(?P<time>[^\]]*)\] '
    r'"(?P<method>\S+) (?P<path>[^\"]*?) \S+" (?P<code>[^ ]*) (?P<size>[^ ]*)'
)


@pytest.fixture(scope="module")
def raw(spark):
    rows = [
        Row(tag="app.access", line='127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] "GET /apache_pb.gif HTTP/1.0" 200 2326'),
        Row(tag="app.access", line='10.0.0.5 - - [10/Oct/2000:14:00:01 -0700] "POST /submit HTTP/1.1" 500 512'),
        Row(tag="app.weird", line="not an access line"),
    ]
    return spark.createDataFrame(rows)


def test_regex_parser_apache(raw):
    p = RegexParser(APACHE, types={"code": "int", "size": "int"},
                    time_key="time", time_format="%d/%b/%Y:%H:%M:%S %z")
    out = parser_filter(raw, "line", p, reserve_data=True, preserve_key=False)
    rows = out.filter(F.col("code").isNotNull()).orderBy("code").collect()
    assert [r.code for r in rows] == [200, 500]
    assert rows[0].method == "GET" and rows[0].path == "/apache_pb.gif"
    assert rows[0].size == 2326
    assert str(rows[0].time).startswith("2000-10-10 20:55:36")  # UTC
    # unparsed row kept with NULLs (reserve_data)
    assert out.count() == 3
    # reserve_data=False drops non-matching rows
    assert parser_filter(raw, "line", p, reserve_data=False).count() == 2


def test_logfmt_parser(spark):
    df = spark.createDataFrame([
        Row(line='level=info msg="hello world" size=42'),
        Row(line='level=error err="bad \\"thing\\"" size=7'),
    ])
    out = parser_filter(df, "line", LogfmtParser(), fields=["level", "msg", "size", "err"],
                        types={"size": "int"})
    rows = out.orderBy("size").collect()
    assert rows[0].level == "error" and rows[0].size == 7
    assert rows[1].msg == "hello world" and rows[1].size == 42
    assert rows[0].err == 'bad "thing"'


def test_ltsv_parser(spark):
    df = spark.createDataFrame([Row(line="host:web1\tstatus:200\tsize:1024")])
    out = parser_filter(df, "line", LtsvParser(), fields=["host", "status", "size"],
                        types={"status": "int"})
    r = out.collect()[0]
    assert r.host == "web1" and r.status == 200


def test_json_parser_typed(spark):
    df = spark.createDataFrame([Row(line='{"a": 1, "b": "x", "c": [1,2]}')])
    p = JsonParser(schema="a INT, b STRING, c ARRAY<INT>")
    from pyspark.sql.types import StructType
    import pyspark.sql.types as T
    p2 = JsonParser(schema=T.StructType().add("a", T.IntegerType()).add("b", T.StringType()))
    out = parser_filter(df, "line", p2, reserve_data=False)
    r = out.collect()[0]
    assert r.a == 1 and r.b == "x"


def test_strptime_translation():
    assert strptime_to_java("%Y-%m-%d %H:%M:%S") == "yyyy-MM-dd HH:mm:ss"
    assert strptime_to_java("%d/%b/%Y:%H:%M:%S %z") == "dd/MMM/yyyy:HH:mm:ss XX"


def test_multiline_java_traces(spark):
    lines = [
        (0, "Exception in thread main java.lang.NullPointerException"),
        (1, "at com.example.Foo.bar(Foo.java:10)"),
        (2, "at com.example.Main.main(Main.java:4)"),
        (3, "2024-01-01 ok request handled"),
        (4, "Caused by: java.io.IOException"),
    ]
    df = spark.createDataFrame([Row(seq=s, line=l, tag="jvm") for s, l in lines])
    out = multiline(df, group_keys=["tag"], mode="java")
    rows = out.orderBy("seq").collect()
    assert len(rows) == 2
    assert rows[0].n_lines == 3 and "Foo.java:10" in rows[0].message
    assert rows[1].n_lines == 2 and rows[1].message.startswith("2024-01-01")


def test_multiline_rules_python_state_machine(spark):
    # flb_ml_parser_python.c rule table: Traceback -> File/code pairs ->
    # final exception line returns to start_state
    lines = [
        (0, "before the error"),
        (1, "Traceback (most recent call last):"),
        (2, '  File "app.py", line 10, in main'),
        (3, "    run()"),
        (4, '  File "app.py", line 4, in run'),
        (5, "    1 / 0"),
        (6, "ZeroDivisionError: division by zero"),
        (7, "after the error"),
    ]
    df = spark.createDataFrame([Row(seq=s, line=l) for s, l in lines])
    rows = multiline_rules(df, "python").orderBy("seq").collect()
    assert [r.n_lines for r in rows] == [1, 6, 1]
    assert rows[1].message.startswith("Traceback") and "ZeroDivisionError" in rows[1].message


def test_multiline_rules_go_panic(spark):
    lines = [
        (0, "panic: runtime error: index out of range"),
        (1, ""),
        (2, "goroutine 1 [running]:"),
        (3, "main.main()"),
        (4, "\t/app/main.go:5 +0x1d"),
        (5, "normal log line"),
    ]
    df = spark.createDataFrame([Row(seq=s, line=l) for s, l in lines])
    rows = multiline_rules(df, "go").orderBy("seq").collect()
    assert [r.n_lines for r in rows] == [5, 1]
    assert "main.go:5" in rows[0].message


def test_reassemble_cri(spark):
    rows = [
        Row(seq=0, stream="stdout", flag="P", log="long line part one, "),
        Row(seq=1, stream="stdout", flag="P", log="part two, "),
        Row(seq=2, stream="stdout", flag="F", log="the end"),
        Row(seq=3, stream="stdout", flag="F", log="short full line"),
    ]
    out = reassemble_cri(spark.createDataFrame(rows), group_keys=["stream"]).orderBy("seq")
    got = [r.message for r in out.collect()]
    assert got == ["long line part one, part two, the end", "short full line"]


def test_reassemble_docker(spark):
    rows = [
        Row(seq=0, log="one, "),
        Row(seq=1, log="two, "),
        Row(seq=2, log="three\n"),
        Row(seq=3, log="solo\n"),
    ]
    out = reassemble_docker(spark.createDataFrame(rows)).orderBy("seq")
    got = [r.message for r in out.collect()]
    assert got == ["one, two, three\n", "solo\n"]


def test_throttle(spark):
    rows = [Row(timestamp=f"2024-01-01 00:00:{s:02d}", k="a", v=i)
            for i, s in enumerate([0, 0, 0, 1, 1, 30, 31])]
    df = spark.createDataFrame(rows).withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    # rate 2 per 10-second pane: pane0 has 5 -> keep 2; pane3 has 2 -> keep 2
    out = throttle(df, rate=2, interval_sec=10, tiebreak=["v"])
    assert out.count() == 4
    out2 = throttle_size(df, max_bytes=2, size_col_expr=F.lit(1), interval_sec=10, tiebreak=["v"])
    assert out2.count() == 4


def test_log_to_metrics(spark):
    rows = [
        Row(timestamp="2024-01-01 00:00:01", level="error", ms=120.0),
        Row(timestamp="2024-01-01 00:00:02", level="error", ms=80.0),
        Row(timestamp="2024-01-01 00:00:03", level="info", ms=10.0),
    ]
    df = spark.createDataFrame(rows).withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    counters = log_to_metrics(df, "counter", "n_logs", label_keys=["level"])
    got = {r.level: r.value for r in counters.collect()}
    assert got == {"error": 2.0, "info": 1.0}
    gauge = log_to_metrics(df, "gauge", "latest_ms", label_keys=["level"], value_field="ms")
    got = {r.level: r.value for r in gauge.collect()}
    assert got["error"] == 80.0  # latest by timestamp
    hist = log_to_metrics(df, "histogram", "ms_hist", value_field="ms", buckets=(50, 100))
    r = hist.collect()[0]
    assert r.le_50 == 1.0 and r.le_100 == 2.0 and r.le_inf == 3.0


def test_cumulative_to_delta(spark):
    rows = [
        Row(timestamp="2024-01-01 00:00:01", series="s1", v=10.0),
        Row(timestamp="2024-01-01 00:00:02", series="s1", v=15.0),
        Row(timestamp="2024-01-01 00:00:03", series="s1", v=3.0),   # reset
        Row(timestamp="2024-01-01 00:00:04", series="s1", v=9.0),
    ]
    df = spark.createDataFrame(rows).withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    out = cumulative_to_delta(df, "v", ["series"]).orderBy("timestamp").collect()
    assert [r.v_delta for r in out] == [10.0, 5.0, 3.0, 6.0]


def test_sampling(spark):
    df = spark.range(1000).withColumn("trace_id", F.col("id").cast("string"))
    kept = sample_probabilistic(df, 20, key="trace_id").count()
    assert 120 < kept < 280  # deterministic, roughly 20%
    assert sample_probabilistic(df, 20, key="trace_id").count() == kept  # reproducible

    spans = spark.createDataFrame([
        Row(trace_id="t1", start_ts=0.0, end_ts=5.0, status="OK"),
        Row(trace_id="t1", start_ts=1.0, end_ts=2.0, status="OK"),
        Row(trace_id="t2", start_ts=0.0, end_ts=0.1, status="OK"),
        Row(trace_id="t3", start_ts=0.0, end_ts=0.2, status="ERROR"),
    ])
    out = sample_tail(spans, min_latency_sec=3.0, status_col="status")
    kept_traces = {r.trace_id for r in out.select("trace_id").distinct().collect()}
    assert kept_traces == {"t1", "t3"}  # slow + errored; t2 dropped


def test_log_to_metrics_summary_untyped(spark):
    rows = [
        Row(timestamp="2024-01-01 00:00:01", level="info", ms=10.0),
        Row(timestamp="2024-01-01 00:00:02", level="info", ms=20.0),
        Row(timestamp="2024-01-01 00:00:03", level="info", ms=30.0),
        Row(timestamp="2024-01-01 00:00:04", level="info", ms=100.0),
    ]
    df = spark.createDataFrame(rows).withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    s = log_to_metrics(df, "summary", "ms_summary", label_keys=["level"],
                       value_field="ms", quantiles=(0.5,)).collect()[0]
    assert s.q_0_5 == 25.0 and s.sum_value == 160.0 and s.count_value == 4.0
    u = log_to_metrics(df, "untyped", "ms_raw", label_keys=["level"], value_field="ms")
    assert u.count() == 4 and u.columns == ["metric_name", "metric_type", "level", "value"]


def test_anomaly_scores(spark):
    from fluent_bit_spark.extensions.anomaly import anomaly_scores

    vals = [10.0] * 10 + [11.0, 500.0]
    rows = [Row(ts=i, series="s", v=v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows)
    out = anomaly_scores(df, "v", ["series"], time_col="ts", window_rows=10, z_threshold=3.0)
    got = {r.ts: r for r in out.collect()}
    assert not got[5].is_anomaly          # flat history
    assert not got[10].is_anomaly         # zero-variance window -> z=0
    assert got[11].is_anomaly and got[11].z_score > 100
    assert got[11].range_ratio > 100      # far outside [10, 11] band


def test_decode_field(spark):
    from fluent_bit_spark.functions.parsers import decode_field

    df = spark.createDataFrame([
        Row(esc="line1\\nline2\\ttabbed", uni="caf\\u00e9", my="'it''s \\'ok\\''",
            js='{"a": 1, "b": "x"}'),
    ])
    out = df.select(
        decode_field(F.col("esc"), "escaped").alias("esc"),
        decode_field(F.col("uni"), "escaped_utf8").alias("uni"),
        decode_field(F.col("my"), "mysql_quoted").alias("my"),
        F.variant_get(decode_field(F.col("js"), "json"), "$.a", "int").alias("ja"),
    ).collect()[0]
    assert out.esc == "line1\nline2\ttabbed"
    assert out.uni == "café"
    assert out.my == "it's 'ok'"
    assert out.ja == 1


def test_pipeline_hook_filter(spark):
    from fluent_bit_spark.pipeline.config import load_pipeline

    conf = {
        "pipeline": {
            "inputs": [
                {"name": "dummy", "tag": "app.a",
                 "records": [{"n": 1}, {"n": -5}]},
                {"name": "dummy", "tag": "db.x", "records": [{"n": 9}]},
            ],
            "filters": [
                {"name": "hook", "match": "app.*",
                 "schema": "n long, tag string, timestamp timestamp",
                 "code": "def cb(tag, ts, rec):\n"
                         "    if rec['n'] < 0:\n"
                         "        return -1, None, None\n"
                         "    return 1, None, {**rec, 'n': rec['n'] * 10}"},
            ],
        },
    }
    pipe = load_pipeline(spark, conf)
    got = {(r.tag, r.n) for r in pipe.source().collect()}
    assert got == {("app.a", 10), ("db.x", 9)}


def test_multiline_rules_ruby(spark):
    lines = [
        (0, "app.rb:5:in `boom': divided by 0 (ZeroDivisionError)"),
        (1, "\tfrom app.rb:9:in `run'"),
        (2, "\tfrom app.rb:12:in `<main>'"),
        (3, "plain line"),
    ]
    df = spark.createDataFrame([Row(seq=s, line=l) for s, l in lines])
    rows = multiline_rules(df, "ruby").orderBy("seq").collect()
    assert [r.n_lines for r in rows] == [3, 1]


def test_preset_parsers(spark):
    from fluent_bit_spark.functions.parsers import PRESET_DEFS, preset_parser

    cases = {
        "syslog-rfc5424": (
            "<34>1 2024-01-01T10:00:00.000Z host1 app 1234 MSGID - hello world",
            {"pri": 34, "host": "host1", "ident": "app", "message": "hello world"},
        ),
        "syslog-rfc3164": (
            "<13>Feb  5 17:32:18 host2 su[1001]: 'su root' failed",
            {"pri": 13, "host": "host2", "ident": "su", "message": "'su root' failed"},
        ),
        "nginx": (
            '10.1.1.1 example.com alice [10/Oct/2000:13:55:36 -0700] "GET /x HTTP/1.0" 200 512 "-" "curl"',
            {"remote": "10.1.1.1", "code": 200, "size": 512, "agent": "curl"},
        ),
        "cri": (
            "2024-01-01T10:00:00.000Z stdout F full line here",
            {"stream": "stdout", "logtag": "F", "message": "full line here"},
        ),
        "envoy": (
            '[2024-01-01T10:00:00.000Z] "GET /api HTTP/1.1" 200 - 10 20 5 3 "1.2.3.4" "ua" "rid" "auth" "uh"',
            {"method": "GET", "code": 200, "bytes_sent": 20},
        ),
        "k8s-nginx-ingress": (
            '10.0.0.1 - bob [10/Oct/2000:13:55:36 -0700] "GET /svc HTTP/1.1" '
            '200 512 "-" "curl" 400 0.005 [default-svc-80] [alt-svc] '
            "10.1.0.5:80 512 0.004 200 abc123",
            {"host": "10.0.0.1", "code": 200,
             "proxy_upstream_name": "default-svc-80",
             "proxy_alternative_upstream_name": "alt-svc",
             "upstream_addr": "10.1.0.5:80", "reg_id": "abc123"},
        ),
        "istio-envoy-proxy": (
            '[2024-01-01T10:00:00.000Z] "GET /api HTTP/1.1" 200 - via_upstream '
            '- "-" 10 20 5 3 "1.2.3.4" "ua" "rid" "auth" "10.1.0.7:80" '
            "outbound|80||svc.default 10.1.0.2:52000 10.2.0.1:80 10.3.0.1:41000 - default",
            {"method": "GET", "response_code": 200, "bytes_sent": 20,
             "upstream_cluster": "outbound|80||svc.default",
             "route_name": "default"},
        ),
        "kmsg-netfilter-log": (
            "<5>1 2024-01-01T10:00:00.000000+00:00 host1 kernel - - - [123.456] "
            "nflog: IN=eth0 OUT= "
            "MAC=aa:bb:cc:dd:ee:ff:11:22:33:44:55:66:08:00 "
            "SRC=10.0.0.1 DST=10.0.0.2 LEN=60 TOS=0x00 PREC=0x00 TTL=64 "
            "ID=12345 DF PROTO=TCP SPT=44000 DPT=443 WINDOW=64240 RES=0x00 SYN URGP=0",
            {"pri": 5, "in": "eth0", "macsrc": "aa:bb:cc:dd:ee:ff",
             "saddr": "10.0.0.1", "proto": "TCP", "sport": "44000",
             "dport": "443", "flag": "SYN"},
        ),
    }
    for name, (line, want) in cases.items():
        p = preset_parser(name)
        df = spark.createDataFrame([Row(line=line)])
        r = parser_filter(df, "line", p, reserve_data=False).collect()
        assert len(r) == 1, f"{name} did not match"
        for k, v in want.items():
            assert r[0][k] == v, f"{name}.{k}: {r[0][k]!r} != {v!r}"
    # every preset must build and evaluate against the JVM regex engine
    df = spark.createDataFrame([Row(line="no match")])
    for name in PRESET_DEFS:
        p = preset_parser(name)
        fields = p.fields() if hasattr(p, "group_names") else ["time", "log"]
        parser_filter(df, "line", p, fields=fields, reserve_data=True).collect()


def test_multiline_rules_stray_line_keeps_record_open(spark):
    """flb_ml_rule_process returns -1 on a total miss: the stray line is
    emitted alone while the buffered record and state survive, so an
    interleaved non-matching line does not split an open java trace."""
    lines = [
        (0, "Exception in thread main java.lang.NullPointerException: boom"),
        (1, "\tat com.example.Foo.bar(Foo.java:10)"),
        (2, "stray interleaved stdout line"),  # matches no rule at all
        (3, "\tat com.example.Main.main(Main.java:4)"),
    ]
    df = spark.createDataFrame([Row(seq=s, line=l) for s, l in lines])
    rows = multiline_rules(df, "java").orderBy("seq").collect()
    assert [r.n_lines for r in rows] == [3, 1]
    trace = rows[0].message
    assert "Foo.java:10" in trace and "Main.java:4" in trace
    assert rows[1].message == "stray interleaved stdout line"


def test_statsd_decode(spark):
    """statsd.c:114-201 parse grid: types, atof prefixes, sample-rate
    defaulting, gauge incremental flags, malformed-line drops."""
    from fluent_bit_spark.functions.statsd import statsd_decode

    lines = [
        "gorets:1|c",                  # counter, rate 1.0
        "gorets:7|c|@0.1",             # counter, rate 0.1
        "gaugor:+333|g",               # gauge incremental +
        "gaugor:-10|g",                # gauge incremental -
        "gaugor:333|g",                # gauge absolute
        "glork:320|ms|@0.5",           # timer with rate
        "uniques:765|s",               # set keeps the raw string
        "weird:3.5abc|c",              # atof prefix -> 3.5
        "fallback:2|x",                # unknown type char -> counter
        "zero-rate:5|c|@0",            # @0 -> back to 1.0
        "nocolon",                     # dropped
        "nobar:42",                    # dropped
    ]
    df = spark.createDataFrame([(l,) for l in lines], "line string")
    rows = {r.line: r for r in statsd_decode(df).collect()}
    assert len(rows) == 10
    assert rows["gorets:1|c"].metric_type == "counter" and rows["gorets:1|c"].sample_rate == 1.0
    assert rows["gorets:7|c|@0.1"].sample_rate == 0.1
    g = rows["gaugor:+333|g"]
    assert g.metric_type == "gauge" and g.value == 333.0 and g.incremental == 1
    assert rows["gaugor:-10|g"].incremental == 1 and rows["gaugor:-10|g"].value == -10.0
    assert rows["gaugor:333|g"].incremental == 0
    t = rows["glork:320|ms|@0.5"]
    assert t.metric_type == "timer" and t.value == 320.0 and t.sample_rate == 0.5
    s = rows["uniques:765|s"]
    assert s.metric_type == "set" and s.value is None and s.value_str == "765"
    assert rows["weird:3.5abc|c"].value == 3.5
    assert rows["fallback:2|x"].metric_type == "counter"
    assert rows["zero-rate:5|c|@0"].sample_rate == 1.0


def test_prometheus_exposition(spark):
    from fluent_bit_spark.sinks import prometheus_exposition

    df = spark.createDataFrame(
        [
            ("http_requests_total", "counter", "api", 'a"b\\c', 1027.0),
            ("http_requests_total", "counter", "web", "plain", 3.0),
        ],
        "metric_name string, metric_type string, svc string, note string, value double",
    )
    out = prometheus_exposition(
        df, label_cols=["svc", "note"], add_labels={"env": "prod"}, value_fmt="long"
    ).collect()
    lines = sorted((r.kind, r.line) for r in out)
    assert lines[0] == (0, "# TYPE http_requests_total counter")
    assert (1, 'http_requests_total{svc="api",note="a\\"b\\\\c",env="prod"} 1027') in lines
    assert (1, 'http_requests_total{svc="web",note="plain",env="prod"} 3') in lines


def test_utf8_sanitize_policies(spark):
    from pyspark.sql import functions as F

    from fluent_bit_spark.functions.parsers import utf8_sanitize

    df = spark.createDataFrame(
        [(1, bytearray(b"ok ascii")), (2, bytearray(b"caf\xc3\xa9")),
         (3, bytearray(b"bad \xff\xfe bytes"))],
        "id int, raw binary",
    )
    rows = {r["id"]: r for r in df.select(
        "id",
        utf8_sanitize("raw", "flag").alias("ok"),
        utf8_sanitize("raw", "replace").alias("fixed"),
        utf8_sanitize("raw", "null").alias("maybe"),
    ).collect()}
    assert rows[1]["ok"] and rows[2]["ok"] and not rows[3]["ok"]
    assert rows[2]["fixed"] == "café"
    assert "�" in rows[3]["fixed"] and rows[3]["fixed"].startswith("bad ")
    assert rows[3]["maybe"] is None and rows[1]["maybe"] == "ok ascii"

    import pytest as _pt
    with _pt.raises(ValueError):
        utf8_sanitize("raw", "mangle")


def test_logfmt_ltsv_duplicate_keys_last_wins(spark):
    """r12 review fix: duplicate keys within one line keep the LAST
    occurrence (the reference's rbtree insert overwrites) instead of
    aborting the whole job with Spark's DUPLICATED_MAP_KEY policy;
    LTSV values keep colons after the first separator, pairs without a
    colon yield NULL."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [Row(line='a=1 a=2 b="x y"'), Row(line="n=5 n=6 n=7")]
    )
    out = df.select(LogfmtParser().parse_map(F.col("line")).alias("m")).collect()
    assert out[0].m == {"a": "2", "b": "x y"}
    assert out[1].m == {"n": "7"}
    df2 = spark.createDataFrame(
        [Row(line="a:1\ta:2\tb:x:y"), Row(line="k:v\tbare")]
    )
    out2 = df2.select(LtsvParser().parse_map(F.col("line")).alias("m")).collect()
    assert out2[0].m == {"a": "2", "b": "x:y"}
    assert out2[1].m == {"k": "v", "bare": None}


def test_map_parsers_tokenize_each_line_once(spark):
    """Plan-size guard: the last-wins map names its entries once, so the
    tokenizer appears once per parse_map. A higher-order lambda cannot
    share a subexpression with the code around it, so each extra mention
    re-runs the scan per row (and the grep filter Catalyst pushes below
    the parse projection copies all of them). Plans only, no job."""
    from fluent_bit_spark.operators.grep import grep

    df = spark.createDataFrame([Row(line="lvl=warn a=1")])

    def analyzed(q):
        return q._jdf.queryExecution().analyzed().toString()

    logfmt = df.select(LogfmtParser().parse_map(F.col("line")).alias("m"))
    assert analyzed(logfmt).count("regexp_extract_all(") == 2
    ltsv = df.select(LtsvParser().parse_map(F.col("line")).alias("m"))
    assert analyzed(ltsv).count("split(") == 1
    q = grep(
        parser_filter(df, "line", LogfmtParser(), fields=["lvl"]),
        [("regex", "lvl", "warn")],
    )
    assert q._jdf.queryExecution().optimizedPlan().toString().count("regexp_extract_all(") <= 4


def test_throttle_size_greedy_budget(spark):
    """r12 review fix: dropped records do NOT charge the byte budget
    (throttle_size.c only add_load()s kept records) — one oversized
    record cannot empty the rest of its pane, and a mid-pane reject
    still admits later smaller records."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (t0, "big", 2_000_000),
        (t0 + dt.timedelta(seconds=1), "a", 100),
        (t0 + dt.timedelta(seconds=2), "b", 100),
        (t0 + dt.timedelta(seconds=3), "c", 999_900),
        (t0 + dt.timedelta(seconds=4), "d", 100),
    ]
    df = spark.createDataFrame(rows, "timestamp timestamp, k string, sz long")
    out = throttle_size(
        df, max_bytes=1_000_000, size_col_expr=F.col("sz"),
        interval_sec=3600, tiebreak=["k"],
    )
    kept = sorted(r.k for r in out.collect())
    # big(2MB) rejected without charging; a+b admitted (200);
    # c(999900) would exceed -> rejected, leaves budget; d admitted
    assert kept == ["a", "b", "d"]


def test_sample_probabilistic_fractional_rates(spark):
    """r12 review fix: sub-1% rates keep ~percentage instead of
    truncating to zero (basis-point buckets)."""
    df = spark.createDataFrame(
        [(f"trace-{i}",) for i in range(20000)], "trace_id string"
    )
    n_half = sample_probabilistic(df, 0.5).count()
    assert 0 < n_half < 400  # ~100 expected of 20000 at 0.5%
    assert sample_probabilistic(df, 0.0).count() == 0
    n20 = sample_probabilistic(df, 20).count()
    assert 3000 < n20 < 5000  # ~4000 at 20%


def test_throttle_pane_negative_epoch(spark):
    """r12 review fix: panes floor toward -inf, so pre-1970 records
    stay in their own interval instead of merging into 1970's."""
    import datetime as dt

    rows = [
        (dt.datetime(1969, 12, 31, 23, 59, 30), "pre"),
        (dt.datetime(1970, 1, 1, 0, 0, 30), "post"),
    ]
    df = spark.createDataFrame(rows, "timestamp timestamp, k string")
    out = throttle(df, rate=1, interval_sec=60)
    assert sorted(r.k for r in out.collect()) == ["post", "pre"]
