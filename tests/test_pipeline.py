"""End-to-end YAML pipeline: inputs -> parser -> grep -> modify ->
rewrite_tag -> stream task -> routed outputs. The fluent-bit
'config is the plan' equivalence."""

import json

import pytest

from pyspark.sql import functions as F

from fluent_bit_spark.pipeline import load_pipeline


def test_yaml_pipeline_end_to_end(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    with open(src / "app.json", "w") as f:
        for i in range(20):
            f.write(json.dumps({
                "msg": f"GET /page{i % 3} {'500' if i % 5 == 0 else '200'}",
                "host": f"web{i % 2}", "ms": i * 1.5,
            }) + "\n")

    out_dir = tmp_path / "out"
    conf = {
        "parsers": [{
            "name": "access",
            "format": "regex",
            "regex": r"(?P<verb>\S+) (?P<path>\S+) (?P<code>\d+)",
            "types": {"code": "int"},
        }],
        "pipeline": {
            "inputs": [{
                "name": "tail", "format": "json", "path": str(src), "tag": "app.access",
                "schema": "msg string, host string, ms double",
            }],
            "filters": [
                {"name": "parser", "match": "app.*", "parser": "access", "key_name": "msg",
                 "reserve_data": True},
                {"name": "grep", "match": "app.*", "rules": [["regex", "verb", "^GET$"]]},
                {"name": "modify", "match": "*", "rules": [["add", "env", "prod"]]},
                {"name": "rewrite_tag", "match": "app.*",
                 "rules": [["code", "^5..$", "alert.http", "false"]]},
            ],
        },
        "stream_tasks": [
            {"name": "t1",
             "exec": "CREATE STREAM codes AS SELECT code, COUNT(*) AS cnt "
                     "FROM STREAM:pipeline GROUP BY code;"},
        ],
    }
    conf["pipeline"]["outputs"] = [
        {"name": "file", "match": "alert.*", "path": str(out_dir / "alerts"), "format": "json"},
        {"name": "counter", "match": "app.*"},
    ]

    pipe = load_pipeline(spark, conf)
    written = pipe.run_outputs()
    assert written["alert.*"] == 4   # i in {0,5,10,15} -> 500s
    assert written["app.*"] == 16

    alerts = spark.read.json(str(out_dir / "alerts"))
    assert alerts.count() == 4
    assert set(alerts.select("env").distinct().toPandas()["env"]) == {"prod"}

    codes = pipe.sp.sql("SELECT code, cnt FROM STREAM:codes;").collect()
    got = {r.code: r.cnt for r in codes}
    assert got == {200: 16, 500: 4}


def test_conditional_output_routes(spark):
    conf = {
        "pipeline": {
            "inputs": [
                {"name": "dummy", "tag": "svc.a",
                 "records": [{"level": "error", "ms": 900.0},
                             {"level": "info", "ms": 5.0},
                             {"level": "error", "ms": 10.0}]},
            ],
            "outputs": [
                {"name": "counter", "match": "svc.*",
                 "conditions": [["level", "eq", "error"], ["ms", "gt", 100]],
                 "condition_op": "AND"},
                {"name": "counter", "match": "svc.*"},
            ],
        },
    }
    pipe = load_pipeline(spark, conf)
    # first route: error AND ms>100 -> 1; second: everything -> 3
    written = pipe.run_outputs()
    assert written == {"svc.*": 1, "svc.*+": 3}


def test_connector_output_plugins(spark, tmp_path):
    """es/splunk/opentelemetry/loki outputs write their wire payloads
    (file-backed stand-ins for the HTTP push)."""
    import json as _json

    conf = {
        "pipeline": {
            "inputs": [
                {"name": "dummy", "tag": "svc.logs",
                 "records": [{"msg": "boot ok", "level": "info", "event_id": 1},
                             {"msg": "disk full", "level": "error", "event_id": 2}]},
            ],
            "outputs": [
                {"name": "es", "match": "*", "path": str(tmp_path / "es"),
                 "logstash_format": True, "logstash_prefix": "svc", "id_key": "event_id"},
                {"name": "splunk", "match": "*", "path": str(tmp_path / "hec"),
                 "sourcetype": "_json", "source_key": "level"},
                {"name": "opentelemetry", "match": "*", "path": str(tmp_path / "otlp"),
                 "body_key": "msg", "attribute_keys": ["level"]},
                {"name": "loki", "match": "*", "path": str(tmp_path / "loki"),
                 "labels": ["level"], "line_key": "msg"},
            ],
        },
    }
    pipe = load_pipeline(spark, conf)
    written = pipe.run_outputs()
    assert all(n == 2 for n in written.values())

    bulk = [ln for ln in spark.read.text(str(tmp_path / "es")).toPandas()["value"]]
    actions = [_json.loads(l) for l in bulk if '"index"' in l and "_index" in l]
    assert {a["index"]["_id"] for a in actions} == {"1", "2"}
    assert all(a["index"]["_index"].startswith("svc-") for a in actions)

    hec = spark.read.json(str(tmp_path / "hec"))
    assert {r.source for r in hec.collect()} == {"info", "error"}

    from fluent_bit_spark.connectors import otlp_logs_decode
    dec = otlp_logs_decode(spark.read.text(str(tmp_path / "otlp")), "value")
    assert {r.body for r in dec.collect()} == {"boot ok", "disk full"}

    loki = [_json.loads(l) for l in spark.read.text(str(tmp_path / "loki")).toPandas()["value"]]
    assert {s["stream"]["level"] for s in loki} == {"info", "error"}


def test_round2_filters_in_yaml(spark, tmp_path):
    """kubernetes / geoip2 / nightfall / multiline / throttle_size wired
    through the config loader — the user-facing parity surface for the
    round-2 operators."""
    import json as _json

    pods = tmp_path / "pods.json"
    with open(pods, "w") as f:
        f.write(_json.dumps({
            "namespace_name": "prod", "pod_name": "api-1",
            "pod_id": "uid-1", "host": "node-a",
        }) + "\n")
    geodb = tmp_path / "geo.json"
    with open(geodb, "w") as f:
        # 10.0.0.0 - 10.0.0.255
        f.write(_json.dumps({
            "range_start": 167772160, "range_end": 167772415,
            "country_iso": "DE", "city": "Berlin",
        }) + "\n")

    conf = {
        "pipeline": {
            "inputs": [{
                "name": "dummy", "format": "dummy",
                "tag": "kube.var.log.containers.api-1_prod_app-" + "c0ffee01" * 8 + ".log",
                "records": [
                    {"msg": "login ok mail bob@corp.io", "client_ip": "10.0.0.7"},
                    {"msg": "health check", "client_ip": "192.168.9.9"},
                ],
            }],
            "filters": [
                {"name": "kubernetes", "match": "kube.*", "pod_metadata": str(pods)},
                {"name": "geoip2", "match": "*", "database": str(geodb),
                 "lookup_key": "client_ip"},
                {"name": "nightfall", "match": "*", "key": "msg", "flag_key": "pii"},
            ],
        },
    }
    from fluent_bit_spark.pipeline.config import load_pipeline

    pipe = load_pipeline(spark, conf)
    rows = pipe.source().orderBy("client_ip").collect()
    assert len(rows) == 2
    r0 = rows[0]  # 10.0.0.7
    assert r0.kubernetes.namespace_name == "prod" and r0.kubernetes.pod_name == "api-1"
    assert r0.kubernetes.pod_id == "uid-1"
    assert r0.country_iso == "DE" and r0.city == "Berlin"
    assert r0.msg == "login ok mail [REDACTED:email]" and r0.pii == ["email"]
    r1 = rows[1]  # 192.168.9.9 — no geo range, clean text
    assert r1.country_iso is None and r1.pii == []


def test_statsd_input_in_yaml(spark, tmp_path):
    src = tmp_path / "statsd_in"
    src.mkdir()
    with open(src / "datagrams.txt", "w") as f:
        f.write("gorets:1|c\ngaugor:+33|g\nuniques:765|s\nbad-line\n")
    from fluent_bit_spark.pipeline.config import load_pipeline

    pipe = load_pipeline(spark, {
        "pipeline": {"inputs": [{"name": "statsd", "format": "statsd",
                                 "path": str(src), "tag": "metrics.statsd"}]},
    })
    rows = {r.bucket: r for r in pipe.source().collect()}
    assert set(rows) == {"gorets", "gaugor", "uniques"}
    assert rows["gaugor"].incremental == 1 and rows["uniques"].value_str == "765"


def test_telemetry_output_plugins(spark, tmp_path):
    """influxdb/datadog/flowcounter outputs write their wire payloads
    (file-backed stand-ins, same pattern as the es/splunk routes)."""
    import json as _json

    conf = {
        "pipeline": {
            "inputs": [
                {"name": "dummy", "tag": "metrics.cpu",
                 "records": [{"host": "a", "load": 0.5, "n": 3},
                             {"host": "b", "load": 1.5, "n": 4}]},
            ],
            "outputs": [
                {"name": "influxdb", "match": "*", "path": str(tmp_path / "influx"),
                 "tag_keys": ["host"], "add_integer_suffix": True},
                {"name": "datadog", "match": "*", "path": str(tmp_path / "dd"),
                 "dd_source": "spark", "include_tag_key": True,
                 "dd_message_key": "host"},
                {"name": "flowcounter", "match": "*", "path": str(tmp_path / "fc"),
                 "unit": "second"},
            ],
        },
    }
    pipe = load_pipeline(spark, conf)
    written = pipe.run_outputs()
    assert all(n == 2 for n in written.values())

    lines = sorted(spark.read.text(str(tmp_path / "influx")).toPandas()["value"])
    assert lines[0].startswith("metrics.cpu,host=a ")
    assert "load=0.500000" in lines[0] and "n=3i" in lines[0]

    dd = spark.read.json(str(tmp_path / "dd"))
    rows = dd.collect()
    assert {r.message for r in rows} == {"a", "b"}
    assert all(r.ddsource == "spark" and r.tagkey == "metrics.cpu" for r in rows)

    fc = spark.read.json(str(tmp_path / "fc")).collect()
    assert sum(r.counts for r in fc) == 2


def test_syslog_output_plugin(spark, tmp_path):
    conf = {
        "pipeline": {
            "inputs": [
                {"name": "dummy", "tag": "sys.app",
                 "records": [{"message": "hello", "host": "h1", "level": "err"}]},
            ],
            "outputs": [
                {"name": "syslog", "match": "*", "path": str(tmp_path / "sl"),
                 "syslog_format": "rfc3164", "syslog_hostname_key": "host",
                 "syslog_severity_key": "level"},
            ],
        },
    }
    pipe = load_pipeline(spark, conf)
    assert all(n == 1 for n in pipe.run_outputs().values())
    line = spark.read.text(str(tmp_path / "sl")).collect()[0].value
    assert line.startswith("<11>") and line.endswith(" h1 hello")


def test_exec_input_opt_in(spark, tmp_path):
    """[INPUT] Name exec runs only with Allow_Exec true in the config."""
    import pytest as _pytest

    conf = {
        "pipeline": {
            "inputs": [{"name": "exec", "command": "printf 'x\\ny\\n'",
                        "allow_exec": True, "tag": "cmd.out"}],
            "outputs": [{"name": "null", "match": "*"}],
        },
    }
    pipe = load_pipeline(spark, conf)
    assert pipe.run_outputs() == {"*": 2}

    conf["pipeline"]["inputs"][0]["allow_exec"] = False
    with _pytest.raises(PermissionError):
        load_pipeline(spark, conf)


def test_syslog_sd_key_string_normalized(spark, tmp_path):
    """Classic .conf delivers list options as bare strings; a lone string in
    sd_keys must select the named column, not iterate its characters
    (regression: structured data silently became '-')."""
    conf = {
        "pipeline": {
            "inputs": [
                {"name": "dummy", "tag": "sys.app",
                 "records": [{"message": "hi", "sdid": {"k": "v"}}]},
            ],
            "outputs": [
                {"name": "syslog", "match": "*", "path": str(tmp_path / "sl"),
                 "syslog_format": "rfc5424", "syslog_sd_key": "sdid"},
            ],
        },
    }
    pipe = load_pipeline(spark, conf)
    counts = pipe.run_outputs()
    assert all(n == 1 for n in counts.values())
    line = spark.read.text(str(tmp_path / "sl")).collect()[0].value
    assert "sdid" in line or "x@1" in line  # SD present, not '-'


def test_classic_conf_end_to_end(spark, tmp_path, monkeypatch):
    """Classic-mode .conf (src/config_format/flb_cf_fluentbit.c): sections,
    repeated filter keys -> rule lists, @SET/@INCLUDE/${} expansion, the
    [STREAM_TASK] hookup, and a [PARSER] from parsers.conf."""
    monkeypatch.setenv("APP_TAG", "svc.app")

    (tmp_path / "parsers.conf").write_text(
        "[PARSER]\n"
        "    Name    kvpairs\n"
        "    Format  logfmt\n"
        "    Fields  level size\n"
    )
    conf = tmp_path / "fluent-bit.conf"
    conf.write_text(
        "@SET out_dir=" + str(tmp_path) + "\n"
        "@INCLUDE parsers.conf\n"
        "# comment line\n"
        "[SERVICE]\n"
        "    Flush        1\n"
        "[INPUT]\n"
        "    Name    dummy\n"
        "    Tag     ${APP_TAG}\n"
        "    Dummy   {\"log\": \"level=info size=42\", \"n\": 1}\n"
        "    Samples 3\n"
        "[FILTER]\n"
        "    Name    parser\n"
        "    Match   svc.*\n"
        "    Key_Name log\n"
        "    Parser  kvpairs\n"
        "    Reserve_Data true\n"
        "[FILTER]\n"
        "    Name    grep\n"
        "    Match   *\n"
        "    Regex   level info\n"
        "[FILTER]\n"
        "    Name    modify\n"
        "    Match   *\n"
        "    Set     env prod\n"
        "    Rename  size bytes\n"
        "[OUTPUT]\n"
        "    Name    file\n"
        "    Match   *\n"
        "    Path    ${out_dir}/out\n"
        "    Format  json\n"
    )
    pipe = load_pipeline(spark, str(conf))
    written = pipe.run_outputs()
    assert all(n == 3 for n in written.values())
    rows = spark.read.json(str(tmp_path / "out")).collect()
    assert len(rows) == 3
    r = rows[0]
    assert r.level == "info" and r.env == "prod" and r.bytes == "42"
    assert r.tag == "svc.app" and r.n == 1


def test_classic_conf_rewrite_and_stream_task(spark, tmp_path):
    conf = (
        "[INPUT]\n"
        "    Name    dummy\n"
        "    Tag     app.a\n"
        "    Dummy   {\"msg\": \"x\", \"value\": 10}\n"
        "    Samples 4\n"
        "[STREAM_TASK]\n"
        "    Name    agg\n"
        "    Exec    CREATE STREAM agg AS SELECT SUM(value) AS total FROM STREAM:pipeline;\n"
    )
    pipe = load_pipeline(spark, conf)
    got = pipe.sp.streams["agg"].collect()
    assert got[0].total == 40.0


def test_classic_multiline_parser_custom_rules(spark, tmp_path):
    """[MULTILINE_PARSER] rule tables (flb_ml_rule.c) flow from classic
    config into the state-machine reassembler."""
    conf = (
        "[MULTILINE_PARSER]\n"
        "    Name          exc\n"
        "    Type          regex\n"
        '    Rule "start_state" "/^BEGIN/" "body"\n'
        '    Rule "body" "/^  /" "body"\n'
        "[INPUT]\n"
        "    Name    dummy\n"
        "    Tag     app.ml\n"
        '    Dummy   {"seq": 1, "line": "BEGIN trace"}\n'
        "[FILTER]\n"
        "    Name              multiline\n"
        "    Match             *\n"
        "    multiline.parser  exc\n"
        "    Key_content       line\n"
        "    Seq_key           seq\n"
        "[OUTPUT]\n"
        "    Name   null\n"
        "    Match  *\n"
    )
    from fluent_bit_spark.pipeline.config import load_pipeline as lp

    pipe = lp(spark, conf)
    assert [r.message for r in pipe.source().collect()] == ["BEGIN trace"]

    lines = spark.createDataFrame(
        [(1, "BEGIN trace"), (2, "  frame a"), (3, "  frame b"), (4, "BEGIN other")],
        "seq long, line string",
    )
    from fluent_bit_spark.operators.multiline import MLRule, multiline_rules

    from fluent_bit_spark.pipeline.classic import classic_to_dict

    d = classic_to_dict(conf)
    mlp = d["multiline_parsers"][0]
    assert mlp["name"] == "exc"
    assert mlp["rules"] == [
        ["start_state", "^BEGIN", "body"], ["body", "^  ", "body"],
    ]
    table = [MLRule((r[0],), r[1], r[2]) for r in mlp["rules"]]
    msgs = [r.message for r in multiline_rules(lines, table).orderBy("seq").collect()]
    assert msgs == ["BEGIN trace\n  frame a\n  frame b", "BEGIN other"]


def test_cloud_output_plugins(spark, tmp_path):
    """kinesis/azure/logdna/nats/slack/td/remote_write/plot routes write
    their wire payloads (file-backed stand-ins)."""
    conf = {
        "pipeline": {
            "inputs": [
                {"name": "dummy", "tag": "m.cpu",
                 "records": [{"metric": "load", "value": 0.5, "host": "a"},
                             {"metric": "load", "value": 1.5, "host": "b"}]},
            ],
            "outputs": [
                {"name": "kinesis_streams", "match": "*", "path": str(tmp_path / "kin")},
                {"name": "azure", "match": "*", "path": str(tmp_path / "az"),
                 "time_generated": True},
                {"name": "logdna", "match": "*", "path": str(tmp_path / "ld"), "app": "x"},
                {"name": "nats", "match": "*", "path": str(tmp_path / "nats")},
                {"name": "slack", "match": "*", "path": str(tmp_path / "sl")},
                {"name": "td", "match": "*", "path": str(tmp_path / "td")},
                {"name": "prometheus_remote_write", "match": "*",
                 "path": str(tmp_path / "rw"), "label_keys": ["host"]},
                {"name": "plot", "match": "*", "path": str(tmp_path / "plot"),
                 "key": "value"},
            ],
        },
    }
    pipe = load_pipeline(spark, conf)
    written = pipe.run_outputs()
    assert all(n == 2 for n in written.values())
    assert spark.read.json(str(tmp_path / "kin")).count() == 2
    az = spark.read.json(str(tmp_path / "az")).collect()
    assert all(r.log_type == "fluentbit" for r in az)
    assert spark.read.json(str(tmp_path / "ld")).collect()[0].app == "x"
    assert spark.read.json(str(tmp_path / "nats")).count() == 1  # one subject
    assert spark.read.text(str(tmp_path / "sl")).count() == 1
    assert spark.read.parquet(str(tmp_path / "td")).count() == 2
    from fluent_bit_spark.connectors import remote_write_decode

    rw = remote_write_decode(spark.read.parquet(str(tmp_path / "rw")).select("body"))
    assert rw.count() == 2
    lines = [r.value for r in spark.read.text(str(tmp_path / "plot")).collect()]
    assert sorted(l.split(" ")[1] for l in lines) == ["0.500000", "1.500000"]


def test_content_modifier_and_log_to_metrics_routes(spark):
    from fluent_bit_spark.pipeline import load_pipeline

    conf = {
        "pipeline": {
            "inputs": [
                {
                    "name": "parquet",
                    "path": "/root/testdata/sf0.001/events.parquet",
                    "tag": "ev.app",
                    "time_key": "ts",
                }
            ],
            "filters": [
                {
                    "name": "content_modifier",
                    "match": "ev.*",
                    "action": "insert",
                    "key": "source",
                    "value": "edge",
                },
                {
                    "name": "log_to_metrics",
                    "match": "ev.*",
                    "metric_mode": "counter",
                    "metric_name": "events_total",
                    "label_field": "event_type",
                },
            ],
            "outputs": [{"name": "null", "match": "*"}],
        }
    }
    pipe = load_pipeline(spark, conf)
    rows = pipe.source().collect()
    # filter replaced log records with one metric record per event_type
    assert {r["metric_name"] for r in rows} == {"events_total"}
    assert {r["metric_type"] for r in rows} == {"counter"}
    assert sum(r["value"] for r in rows) == 1000
    assert len(rows) == 5
    counts = pipe.run_outputs()
    assert counts["*"] == 5


def test_yaml_processors_section(spark):
    """Entry point C: processors attached to an input run in config order
    before filters; output-attached processors run on the routed stream."""
    from fluent_bit_spark.pipeline import load_pipeline

    conf = {
        "pipeline": {
            "inputs": [
                {
                    "name": "parquet",
                    "path": "/root/testdata/sf0.001/events.parquet",
                    "tag": "ev.app",
                    "time_key": "ts",
                    "processors": {
                        "logs": [
                            {"name": "content_modifier", "action": "insert",
                             "key": "stage", "value": "ingest"},
                            {"name": "sql",
                             "query": "SELECT event_id, event_type, stage "
                                      "FROM STREAM:stream WHERE event_type = 'error';"},
                        ]
                    },
                }
            ],
            "outputs": [
                {
                    "name": "null",
                    "match": "*",
                    "processors": {
                        "logs": [
                            {"name": "sampling", "percentage": 50.0,
                             "key": "event_id"}
                        ]
                    },
                }
            ],
        }
    }
    pipe = load_pipeline(spark, conf)
    src = pipe.source()
    assert set(src.columns) >= {"event_id", "event_type", "stage"}
    n_src = src.count()
    assert n_src == 201                      # error records only
    assert src.filter(F.col("stage") == "ingest").count() == n_src
    counts = pipe.run_outputs()
    assert 0 < counts["*"] < n_src           # ~50% deterministic sample

    import pytest as _pt
    with _pt.raises(ValueError, match="unknown processor"):
        load_pipeline(spark, {
            "pipeline": {"inputs": [{
                "name": "parquet",
                "path": "/root/testdata/sf0.001/events.parquet",
                "tag": "t", "time_key": "ts",
                "processors": {"logs": [{"name": "bogus"}]},
            }], "outputs": []}
        })


def test_prometheus_exporter_output_route(spark, tmp_path):
    """log_to_metrics filter feeding the prometheus_exporter output: the
    full fluent-bit log->metric->exposition chain from one config."""
    from fluent_bit_spark.pipeline import load_pipeline

    out_dir = str(tmp_path / "prom")
    conf = {
        "pipeline": {
            "inputs": [{
                "name": "parquet",
                "path": "/root/testdata/sf0.001/events.parquet",
                "tag": "ev.app", "time_key": "ts",
            }],
            "filters": [{
                "name": "log_to_metrics", "match": "ev.*",
                "metric_mode": "counter", "metric_name": "ev_total",
                "label_field": "event_type", "tag": "metrics.ev",
            }],
            "outputs": [{
                "name": "prometheus_exporter", "match": "metrics.*",
                "path": out_dir, "label_keys": "event_type",
                "add_label": "env prod", "value_format": "long",
            }],
        }
    }
    pipe = load_pipeline(spark, conf)
    pipe.run_outputs()
    lines = sorted(r.value for r in spark.read.text(out_dir).collect())
    assert "# TYPE ev_total counter" in lines
    samples = [l for l in lines if not l.startswith("#")]
    assert len(samples) == 5
    assert all('env="prod"' in s and s.startswith("ev_total{") for s in samples)
    total = sum(int(s.rsplit(" ", 1)[1]) for s in samples)
    assert total == 1000


# -- filter routing: tag-specific filters reach only the inputs they match --

_APACHE = (
    r'^(?<host>[^ ]*) [^ ]* (?<ruser>[^ ]*) \[(?<time>[^\]]*)\] '
    r'"(?<method>\S+)(?: +(?<path>[^ ]*) +\S*)?" (?<status>[^ ]*) (?<size>[^ ]*)$'
)
_LINES = {
    "web": [
        '1.2.3.4 - bob [10/Oct/2000:13:55:36 -0700] "GET /a HTTP/1.0" 200 12',
        '5.6.7.8 - amy [10/Oct/2000:13:55:37 -0700] "POST /b HTTP/1.0" 503 0',
        "not an access line",
    ],
    "json": [
        '{"level": "info", "msg": "hi", "code": 200}',
        '{"level": "error", "msg": "bad", "code": 500}',
        '{"level": "debug", "msg": "noise", "code": 200}',
        "{broken",
    ],
    "logfmt": ["lvl=warn message=x rc=0", "lvl=error message=y rc=2", "lvl=debug message=z"],
}
_TAGS = {"web": "web.access", "json": "app.json", "logfmt": "app.logfmt"}


def _write_inputs(tmp_path):
    for sub, lines in _LINES.items():
        (tmp_path / sub).mkdir(exist_ok=True)
        (tmp_path / sub / "a.log").write_text("\n".join(lines) + "\n")


def _three_input_conf(tmp_path):
    """Three text inputs, each with its own tag-specific parser filter."""
    _write_inputs(tmp_path)
    sections = [
        "[PARSER]\n    Name apache\n    Format regex\n    Regex " + _APACHE,
        "[PARSER]\n    Name app_json\n    Format json\n    Fields level msg",
        "[PARSER]\n    Name app_logfmt\n    Format logfmt\n    Fields lvl message",
    ]
    sections += [
        f"[INPUT]\n    Name text\n    Path {tmp_path / sub}\n    Tag {tag}"
        for sub, tag in _TAGS.items()
    ]
    sections += [
        f"[FILTER]\n    Name parser\n    Match {match}\n    Key_Name value\n    Parser {parser}"
        for match, parser in (("web.*", "apache"), ("app.json", "app_json"),
                              ("app.logfmt", "app_logfmt"))
    ]
    sections.append("[OUTPUT]\n    Name null\n    Match *")
    path = tmp_path / "three.conf"
    path.write_text("\n".join(sections) + "\n")
    return str(path)


def _jobs_started(spark, fn):
    """(result of fn(), Spark jobs it started)."""
    import uuid

    sc = spark.sparkContext
    group = f"build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "pipeline build")
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_filters_route_by_tag_at_build(spark, tmp_path):
    """Each tag-specific filter is routed to its input in Python: the
    build starts no Spark job and the merged plan reads every input once."""
    conf = _three_input_conf(tmp_path)
    pipe, jobs = _jobs_started(spark, lambda: load_pipeline(spark, conf))
    assert jobs == 0
    analyzed = pipe.source()._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("Relation [") == 3
    got = {r.tag: r.n for r in pipe.source().groupBy("tag").agg(
        F.count("method").alias("n")).collect()}
    assert got == {"web.access": 2, "app.json": 0, "app.logfmt": 0}


def test_dry_run_runs_no_job(spark, tmp_path, monkeypatch, capsys):
    import fluent_bit_spark
    import fluent_bit_spark.__main__ as cli

    monkeypatch.setattr(fluent_bit_spark, "get_spark", lambda *a, **k: spark)
    conf = _three_input_conf(tmp_path)
    code, jobs = _jobs_started(
        spark, lambda: cli.main(["-c", conf, "--dry-run", "--json"]))
    assert code == 0 and jobs == 0
    assert json.loads(capsys.readouterr().out)["routes"] == ["*"]


def test_unmatched_filter_still_validated(spark, tmp_path):
    """A filter whose Match selects no input is still dispatched, so a bad
    section fails the build as it does when it matches."""
    import pytest

    conf = {"pipeline": {
        "inputs": [{"name": "dummy", "tag": "a.x", "records": [{"m": "1"}]}],
        "filters": [{"name": "no_such_filter", "match": "b.*"}],
    }}
    with pytest.raises(ValueError, match="unknown filter plugin"):
        load_pipeline(spark, conf)
    conf["pipeline"]["filters"] = [
        {"name": "parser", "match": "b.*", "key_name": "m", "parser": "missing"}]
    with pytest.raises(KeyError):
        load_pipeline(spark, conf)


def test_unknown_output_rejected_at_load(spark, tmp_path, monkeypatch):
    """An unknown [OUTPUT] name fails the load, so --dry-run reports it
    instead of a run writing the other sinks first."""
    import pytest

    import fluent_bit_spark
    import fluent_bit_spark.__main__ as cli

    conf = {"pipeline": {
        "inputs": [{"name": "dummy", "tag": "a.x", "records": [{"m": "1"}]}],
        "outputs": [{"name": "counter", "match": "*"},
                    {"name": "nosuch", "match": "*", "path": str(tmp_path / "o")}],
    }}
    with pytest.raises(ValueError, match="unknown output plugin 'nosuch'"):
        load_pipeline(spark, conf)
    path = tmp_path / "bad.yaml"
    path.write_text(json.dumps(conf))  # JSON is YAML
    monkeypatch.setattr(fluent_bit_spark, "get_spark", lambda *a, **k: spark)
    assert cli.main(["-c", str(path), "--dry-run"]) == 2


@pytest.mark.parametrize("out, error", [
    ({"name": "cloudwatch_logs", "log_group_name": "g"},
     (ValueError, "need log_stream_name or log_stream_prefix")),
    ({"name": "file", "path": None}, (ValueError, "output 'file' needs a path")),
    ({"name": "plot"}, (KeyError, "key")),
], ids=["cloudwatch_without_stream", "file_without_path", "plot_without_key"])
def test_missing_output_option_rejected_at_load(spark, tmp_path, monkeypatch, out, error):
    """An [OUTPUT] missing a required option fails the load, so --dry-run
    reports it instead of a run writing the other sinks first."""
    import fluent_bit_spark
    import fluent_bit_spark.__main__ as cli

    out = {"match": "*", "path": str(tmp_path / "o"), **out}
    if out["path"] is None:
        del out["path"]
    conf = {"pipeline": {
        "inputs": [{"name": "dummy", "tag": "a.x", "records": [{"m": "1"}]}],
        "outputs": [{"name": "counter", "match": "*"}, out],
    }}
    with pytest.raises(error[0], match=error[1]):
        load_pipeline(spark, conf)
    path = tmp_path / "bad.yaml"
    path.write_text(json.dumps(conf))  # JSON is YAML
    monkeypatch.setattr(fluent_bit_spark, "get_spark", lambda *a, **k: spark)
    assert cli.main(["-c", str(path), "--dry-run"]) == 2


def test_output_target_spellings(tmp_path, monkeypatch):
    """One directory spelled four ways is one target; a directory inside
    another shares it."""
    from fluent_bit_spark.pipeline.config import _shares_target, _target

    monkeypatch.chdir(tmp_path)
    out = str(tmp_path / "out")
    assert {_target(p) for p in (out, out + "/", "file://" + out, "out")} == {out}
    assert _shares_target([{"path": out}, {"path": "file://" + out + "/"}])
    assert _shares_target([{"path": out + "/web"}, {"path": "out"}])
    assert not _shares_target([{"path": out}, {"path": out + "2"}, {"name": "null"}])


def test_shared_target_last_writer_wins(spark, tmp_path):
    """Two outputs that name one directory two ways run one after the
    other, so the directory holds only the last declared output's rows."""
    out = tmp_path / "out"
    conf = {"pipeline": {
        "inputs": [{"name": "dummy", "tag": "a.x",
                    "records": [{"m": str(i), "level": "info" if i % 2 else "error"}
                                for i in range(40)]}],
        "outputs": [
            {"name": "file", "match": "*", "path": str(out),
             "conditions": [["level", "eq", "info"]]},
            {"name": "counter", "match": "*"},
            {"name": "file", "match": "*", "path": "file://" + str(out) + "/",
             "conditions": [["level", "eq", "error"]]},
        ],
    }}
    written = load_pipeline(spark, conf).run_outputs()
    assert written == {"*": 20, "*+": 40, "*++": 20}
    rows = spark.read.json(str(out)).collect()
    assert sorted(int(r.m) for r in rows) == list(range(0, 40, 2))
    assert {r.level for r in rows} == {"error"}


def _routing_conf(tmp_path, only=None):
    """Tag-specific regex/json/logfmt parsers, grep, modify, nest and
    record_modifier, then a rewrite_tag and a filter on the rewritten
    tag; ``only`` keeps a single input."""
    return {
        "parsers": [
            {"name": "apache", "format": "regex", "regex": _APACHE},
            {"name": "app_json", "format": "json", "fields": ["level", "msg", "code"],
             "types": {"code": "int"}},
            {"name": "app_logfmt", "format": "logfmt", "fields": ["lvl", "message", "rc"]},
        ],
        "pipeline": {
            "inputs": [
                {"name": "text", "path": str(tmp_path / sub), "tag": tag}
                for sub, tag in _TAGS.items() if only in (None, sub)
            ],
            "filters": [
                # preserve_key: an unmatched parser section is still
                # dispatched, so a single-input run must keep its key
                {"name": "parser", "match": "web.*", "key_name": "value",
                 "parser": "apache", "preserve_key": True},
                {"name": "parser", "match": "app.json", "key_name": "value",
                 "parser": "app_json", "preserve_key": True},
                {"name": "parser", "match": "app.logfmt", "key_name": "value",
                 "parser": "app_logfmt"},
                {"name": "grep", "match": "app.*", "logical_op": "or", "rules": [
                    ["regex", "level", "^(info|error)$"], ["regex", "lvl", "^(warn|error)$"]]},
                {"name": "modify", "match": "app.*", "rules": [["add", "env", "prod"]]},
                {"name": "nest", "match": "web.*", "operation": "nest",
                 "wildcard": "s*", "nest_under": "resp"},
                {"name": "record_modifier", "match": "*", "records": {"site": "eu"},
                 "remove_keys": ["ruser"]},
                {"name": "rewrite_tag", "match": "*", "rules": [
                    ["level", "^error$", "errors.$TAG[1]", "false"],
                    ["lvl", "^error$", "errors.$TAG[1]", "false"],
                    ["method", "^POST$", "errors.$TAG[1]", "false"]]},
                {"name": "record_modifier", "match": "errors.*", "records": {"alert": "yes"}},
            ],
            "outputs": [{"name": "null", "match": m}
                        for m in ("web.*", "app.*", "errors.*", "*")],
        },
    }


def _route_records(pipe):
    def clean(row):
        d = row.asDict(recursive=True)
        d.pop("timestamp")  # the load time of each run
        return {k: v for k, v in d.items() if v is not None}

    return {
        out["match"]: sorted(
            (clean(r) for r in pipe.route(out["match"]).collect()),
            key=lambda d: json.dumps(d, sort_keys=True, default=str),
        )
        for out in pipe.outputs
    }


def test_routed_filters_match_per_input_runs(spark, tmp_path):
    """Each output route of a multi-input pipeline delivers exactly the
    records that the same config delivers run over each input alone."""
    _write_inputs(tmp_path)
    together = _route_records(load_pipeline(spark, _routing_conf(tmp_path)))
    alone = {m: [] for m in together}
    for sub in _TAGS:
        for m, recs in _route_records(load_pipeline(spark, _routing_conf(tmp_path, sub))).items():
            alone[m] += recs
    for m in alone:
        alone[m].sort(key=lambda d: json.dumps(d, sort_keys=True, default=str))
    assert together == alone
    errors = together["errors.*"]
    assert {(r["tag"], r["alert"]) for r in errors} == {
        ("errors.access", "yes"), ("errors.json", "yes"), ("errors.logfmt", "yes")}
    assert len(together["*"]) == 3 + 2 + 2  # grep keeps 2 json and 2 logfmt lines
    assert all(r["site"] == "eu" for r in together["*"])
    assert together["web.*"][0]["resp"] == {"status": "200", "size": "12"}


def test_plan_audit_conf_mode(spark, tmp_path):
    """tools/plan_audit.py --conf reports the build-time cost of a config."""
    import importlib.util
    from pathlib import Path

    path = Path(__file__).resolve().parents[1] / "tools" / "plan_audit.py"
    spec = importlib.util.spec_from_file_location("plan_audit", path)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    got = tool.audit_conf(spark, _three_input_conf(tmp_path))
    assert (got["build_jobs"], got["relations"], got["max_relation_copies"]) == (0, 3, 1)
    assert got["dup_expr"] == 2  # the logfmt map, once per extracted field


def test_filter_that_writes_tag_is_routed_by_value(spark):
    """A filter may rewrite the tag column outside rewrite_tag (here a
    modify rule): later filters must route on the new value."""
    conf = {"pipeline": {
        "inputs": [{"name": "dummy", "tag": "a.x", "records": [{"m": "1"}]},
                   {"name": "dummy", "tag": "c.z", "records": [{"m": "2"}]}],
        "filters": [
            {"name": "modify", "match": "a.*", "rules": [["set", "tag", "b.y"]]},
            {"name": "record_modifier", "match": "b.*", "records": {"hit": "yes"}},
        ],
    }}
    pipe = load_pipeline(spark, conf)
    got = sorted((r.tag, r.m, r.hit) for r in pipe.source().collect())
    assert got == [("b.y", "1", "yes"), ("c.z", "2", None)]


def test_stream_task_tag_source_over_labelled_inputs(spark, tmp_path):
    """The SP source ``pipeline`` carries the tags of its inputs as its
    label; a TAG: stream task that matches one of two inputs reads that
    input's records, as the rlike over the merged stream does."""
    conf = tmp_path / "pipe.yaml"
    conf.write_text(
        "pipeline:\n"
        "  inputs:\n"
        "    - {name: dummy, tag: app.a, records: [{m: '1', v: 1}, {m: '2', v: 2}]}\n"
        "    - {name: dummy, tag: sys.b, records: [{m: '3', w: 3}]}\n"
        "  filters:\n"
        "    - {name: record_modifier, match: 'app.*', records: {hit: 'yes'}}\n"
        "stream_tasks:\n"
        "  - {name: apps, exec: \"CREATE STREAM apps AS SELECT m, v, hit FROM TAG:'app.*';\"}\n"
    )
    pipe = load_pipeline(spark, str(conf))
    assert pipe.sp.stream_tags["pipeline"] == frozenset(["app.a", "sys.b"])
    got = sorted((r.m, r.v, r.hit) for r in pipe.sp.streams["apps"].collect())
    assert got == [("1", 1, "yes"), ("2", 2, "yes")]
    # the load-time timestamp is taken again by each query
    want = pipe.source().filter(F.col("tag").rlike("^app\\..*$")).drop("timestamp")
    got = pipe.sp.sql("SELECT * FROM TAG:'app.*';").drop("timestamp")
    assert sorted(got.collect()) == sorted(want.collect())


def _payload_files(root):
    """Non-empty data files under an output directory (Spark's ``_*`` and
    ``.*`` bookkeeping files left out)."""
    import os

    return [
        os.path.join(d, f)
        for d, _, files in os.walk(root)
        for f in files
        if not f.startswith(("_", ".")) and os.path.getsize(os.path.join(d, f)) > 0
    ]


def test_unpinned_output_plugins_write_payloads(spark, tmp_path):
    """The output plugins no other test runs through load_pipeline +
    run_outputs: every route delivers both records, and every path-backed
    output leaves non-empty payload files (s3: one per $TAG key)."""
    import os

    paths = {
        name: str(tmp_path / name)
        for name in ("s3", "opensearch", "forward", "cloudwatch_logs", "stackdriver",
                     "bigquery", "kafka", "http", "kinesis_firehose")
    }
    outputs = [{"name": "stdout", "match": "*", "limit": 1},
               {"name": "counter", "match": "*"}]
    outputs += [{"name": name, "match": "*", "path": path} for name, path in paths.items()]
    outputs[-1]["time_key"] = "ts"
    next(o for o in outputs if o["name"] == "cloudwatch_logs").update(
        log_group_name="grp", log_stream_prefix="app-")
    next(o for o in outputs if o["name"] == "s3")["s3_key_format"] = "/logs/$TAG"
    conf = {"pipeline": {
        "inputs": [{"name": "dummy", "tag": "svc.app",
                    "records": [{"msg": "boot ok", "level": "info", "id": 1},
                                {"msg": "disk full", "level": "error", "id": 2}]}],
        "outputs": outputs,
    }}
    written = load_pipeline(spark, conf).run_outputs()
    assert len(written) == len(outputs)
    assert set(written.values()) == {2}
    for name, path in paths.items():
        assert _payload_files(path), name
    keys = [d for d in os.listdir(paths["s3"]) if d.startswith("s3_key=")]
    assert len(keys) == 1 and "svc.app" in keys[0]
    assert _payload_files(os.path.join(paths["s3"], keys[0]))
