"""Connector payload-shaping tests: out_es bulk, out_splunk HEC, OTLP logs
encode/decode roundtrip (plugins/out_es, plugins/out_splunk,
plugins/{in,out}_opentelemetry)."""

import glob
import json
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from fluent_bit_spark import get_spark
from fluent_bit_spark.connectors import (
    es_bulk,
    otlp_logs_decode,
    otlp_logs_encode,
    splunk_hec,
)


@pytest.fixture(scope="module")
def ev(spark):
    return spark.createDataFrame(
        [
            (1, "2024-01-05 10:00:00.123456", "error", "disk full", "hostA"),
            (2, "2024-02-07 11:30:00.500000", "info", "ok", "hostB"),
        ],
        "event_id long, ts string, level string, msg string, host string",
    ).withColumn("timestamp", F.to_timestamp("ts")).drop("ts")


@pytest.fixture(scope="module")
def spark():
    return get_spark()


def test_es_bulk_logstash_rotation_and_id(ev):
    out = es_bulk(
        ev, logstash_format=True, logstash_prefix="logs", id_key="event_id"
    ).orderBy("_id")
    rows = out.collect()
    assert rows[0]._index == "logs-2024.01.05"
    assert rows[1]._index == "logs-2024.02.07"
    action = json.loads(rows[0].action_line)
    assert action == {"index": {"_index": "logs-2024.01.05", "_id": "1"}}
    doc = json.loads(rows[0].doc_line)
    assert doc["msg"] == "disk full" and doc["level"] == "error"
    assert "timestamp" not in doc  # ts_col excluded from the doc by default


def test_es_bulk_static_index_no_id(ev):
    rows = es_bulk(ev, index="fixed").collect()
    for r in rows:
        assert r._index == "fixed"
        assert json.loads(r.action_line) == {"index": {"_index": "fixed"}}


def test_splunk_hec_promotion(ev):
    rows = (
        splunk_hec(
            ev, source="app", sourcetype="_json", host_key="host", index="main"
        )
        .orderBy("time_us")
        .collect()
    )
    r = rows[0]
    assert r.host == "hostA" and r.source == "app" and r["index"] == "main"
    assert r.time_us == 1704448800123456
    body = json.loads(r.event)
    assert body["msg"] == "disk full"
    assert "host" not in body  # promoted key removed from event body


def test_splunk_send_raw(ev):
    rows = splunk_hec(ev, send_raw=True).collect()
    assert set(rows[0].asDict()) == {"raw"}
    assert json.loads(rows[0].raw)["event_id"] in (1, 2)


def test_otlp_roundtrip(ev):
    enc = otlp_logs_encode(
        ev,
        body_col="msg",
        attr_cols=["event_id", "level"],
        resource_attributes={"service.name": "svc"},
        scope_name="scope1",
        batch_col="level",
    )
    assert enc.count() == 2  # one request per batch key
    dec = otlp_logs_decode(enc).orderBy("timestamp")
    rows = dec.collect()
    assert [r.body for r in rows] == ["disk full", "ok"]
    assert rows[0].attributes == {"event_id": "1", "level": "error"}
    assert rows[0].resource == {"service.name": "svc"}
    assert rows[0].scope_name == "scope1"
    # microsecond-exact timestamp survives the nano encode
    src = ev.orderBy("timestamp").collect()
    assert [r.timestamp for r in rows] == [r.timestamp for r in src]


def test_es_bulk_decode_pairs_and_ops(spark):
    """Receiver side: NDJSON pairing (index/create), per-request metadata."""
    from fluent_bit_spark.connectors import es_bulk_decode

    bulk = "\n".join(
        [
            '{"index":{"_index":"logs-2024.01.05","_id":"a1"}}',
            '{"msg":"hello","n":1}',
            '{"create":{"_index":"other"}}',
            '{"msg":"world","n":2}',
            "",  # trailing newline per bulk spec
        ]
    )
    df = spark.createDataFrame([(7, bulk)], "req_id int, bulk_body string")
    rows = es_bulk_decode(df).orderBy("es_index").collect()
    assert [(r.req_id, r.op, r.es_index, r.es_id) for r in rows] == [
        (7, "index", "logs-2024.01.05", "a1"),
        (7, "create", "other", None),
    ]
    assert json.loads(rows[0].doc) == {"msg": "hello", "n": 1}


def test_es_bulk_encode_decode_roundtrip(ev):
    from fluent_bit_spark.connectors import es_bulk_decode

    enc = es_bulk(ev, index="fixed", id_key="event_id", doc_cols=["msg", "level"])
    body = enc.groupBy().agg(
        F.concat_ws(
            "\n", F.collect_list(F.concat_ws("\n", "action_line", "doc_line"))
        ).alias("bulk_body")
    )
    rows = es_bulk_decode(body).orderBy("es_id").collect()
    assert [(r.op, r.es_index, r.es_id) for r in rows] == [
        ("index", "fixed", "1"),
        ("index", "fixed", "2"),
    ]
    assert json.loads(rows[1].doc) == {"msg": "ok", "level": "info"}


def test_splunk_hec_decode(spark):
    """Receiver side: fractional epoch time, metadata, object/string event."""
    from fluent_bit_spark.connectors import splunk_hec_decode

    df = spark.createDataFrame(
        [
            (
                1,
                '{"time":1704448800.123456,"host":"h1","source":"s",'
                '"sourcetype":"st","index":"main","event":{"msg":"obj"}}',
            ),
            (2, '{"time":1704448801,"host":"h2","event":"plain"}'),
        ],
        "id int, hec_json string",
    )
    rows = splunk_hec_decode(df).orderBy("id").collect()
    assert rows[0].host == "h1" and rows[0]["index"] == "main"
    assert json.loads(rows[0].event) == {"msg": "obj"}
    assert rows[1].event == "plain"
    assert rows[1].source is None
    assert rows[0].timestamp.microsecond == 123456


def test_es_bulk_decode_delete_has_no_source_line(spark):
    """`delete` actions carry no source line; pairing must not shift
    (the even/odd positional form silently mispaired everything after)."""
    from fluent_bit_spark.connectors import es_bulk_decode

    bulk = "\n".join(
        [
            '{"index":{"_index":"a","_id":"1"}}',
            '{"msg":"first"}',
            '{"delete":{"_index":"a","_id":"gone"}}',
            '{"create":{"_index":"b","_id":"2"}}',
            '{"msg":"second"}',
            "",
        ]
    )
    df = spark.createDataFrame([(1, bulk)], "req_id int, bulk_body string")
    rows = es_bulk_decode(df).orderBy("es_id").collect()
    assert [(r.op, r.es_index, r.es_id, r.doc is None) for r in rows] == [
        ("index", "a", "1", False),
        ("create", "b", "2", False),
        ("delete", "a", "gone", True),
    ]
    assert json.loads(rows[1].doc) == {"msg": "second"}


# msgpack golden pairs packed by an independent encoder (see its README)
PACK_DIR = Path(__file__).parent / "data" / "pack"
# fluent-bit's own pack corpus, present only beside a fluent-bit checkout
REFERENCE_PACK_DIR = "/root/reference/tests/internal/data/pack"


def _assert_pack_pairs(pairs):
    """Each ``<name>.mp`` decodes to its ``<name>.json`` value, consuming
    the whole file, and survives the engine's own encoder."""
    from fluent_bit_spark.functions.msgpack_codec import pack, unpack_one

    assert len(pairs) >= 7
    for mp in pairs:
        raw = open(mp, "rb").read()
        want = json.loads(open(mp[:-3] + ".json", encoding="utf-8").read())
        got, off = unpack_one(raw)
        assert got == want and off == len(raw), mp
        assert unpack_one(pack(got))[0] == got  # own-encoder roundtrip


def test_msgpack_codec_golden_pairs():
    """Decoder parity with an independent encoder: tests/data/pack/*.mp,
    packed by msgpack-python, must decode to their .json values."""
    _assert_pack_pairs(sorted(glob.glob(str(PACK_DIR / "*.mp"))))


@pytest.mark.skipif(
    not os.path.isdir(REFERENCE_PACK_DIR),
    reason=f"fluent-bit pack corpus not found at {REFERENCE_PACK_DIR}",
)
def test_msgpack_codec_reference_pack_corpus():
    """Decoder parity with the reference pack corpus:
    tests/internal/data/pack/*.mp must decode to their .json values."""
    _assert_pack_pairs(sorted(glob.glob(REFERENCE_PACK_DIR + "/*.mp")))


@pytest.mark.parametrize("n", [0, 1, 3, 8, 16, 17, 255, 256, 65536])
def test_msgpack_pack_ext_matches_msgpack_python(n):
    """Ext values pack as msgpack-python packs them (fixext 1/2/4/8/16,
    then ext 8/16/32, smallest first) and decode back unchanged."""
    msgpack = pytest.importorskip("pip._vendor.msgpack")

    from fluent_bit_spark.functions.msgpack_codec import Ext, pack, unpack_one

    data = bytes(i % 251 for i in range(n))
    raw = pack(Ext(5, data))
    assert raw == msgpack.packb(msgpack.ExtType(5, data))
    assert unpack_one(raw) == (Ext(5, data), len(raw))


def test_msgpack_event_and_forward_decode(spark):
    """V1/V2 events, EventTime ext, group-marker skip, and the three
    forward wire modes (fw_prot.c) through the Spark decoders."""
    import gzip

    from fluent_bit_spark.connectors import forward_frames_decode, msgpack_events_decode
    from fluent_bit_spark.functions.msgpack_codec import EventTime, pack

    v1 = pack([1700000000, {"k": "v"}])
    v2 = pack([[EventTime(1700000000, 123456000), {"src": "fw"}], {"k": 2}])
    grp = pack([EventTime(0xFFFFFFFF, 0), {}])  # group marker: skipped
    df = spark.createDataFrame([(1, bytearray(v1 + v2 + grp))], "chunk_id int, chunk binary")
    rows = msgpack_events_decode(df).orderBy("ts_nanos", "body").collect()
    assert len(rows) == 2
    assert rows[0].body == '{"k": "v"}' and rows[0].metadata is None
    assert rows[1].metadata == '{"src": "fw"}'
    assert rows[1].timestamp.microsecond == 123456
    # forward frames: Forward + gzip PackedForward + Message modes
    fwd = pack(["t.fw", [[1700000001, {"a": 1}]], {"size": 1}])
    pkd = pack(["t.pk", gzip.compress(v1), {"compressed": "gzip"}])
    msg = pack(["t.msg", 1700000002, {"z": 9}])
    fdf = spark.createDataFrame(
        [(bytearray(fwd),), (bytearray(pkd),), (bytearray(msg),)], "frame binary"
    )
    out = forward_frames_decode(fdf).orderBy("tag").collect()
    assert [(r.tag, r.body) for r in out] == [
        ("t.fw", '{"a": 1}'),
        ("t.msg", '{"z": 9}'),
        ("t.pk", '{"k": "v"}'),
    ]


def test_avro_codec_spec_goldens():
    """Wire-format goldens hand-derived from the public Avro spec: zigzag
    varints, string framing, union branch index, record field order."""
    from fluent_bit_spark.functions.avro_codec import (
        dec_long,
        enc_long,
        encode_value,
        ocf_bytes,
        read_ocf,
    )

    # spec's own varint examples: 0->00, -1->01, 1->02, -2->03, 2->04, -64->7f, 64->80 01
    assert [enc_long(n) for n in (0, -1, 1, -2, 2, -64, 64)] == [
        b"\x00", b"\x01", b"\x02", b"\x03", b"\x04", b"\x7f", b"\x80\x01",
    ]
    assert dec_long(b"\x80\x01", 0) == (64, 2)
    rec_schema = {
        "type": "record", "name": "ev",
        "fields": [{"name": "a", "type": "long"}, {"name": "b", "type": "string"}],
    }
    # record {a:1, b:"x"} -> long(1)=02, then len(1)=02 + 'x'
    assert encode_value(rec_schema, {"a": 1, "b": "x"}) == b"\x02\x02x"
    # ["null","long"] union: null -> branch 0 only; 7 -> branch 1 + long(7)
    assert encode_value(["null", "long"], None) == b"\x00"
    assert encode_value(["null", "long"], 7) == b"\x02\x0e"
    # container roundtrip incl. deflate codec, map/array/enum/fixed/bytes
    full = {
        "type": "record", "name": "all",
        "fields": [
            {"name": "l", "type": ["null", "long"]},
            {"name": "d", "type": "double"},
            {"name": "s", "type": "string"},
            {"name": "by", "type": "bytes"},
            {"name": "fx", "type": {"type": "fixed", "name": "f4", "size": 4}},
            {"name": "en", "type": {"type": "enum", "name": "lv", "symbols": ["info", "err"]}},
            {"name": "arr", "type": {"type": "array", "items": "long"}},
            {"name": "mp", "type": {"type": "map", "values": "string"}},
        ],
    }
    recs = [
        {"l": None, "d": 1.5, "s": "é", "by": b"\x00\x01", "fx": b"abcd",
         "en": "err", "arr": [1, -2, 3], "mp": {"k": "v"}},
        {"l": 42, "d": -0.25, "s": "", "by": b"", "fx": b"wxyz",
         "en": "info", "arr": [], "mp": {}},
    ]
    for codec in ("null", "deflate"):
        schema_out, out = read_ocf(ocf_bytes(full, recs, codec=codec))
        assert out == recs and schema_out == full


def test_avro_ocf_spark_roundtrip(spark):
    """Rows -> OCF blobs (mapInPandas, one blob per batch) -> rows, with a
    nullable union, a timestamp-micros logical field, and deflate blocks."""
    import datetime as dt

    from fluent_bit_spark.connectors import avro_ocf_decode, avro_ocf_encode

    schema = {
        "type": "record", "name": "logrec",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
            {"name": "msg", "type": ["null", "string"]},
            {"name": "v", "type": "double"},
        ],
    }
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0, 123456)
    df = spark.createDataFrame(
        [(1, t0, "hello", 1.5), (2, t0, None, -2.0)],
        "id long, ts timestamp, msg string, v double",
    )
    blobs = avro_ocf_encode(df, schema)
    back = avro_ocf_decode(blobs, "id long, ts timestamp, msg string, v double")
    rows = sorted(back.collect(), key=lambda r: r.id)
    assert [(r.id, r.ts, r.msg, r.v) for r in rows] == [
        (1, t0, "hello", 1.5), (2, t0, None, -2.0),
    ]


def test_influxdb_line_protocol(spark):
    """out_influxdb parity (plugins/out_influxdb/influxdb.c:61-315): tag in
    the measurement slot, tag_keys become tag-set entries (unquoted,
    key-escaped), integer fields bare or i-suffixed, doubles %f, strings
    JSON-then-quote escaped, epoch-ns exact."""
    import datetime as dt

    from fluent_bit_spark.connectors import influxdb_line

    t0 = dt.datetime(2024, 1, 1, 0, 0, 1, 500000)
    df = spark.createDataFrame(
        [("cpu.0", t0, "us east", 3, 0.5, 'say "hi"', True)],
        "tag string, timestamp timestamp, region string, n long, load double, note string, up boolean",
    )
    out = influxdb_line(
        df, tag_keys=["region"], use_influxdb_integer=True
    ).collect()
    ns = int(t0.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000) * 1000
    # region: tag value -> space escaped; note: JSON escape then quote escape
    assert out[0].line == (
        f'cpu.0,region=us\\ east n=3i,load=0.500000,'
        f'note="say \\\\\\"hi\\\\\\"",up=TRUE {ns}'
    )


def test_influxdb_line_null_and_empty_fields(spark):
    """nil values are skipped (influxdb.c:160); records with an empty field
    set are dropped (influxdb.c:273-278)."""
    import datetime as dt

    from fluent_bit_spark.connectors import influxdb_line

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [("m", t0, None, 1.0), ("m", t0, None, None)],
        "tag string, timestamp timestamp, a string, b double",
    )
    rows = influxdb_line(df).collect()
    assert len(rows) == 1
    assert rows[0].line.startswith("m b=1.000000 ")


def test_datadog_records_remap(spark):
    """out_datadog ECS remapping (plugins/out_datadog/datadog_remap.c:248-255):
    the six ECS attributes fold into ddtags; dd_message_key renames to
    message; timestamp is epoch-ms."""
    import datetime as dt

    from fluent_bit_spark.connectors import datadog_records

    t0 = dt.datetime(2024, 1, 1, 0, 0, 1, 250000)
    df = spark.createDataFrame(
        [(
            "app", t0, "hello world",
            "abc123", "/web-1", "nginx:1.25",
            "arn:aws:ecs:us-west-2:111:cluster/prod",
            "webfam:42",
            "arn:aws:ecs:us-west-2:111:task/prod/deadbeef",
        )],
        "tag string, timestamp timestamp, log string, container_id string, "
        "container_name string, container_image string, ecs_cluster string, "
        "ecs_task_definition string, ecs_task_arn string",
    )
    r = datadog_records(
        df, include_tag_key=True, dd_source="ecs", dd_service="svc",
        dd_tags="env:prod", remap=True,
    ).collect()[0]
    assert r.timestamp == int(t0.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
    assert r.tagkey == "app" and r.ddsource == "ecs" and r.service == "svc"
    assert r.message == "hello world"
    assert r.ddtags == (
        "container_id:abc123,container_name:web-1,container_image:nginx:1.25,"
        "cluster_name:prod,task_family:webfam,task_version:42,"
        "task_arn:arn:aws:ecs:us-west-2:111:task/prod/deadbeef,"
        "region:us-west-2,task_id:prod/deadbeef,env:prod"
    )


def test_datadog_records_no_remap_defaults(spark):
    import datetime as dt

    from fluent_bit_spark.connectors import datadog_records

    df = spark.createDataFrame(
        [("t", dt.datetime(2024, 1, 1), "m1", 7)],
        "tag string, timestamp timestamp, log string, n long",
    )
    r = datadog_records(df).collect()[0]
    assert set(r.asDict()) == {"timestamp", "message", "n"}
    assert r.message == "m1" and r.n == 7


def test_forward_frames_roundtrip(spark):
    """out_forward Forward-mode frames (forward.c) decode back through
    forward_frames_decode losslessly: EventTime ext carries sec+nsec, tag
    groups entries, options map when send_options."""
    import datetime as dt
    import json as _json

    from fluent_bit_spark.connectors import forward_frames_decode, forward_frames_encode
    from fluent_bit_spark.functions.msgpack_codec import unpack_one

    t0 = dt.datetime(2024, 1, 1, 0, 0, 1, 123456)
    t1 = dt.datetime(2024, 1, 1, 0, 0, 2, 654321)
    df = spark.createDataFrame(
        [("svc.a", t0, "boot", 1), ("svc.a", t1, "ready", 2), ("svc.b", t0, "other", 3)],
        "tag string, timestamp timestamp, msg string, n long",
    )
    frames = forward_frames_encode(df.coalesce(1), send_options=True).collect()
    assert {r.tag for r in frames} == {"svc.a", "svc.b"}
    raw, _ = unpack_one(bytes(next(r.frame for r in frames if r.tag == "svc.a")))
    assert raw[0] == "svc.a" and len(raw[1]) == 2 and raw[2] == {"size": 2}

    back = forward_frames_decode(
        spark.createDataFrame([(bytes(r.frame),) for r in frames], "frame binary")
    )
    rows = sorted(back.collect(), key=lambda r: (r.tag, r.timestamp))
    assert [(r.tag, r.timestamp) for r in rows] == [
        ("svc.a", t0), ("svc.a", t1), ("svc.b", t0),
    ]
    assert _json.loads(rows[0].body) == {"msg": "boot", "n": 1}

    # integer-time mode drops sub-second precision, stays decodable
    ints = forward_frames_decode(
        spark.createDataFrame(
            [(bytes(r.frame),) for r in forward_frames_encode(df, time_as_integer=True).collect()],
            "frame binary",
        )
    )
    assert all(r.timestamp.microsecond == 0 for r in ints.collect())


def test_forward_frames_pre1970_roundtrip(spark):
    """Pre-1970 timestamps roundtrip exactly: sec is floored (not truncated
    toward zero) so (sec, nsec) normalizes with nsec in [0, 1e9)."""
    import datetime as dt

    from fluent_bit_spark.connectors import forward_frames_decode, forward_frames_encode

    # NOT 23:59:58/59 of 1969-12-31 — sec -1/-2 are the wire format's
    # reserved group markers
    t = dt.datetime(1969, 6, 1, 12, 30, 15, 750000)
    df = spark.createDataFrame([("old.a", t, "x")], "tag string, timestamp timestamp, msg string")
    frames = forward_frames_encode(df.coalesce(1)).collect()
    back = forward_frames_decode(
        spark.createDataFrame([(bytes(frames[0].frame),)], "frame binary")
    ).collect()
    assert back[0].timestamp == t


def test_tag_template_accessors(spark, tmp_path):
    """$TAG / $TAG[n] / strftime expansion is shared across the templated
    sinks: s3 key format, es index, cloudwatch log stream."""
    import datetime as dt

    from pyspark.sql import functions as F

    from fluent_bit_spark.accessor import tag_template
    from fluent_bit_spark.connectors import cloudwatch_events, es_bulk
    from fluent_bit_spark.sinks import write_s3

    df = spark.createDataFrame(
        [("app.web.prod", dt.datetime(2024, 3, 5, 7, 0, 0), "m1"),
         ("app.api.dev", dt.datetime(2024, 3, 6, 7, 0, 0), "m2")],
        "tag string, timestamp timestamp, msg string",
    )
    keys = df.select(
        tag_template("/logs/$TAG[1]/%Y/%m/%d", ts_col="timestamp").alias("k")
    ).collect()
    assert sorted(r.k for r in keys) == ["/logs/api/2024/03/06", "/logs/web/2024/03/05"]

    # out-of-range part expands empty, not NULL
    short = df.select(tag_template("x-$TAG[9]").alias("k")).collect()
    assert all(r.k == "x-" for r in short)

    # s3: distinct expanded keys -> partition dirs
    write_s3(df, str(tmp_path / "s3"), key_format="/$TAG[0]/$TAG[1]")
    dirs = {p.name for p in (tmp_path / "s3").iterdir() if p.is_dir()}
    assert {"s3_key=%2Fapp%2Fweb", "s3_key=%2Fapp%2Fapi"} <= {
        d.replace("/", "%2F") for d in dirs
    } or len(dirs) == 2

    # es: templated index per record
    idx = {r._index for r in es_bulk(df, index="logs-$TAG[2]-%Y").collect()}
    assert idx == {"logs-prod-2024", "logs-dev-2024"}

    # cloudwatch: unchanged $TAG[n] behavior through the shared helper
    cw = cloudwatch_events(df, "grp", log_stream_name="stream-$TAG[1]").collect()
    assert {r.log_stream for r in cw} == {"stream-web", "stream-api"}


def test_cloudwatch_events_shape(spark):
    """out_cloudwatch_logs PutLogEvents shaping: $TAG[n]/$TAG stream
    templates, log_key message extraction, ms timestamps, MAX_EVENT_LEN
    truncation (cloudwatch_api.c:630)."""
    import datetime as dt
    import json as _json

    from fluent_bit_spark.connectors import cloudwatch_events

    t0 = dt.datetime(2024, 1, 1, 0, 0, 1, 250000)
    df = spark.createDataFrame(
        [("kube.web.pod1", t0, "hello", "x" * 50)],
        "tag string, timestamp timestamp, msg string, blob string",
    )
    r = cloudwatch_events(
        df, "my-group", log_stream_name="$TAG[1]/stream-$TAG", log_key="msg"
    ).collect()[0]
    assert r.log_group == "my-group"
    assert r.log_stream == "web/stream-kube.web.pod1"
    assert r.timestamp == 1704067201250
    assert r.message == "hello"

    r2 = cloudwatch_events(
        df, "g", log_stream_prefix="pfx-", max_event_len=10
    ).collect()[0]
    assert r2.log_stream == "pfx-kube.web.pod1"
    assert len(r2.message) == 10  # truncated JSON body
    full = cloudwatch_events(df, "g", log_stream_prefix="p").collect()[0]
    assert _json.loads(full.message) == {"msg": "hello", "blob": "x" * 50}

    with pytest.raises(ValueError):
        cloudwatch_events(df, "g")


def test_stackdriver_entries_severity_and_ts(spark):
    """out_stackdriver LogEntry shaping: the case-insensitive severity alias
    table (stackdriver.c:1471-1520), 9-digit-nano RFC3339 timestamps, and
    jsonPayload of the remaining body."""
    import datetime as dt
    import json as _json

    from fluent_bit_spark.connectors import stackdriver_entries

    t0 = dt.datetime(2024, 1, 1, 12, 30, 45, 123456)
    df = spark.createDataFrame(
        [
            ("app", t0, "eRr", "m1", "tr-1"),
            ("app", t0, "FINEST", "m2", None),
            ("app", t0, "bogus", "m3", None),
        ],
        "tag string, timestamp timestamp, severity string, msg string, trace string",
    )
    rows = stackdriver_entries(
        df, "proj-1", trace_key="trace"
    ).orderBy("json_payload").collect()
    assert [r.severity for r in rows] == [500, 100, None]
    assert rows[0].log_name == "projects/proj-1/logs/app"
    assert rows[0].timestamp == "2024-01-01T12:30:45.123456000Z"
    assert _json.loads(rows[0].json_payload) == {"msg": "m1"}
    assert rows[0].trace == "tr-1"


def test_bigquery_rows_shape(spark):
    import datetime as dt
    import json as _json

    from fluent_bit_spark.connectors import bigquery_rows

    df = spark.createDataFrame(
        [("t", dt.datetime(2024, 1, 1), 7, "ok")],
        "tag string, timestamp timestamp, rid long, status string",
    )
    r = bigquery_rows(df, insert_id_col="rid").collect()[0]
    assert r.insert_id == "7"
    assert _json.loads(r.json) == {"status": "ok"}


def test_kafka_messages_shaping(spark):
    """out_kafka produce_message semantics (plugins/out_kafka/kafka.c:
    187-300): timestamp injection, message_key_field, topic_key with
    dynamic_topic validation, raw format."""
    import datetime as dt
    import json as _json

    from fluent_bit_spark.connectors import kafka_messages

    t0 = dt.datetime(2024, 1, 1, 0, 0, 1, 250000)
    df = spark.createDataFrame(
        [
            ("t", t0, "u1", "logs_b", "hello"),
            ("t", t0, "u2", "other", "raw line"),
            ("t", t0, None, "bad,comma", "x"),
        ],
        "tag string, timestamp timestamp, uid string, dest string, log string",
    )
    rows = kafka_messages(
        df, ["logs_a", "logs_b"], timestamp_format="iso8601",
        message_key="static", message_key_field="uid", topic_key="dest",
    ).collect()
    by_uid = {(_json.loads(r.value)["uid"] if _json.loads(r.value).get("uid") else None): r for r in rows}
    assert by_uid["u1"].topic == "logs_b"      # configured topic matched
    assert by_uid["u2"].topic == "logs_a"      # unknown -> default
    assert by_uid["u1"].key == "u1" and by_uid[None].key == "static"
    assert _json.loads(by_uid["u1"].value)["@timestamp"] == "2024-01-01T00:00:01.250000Z"

    dyn = kafka_messages(
        df, ["logs_a"], topic_key="dest", dynamic_topic=True
    ).collect()
    topics = sorted(r.topic for r in dyn)
    assert topics == ["logs_a", "logs_b", "other"]  # comma topic rejected

    raw = kafka_messages(df, ["logs_a"], raw_log_key="log").collect()
    assert sorted(r.value for r in raw) == ["hello", "raw line", "x"]

    with pytest.raises(ValueError):
        kafka_messages(df, [])
    with pytest.raises(ValueError):
        kafka_messages(df, ["a"], timestamp_format="stardate")


def test_kinesis_records_shape(spark):
    """out_kinesis_streams PutRecords entries (kinesis_api.c): base64 data
    with optional time_key injection, mod-7919 partition key fragments."""
    import base64
    import datetime as dt
    import json as _json

    from fluent_bit_spark.connectors import kinesis_records

    t0 = dt.datetime(2024, 1, 1, 0, 0, 1)
    df = spark.createDataFrame(
        [("app", t0, "hello", 3)],
        "tag string, timestamp timestamp, msg string, n long",
    )
    r = kinesis_records(df, time_key="ts").collect()[0]
    body = _json.loads(base64.b64decode(r.data))
    assert body == {"msg": "hello", "n": 3, "ts": "2024-01-01T00:00:01"}
    a, b = int(r.partition_key[: len(r.partition_key) // 2] or 0), 0
    assert r.partition_key.isdigit()
    assert int(r.partition_key) >= 0  # two concatenated mod-7919 fragments

    raw = kinesis_records(df, log_key="msg").collect()[0]
    assert base64.b64decode(raw.data).decode() == "hello"


def test_azure_records_shape(spark):
    """out_azure Log Analytics records (azure.c:95-160): time_generated
    ISO-ms vs float seconds, per-record log_type resolution."""
    import datetime as dt

    from fluent_bit_spark.connectors import azure_records

    t0 = dt.datetime(2024, 1, 1, 0, 0, 1, 250000)
    df = spark.createDataFrame(
        [("app", t0, "m1", "custom"), ("app", t0, "m2", None)],
        "tag string, timestamp timestamp, msg string, lt string",
    )
    rows = azure_records(
        df, time_generated=True, log_type="dflt", log_type_key="lt"
    ).orderBy("msg").collect()
    assert rows[0]["@timestamp"] == "2024-01-01T00:00:01.250Z"
    assert rows[0].log_type == "custom" and rows[1].log_type == "dflt"
    assert set(rows[0].asDict()) == {"log_type", "@timestamp", "msg"}

    flt = azure_records(df).collect()[0]
    assert abs(flt["@timestamp"] - 1704067201.25) < 1e-9


def test_http_requests_decode(spark):
    """in_http receiver (http_prot.c:630-700): object vs array bodies,
    tag from tag_key field else URI path else default."""
    import json as _json

    from fluent_bit_spark.connectors import http_requests_decode

    df = spark.createDataFrame(
        [
            (1, "/app.logs", '[{"m": "a", "t": "custom"}, {"m": "b"}]'),
            (2, "/", '{"m": "c"}'),
        ],
        "req int, uri string, body string",
    )
    rows = http_requests_decode(
        df, uri_col="uri", tag_key="t"
    ).orderBy("record").collect()
    got = [(r.tag, _json.loads(r.record)["m"]) for r in rows]
    assert got == [("custom", "a"), ("app.logs", "b"), ("http.0", "c")]
    assert rows[0].req == 1 and rows[2].req == 2


def test_td_nats_slack_logdna_shapes(spark):
    """Remaining wire shapes: td msgpack maps (td.c:44-90), nats
    [[ts, record]] arrays (nats.c:81-150), slack text fold
    (slack.c:158-232), logdna promoted-key lines (logdna.c:62-180)."""
    import datetime as dt
    import json as _json

    from fluent_bit_spark.connectors import (
        logdna_lines, nats_body, slack_text, td_records,
    )
    from fluent_bit_spark.functions.msgpack_codec import unpack_one

    t0 = dt.datetime(2024, 1, 1, 0, 0, 1, 250000)
    df = spark.createDataFrame(
        [("app.a", t0, "boot", 1), ("app.a", t0 + dt.timedelta(seconds=1), "ready", 2)],
        "tag string, timestamp timestamp, msg string, n long",
    )

    td = td_records(df).collect()
    maps = sorted((unpack_one(bytes(r.msgpack))[0] for r in td), key=lambda m: m["n"])
    assert maps[0] == {"msg": "boot", "n": 1, "time": 1704067201}

    nb = nats_body(df).collect()[0]
    arr = _json.loads(nb.body)
    assert nb.subject == "app.a" and len(arr) == 2
    assert arr[0][0] == 1704067201.25 and arr[0][1] == {"msg": "boot", "n": 1}

    sl = _json.loads(slack_text(df).collect()[0].payload)
    l1, l2 = sl["text"].split("\n")
    assert l1 == '[1704067201.250000, {"msg":"boot","n":1}]'

    ld = spark.createDataFrame(
        [("t", t0, "warn", "disk", "svc", 9)],
        "tag string, timestamp timestamp, severity string, msg string, app string, n long",
    )
    r = logdna_lines(ld).collect()[0]
    assert r.timestamp == 1704067201250
    assert r.level == "warn" and r.app == "svc"
    assert _json.loads(r.line) == {"msg": "disk", "n": 9}
    r2 = logdna_lines(df).collect()[0]
    assert r2.app == "Fluent Bit" and "level" not in r2.asDict()


def test_remote_write_roundtrip(spark):
    """Prometheus remote-write WriteRequest: hand-rolled protobuf + raw
    snappy blocks; encode -> decode recovers every sample with labels."""
    import datetime as dt
    import json as _json

    from fluent_bit_spark.connectors import remote_write_decode, remote_write_encode

    t0 = dt.datetime(2024, 1, 1, 0, 0, 1, 250000)
    df = spark.createDataFrame(
        [
            ("http_requests_total", "api", "200", t0, 5.0),
            ("http_requests_total", "api", "500", t0, 1.0),
            ("http_requests_total", "api", "200", t0 + dt.timedelta(seconds=60), 7.0),
            ("node_load1", "api", None, t0, 0.25),
        ],
        "metric string, svc string, code string, timestamp timestamp, value double",
    )
    bodies = remote_write_encode(df, label_cols=["svc", "code"])
    assert bodies.count() == 2  # one request per metric batch
    back = remote_write_decode(bodies.select("body")).orderBy("metric", "labels", "timestamp")
    rows = back.collect()
    assert len(rows) == 4
    r = rows[0]
    assert r.metric == "http_requests_total"
    assert _json.loads(r.labels) == {"svc": "api", "code": "200"}
    assert (r.value, r.timestamp) == (5.0, t0.replace(microsecond=250000))
    assert rows[1].timestamp == t0 + dt.timedelta(seconds=60)
    assert rows[3].metric == "node_load1" and rows[3].value == 0.25


def test_otlp_traces_roundtrip_with_hierarchy(spark):
    import datetime as dt

    from fluent_bit_spark.connectors import otlp_traces_decode, otlp_traces_encode

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    spans = spark.createDataFrame(
        [
            ("t1", "s1", "", "root", t0, t0 + dt.timedelta(seconds=2), 1, 0, "web"),
            ("t1", "s2", "s1", "db.query", t0, t0 + dt.timedelta(seconds=1), 3, 2, "web"),
        ],
        ["trace_id", "span_id", "parent", "name", "start_ts", "end_ts",
         "kind", "status", "svc"],
    )
    enc = otlp_traces_encode(
        spans,
        parent_col="parent",
        kind_col="kind",
        status_code_col="status",
        attr_cols=["svc"],
        resource_attributes={"service.name": "api"},
    )
    assert enc.count() == 1  # one request batch
    dec = {r["span_id"]: r for r in otlp_traces_decode(enc).collect()}
    assert dec["s2"]["parent_span_id"] == "s1" and dec["s1"]["parent_span_id"] == ""
    assert dec["s2"]["kind"] == 3 and dec["s2"]["status_code"] == 2
    assert dec["s2"]["attributes"]["svc"] == "web"
    assert dec["s1"]["resource"]["service.name"] == "api"
    assert (dec["s1"]["end_ts"] - dec["s1"]["start_ts"]).total_seconds() == 2.0


def test_with_request_batches_bounds_request_sizes(spark):
    """Size-bounded request batching: each batch key holds at most
    records_per_request rows, group columns sub-key the batches, and the
    decoded row set is identical regardless of batching."""
    import pytest
    from pyspark.sql import functions as F

    from fluent_bit_spark.connectors import with_request_batches

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("tenant")
    )
    out = with_request_batches(df, 100, "id", group_cols=["tenant"])
    sizes = out.groupBy("req_batch").count().collect()
    assert all(r["count"] <= 100 for r in sizes)
    # batches never mix tenants
    mixed = (
        out.groupBy("req_batch")
        .agg(F.count_distinct("tenant").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert mixed == 0
    # batch count scales with rows (the point: request size stays fixed)
    assert len(sizes) >= 30

    with pytest.raises(ValueError, match="records_per_request"):
        with_request_batches(df, 0, "id")

    # negative and huge ids: floor semantics keep the bound exact — ids
    # straddling 0 must NOT merge into one double-sized batch, and ids
    # above 2^53 must not drift across float-division boundaries
    wide = spark.range(-150, 150).select(F.col("id")).unionByName(
        spark.range(3).select((F.lit(2**62) + F.col("id") * 50).alias("id"))
    )
    wout = with_request_batches(wide, 100, "id")
    wsizes = {r["req_batch"]: r["count"] for r in wout.groupBy("req_batch").count().collect()}
    assert all(c <= 100 for c in wsizes.values()), wsizes
    # -100..-1 and 0..99 are distinct batches (floor, not truncate-to-zero)
    b_neg = wout.filter("id = -1").select("req_batch").first()[0]
    b_pos = wout.filter("id = 0").select("req_batch").first()[0]
    assert b_neg != b_pos
    # 2^62-range ids land in exact div-derived batches (no float drift):
    # 0..149 -> 2 batches; 2^62+{0,50} share one, 2^62+100 starts another
    assert wout.filter("id >= 0").select("req_batch").distinct().count() == 4


def test_otlp_metrics_gauge_and_counter_shapes(spark):
    import datetime as dt

    from fluent_bit_spark.connectors import otlp_metrics_decode, otlp_metrics_encode

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("reqs", "counter", t0, 10.0, "web"),
        ("reqs", "counter", t0 + dt.timedelta(minutes=1), 14.0, "web"),
        ("mem", "gauge", t0, 0.5, "web"),
    ]
    df = spark.createDataFrame(
        rows, ["metric_name", "mtype", "timestamp", "value", "host"]
    )
    enc = otlp_metrics_encode(df, metric_type_col="mtype", label_cols=["host"],
                              resource_attributes={"service.name": "api"})
    assert enc.count() == 2  # one request per metric
    import json as _json
    reqs_json = _json.loads(
        enc.filter(F.col("metric") == "reqs").collect()[0]["otlp_json"]
    )
    m = reqs_json["resourceMetrics"][0]["scopeMetrics"][0]["metrics"][0]
    assert "sum" in m and m["sum"]["isMonotonic"] and "gauge" not in m
    dec = otlp_metrics_decode(enc).collect()
    got = {(r["metric_name"], r["value"]): r for r in dec}
    assert got[("reqs", 14.0)]["metric_type"] == "counter"
    assert got[("mem", 0.5)]["metric_type"] == "gauge"
    assert got[("mem", 0.5)]["attributes"]["host"] == "web"
    assert len(dec) == 3


def test_prom_exposition_decode_escapes_and_malformed(spark):
    from fluent_bit_spark.connectors import prom_exposition_decode

    df = spark.createDataFrame(
        [
            ("# TYPE reqs counter",),
            ('reqs{env="prod",msg="a\\"b\\\\c\\nd"} 42 1700000000000',),
            ("reqs 7",),
            ("# HELP reqs something",),
            ("reqs{env=\"x\"} not_a_number",),
            ("",),
        ],
        ["line"],
    )
    rows = prom_exposition_decode(df).collect()
    by_val = {r["value"]: r for r in rows}
    r = by_val[42.0]
    assert r["metric_type"] == "counter" and r["ts_ms"] == 1700000000000
    assert r["labels"]["msg"] == 'a"b\\c\nd'   # spec unescaping
    assert by_val[7.0]["labels"] == {}
    assert by_val[None]["labels"]["env"] == "x"  # malformed value -> NULL
    assert len(rows) == 3


def test_prom_pages_duplicate_type_declarations_survive(spark):
    """A page declaring the same metric with two TYPEs (buggy exporter,
    concatenated targets) must decode with first-declaration-wins — not
    die on Spark's duplicate-map-key exception, which would kill the
    streaming query this decoder exists to keep alive."""
    from fluent_bit_spark.connectors import prom_exposition_decode_pages

    page = (
        "# TYPE reqs counter\n"
        "reqs 1\n"
        "# TYPE reqs gauge\n"   # conflicting redeclaration
        "reqs 2\n"
    )
    rows = prom_exposition_decode_pages(
        spark.createDataFrame([(page,)], ["page"])
    ).collect()
    assert len(rows) == 2
    assert all(r.metric_type == "counter" for r in rows)  # first wins


def test_prom_exposition_decode_family_types_and_junk_lines(spark):
    """Histogram/summary child series (_bucket/_sum/_count) inherit the
    family's # TYPE; a plain counter that happens to end in _count does
    not; lines failing the sample regex are dropped, not emitted as
    nameless NULL rows."""
    from fluent_bit_spark.connectors import prom_exposition_decode

    df = spark.createDataFrame(
        [
            ("# TYPE http_req_duration histogram",),
            ('http_req_duration_bucket{le="0.1"} 3',),
            ("http_req_duration_sum 1.5",),
            ("http_req_duration_count 3",),
            ("# TYPE rpc summary",),
            ('rpc{quantile="0.5"} 0.2',),
            ("rpc_count 9",),
            ("# TYPE jobs_count counter",),
            ("jobs_count 4",),
            ("untyped_count 2",),
            ("just_a_name_no_value",),
        ],
        ["line"],
    )
    rows = prom_exposition_decode(df).collect()
    types = {r["metric_name"]: r["metric_type"] for r in rows}
    assert types["http_req_duration_bucket"] == "histogram"
    assert types["http_req_duration_sum"] == "histogram"
    assert types["http_req_duration_count"] == "histogram"
    assert types["rpc"] == "summary"
    assert types["rpc_count"] == "summary"
    assert types["jobs_count"] == "counter"  # exact header wins
    assert types["untyped_count"] is None    # no family declared
    assert "just_a_name_no_value" not in types and len(rows) == 7


def test_otlp_histogram_bucket_differencing(spark):
    from fluent_bit_spark.connectors import (
        otlp_histogram_decode,
        otlp_histogram_encode,
    )
    from fluent_bit_spark.operators.log_to_metrics import log_to_metrics

    df = spark.createDataFrame(
        [("a", float(v)) for v in [1, 5, 20, 20, 99]], ["grp", "v"]
    )
    hist = log_to_metrics(
        df, "histogram", "h", label_keys=["grp"], value_field="v",
        buckets=(10.0, 50.0),
    )
    enc = otlp_histogram_encode(hist, (10.0, 50.0), label_cols=["grp"])
    import json as _json
    dp = _json.loads(enc.collect()[0]["otlp_json"])[
        "resourceMetrics"][0]["scopeMetrics"][0]["metrics"][0]["histogram"]["dataPoints"][0]
    # cumulative (2, 4, 5) -> per-bucket (2, 2, 1)
    assert dp["bucketCounts"] == ["2", "2", "1"]
    assert dp["explicitBounds"] == [10.0, 50.0]
    dec = otlp_histogram_decode(enc).collect()
    got = {r["le"]: r["cumulative_count"] for r in dec}
    assert got == {"10.0": 2, "50.0": 4, "inf": 5}
    assert all(r["count"] == 5 for r in dec)


def test_es_bulk_decode_crlf_bodies(spark):
    """r12 review fix: the bulk spec allows CRLF line endings — '\\r'
    lines must not survive the blank filter as phantom NULL-meta delete
    rows, and doc lines must not carry a trailing '\\r'."""
    from fluent_bit_spark.connectors import es_bulk_decode

    bulk = (
        '{"index":{"_index":"logs","_id":"a1"}}\r\n'
        '{"msg":"hello"}\r\n'
        '{"delete":{"_index":"logs","_id":"a2"}}\r\n'
    )
    df = spark.createDataFrame([(1, bulk)], "req_id int, bulk_body string")
    rows = es_bulk_decode(df).orderBy("es_id").collect()
    assert [(r.op, r.es_index, r.es_id) for r in rows] == [
        ("index", "logs", "a1"), ("delete", "logs", "a2"),
    ]
    assert json.loads(rows[0].doc) == {"msg": "hello"}


def test_fractional_seconds_pre_1970(spark):
    """r12 review fix: Spark's % keeps the dividend sign, so pre-1970
    fractions rendered '.-500000' in six encoders; the shared pmod
    helper makes the wall-clock fraction non-negative everywhere."""
    import datetime as dt

    from fluent_bit_spark.sinks import json_date_value

    df = spark.createDataFrame(
        [(dt.datetime(1969, 12, 31, 23, 59, 59, 500000),),
         (dt.datetime(2024, 1, 1, 0, 0, 1, 250000),)],
        "ts timestamp",
    )
    vals = [r.v for r in df.select(
        json_date_value(F.col("ts"), "iso8601").alias("v")
    ).orderBy("ts").collect()]
    assert vals[0] == "1969-12-31T23:59:59.500000Z"
    assert vals[1] == "2024-01-01T00:00:01.250000Z"
    # epoch floors toward -inf (wall clock), not toward zero
    ep = [r.v for r in df.select(
        json_date_value(F.col("ts"), "epoch").alias("v")
    ).orderBy("ts").collect()]
    assert ep == [-1, 1704067201]


def test_template_line_null_placeholder(spark):
    """r12 review fix: a NULL placeholder renders '' instead of NULLing
    the whole line (null-intolerant F.concat)."""
    from fluent_bit_spark.sinks import template_line

    df = spark.createDataFrame(
        [("a", None), ("b", "x")], "k string, v string"
    )
    lines = sorted(
        r.l for r in df.select(
            template_line(df, "{k}=[{v}]").alias("l")
        ).collect()
    )
    assert lines == ["a=[]", "b=[x]"]


def test_remote_write_labels_sorted(spark):
    """r12 review fix: the remote-write spec requires labels sorted by
    name — an uppercase-initial label must precede __name__ in the
    encoded TimeSeries (receivers reject out-of-order label sets)."""
    import datetime as dt

    import pyarrow as pa

    from fluent_bit_spark.connectors import (
        remote_write_decode, remote_write_encode,
    )
    from fluent_bit_spark.functions.msgpack_codec import pb_read_varint

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [("m_total", "east", t0, 1.0)],
        "metric string, Region string, timestamp timestamp, value double",
    )
    body = bytes(
        remote_write_encode(df, label_cols=["Region"]).collect()[0].body
    )
    size, _ = pb_read_varint(body, 0)
    raw = bytes(pa.Codec("snappy").decompress(body, size))
    assert raw.index(b"Region") < raw.index(b"__name__")
    back = remote_write_decode(
        spark.createDataFrame([(body,)], "body binary")
    ).collect()[0]
    assert back.metric == "m_total"
    assert json.loads(back.labels) == {"Region": "east"}


def test_msgpack_decode_skips_out_of_range_timestamps(spark):
    """r12 review fix: a sender emitting epoch MILLISECONDS as the
    integer timestamp (classic fluentd misconfig) must skip that event
    per the skip-corrupt contract, not kill the task with 'year out of
    range'."""
    from fluent_bit_spark.connectors import msgpack_events_decode
    from fluent_bit_spark.functions.msgpack_codec import pack

    good = pack([1704448800, {"msg": "ok"}])
    bad = pack([1723804800000, {"msg": "ms-epoch"}])  # year 56604
    df = spark.createDataFrame([(good + bad + good,)], "chunk binary")
    rows = msgpack_events_decode(df, bin_col="chunk").collect()
    assert len(rows) == 2
    assert all(json.loads(r.body)["msg"] == "ok" for r in rows)


def test_avro_timestamp_millis_logical(spark):
    """r12 review fix: timestamp-millis fields encode as epoch ms (not
    whole seconds, which a conforming reader would interpret 1000x off)
    and decode back to timestamps."""
    import datetime as dt

    from fluent_bit_spark.connectors import avro_ocf_decode, avro_ocf_encode
    from fluent_bit_spark.functions.avro_codec import read_ocf

    schema = {
        "type": "record", "name": "r", "fields": [
            {"name": "ts_ms",
             "type": {"type": "long", "logicalType": "timestamp-millis"}},
            {"name": "n", "type": "long"},
        ],
    }
    t0 = dt.datetime(2026, 1, 1, 12, 30, 15, 250000)
    df = spark.createDataFrame([(t0, 7)], "ts_ms timestamp, n long")
    blob = bytes(avro_ocf_encode(df, schema).collect()[0].avro)
    _, records = read_ocf(blob)
    assert records[0]["ts_ms"] == int(t0.replace(
        tzinfo=dt.timezone.utc).timestamp() * 1000)
    back = avro_ocf_decode(
        spark.createDataFrame([(blob,)], "avro binary"),
        "ts_ms timestamp, n long",
    ).collect()[0]
    assert back.ts_ms == t0.replace(microsecond=250000)


def test_influxdb_monotonic_ts_bump_no_collision(spark):
    """r12 review fix: the dedupe bump is emitted_i = max(ns_i,
    emitted_{i-1}+1) per (measurement, tagset) — a bumped value can no
    longer collide with a later point's genuine ns (100,100,101 ->
    100,101,102, exactly the C sequential walk)."""
    import datetime as dt

    from fluent_bit_spark.connectors import influxdb_line

    base = dt.datetime(2024, 1, 1)
    rows = [
        ("cpu", base, 0, 1.0),
        ("cpu", base, 1, 2.0),
        ("cpu", base + dt.timedelta(microseconds=0), 2, 3.0),
    ]
    df = spark.createDataFrame(rows, "tag string, timestamp timestamp, ord int, v double")
    # plant: two at ns N, one at N+1000ns (1 us later)
    rows[2] = ("cpu", base + dt.timedelta(microseconds=1), 2, 3.0)
    df = spark.createDataFrame(rows, "tag string, timestamp timestamp, ord int, v double")
    out = influxdb_line(df, field_cols=["v"], dedupe_ts_order="ord").collect()
    ns = sorted(int(r.line.rsplit(" ", 1)[1]) for r in out)
    base_ns = ns[0]
    assert ns == [base_ns, base_ns + 1, base_ns + 1000]
    # the C walk on 100,100,101-style triples (all within 1 ns apart)
    rows = [
        ("cpu", base, 0, 1.0),
        ("cpu", base, 1, 2.0),
        ("cpu", base, 2, 3.0),
    ]
    df = spark.createDataFrame(rows, "tag string, timestamp timestamp, ord int, v double")
    out = influxdb_line(df, field_cols=["v"], dedupe_ts_order="ord").collect()
    ns2 = sorted(int(r.line.rsplit(" ", 1)[1]) for r in out)
    assert ns2 == [base_ns, base_ns + 1, base_ns + 2]
    assert len(set(ns2)) == 3


def test_splunk_hec_decode_exact_and_string_time(spark):
    """r12 review fix: fractional HEC times round to the sender's
    microsecond (no truncation off-by-one), and string-typed time
    values ('1723804800.123') parse instead of NULLing out."""
    from fluent_bit_spark.connectors import splunk_hec_decode

    df = spark.createDataFrame(
        [
            (1, '{"time":1723804800.123,"host":"h","event":"e"}'),
            (2, '{"time":"1723804800.5","host":"h2","event":"e2"}'),
        ],
        "id int, hec_json string",
    )
    rows = splunk_hec_decode(df).orderBy("id").collect()
    assert rows[0].timestamp.microsecond == 123000
    assert rows[1].timestamp.microsecond == 500000
    assert rows[1].host == "h2"
