"""Structured Streaming smoke tests: file-tail source, windowed aggregation,
stateful throttle/snapshot/multiline, sinks. Uses availableNow + memory
sinks so each test is one bounded micro-batch run.
"""

import json
import time

import pytest
from pyspark.sql import functions as F

from fluent_bit_spark.model import TAG_COL, TS_COL
from fluent_bit_spark.streaming.sources import tail_source
from fluent_bit_spark.streaming.windows import sp_stream_query, windowed_counts
from fluent_bit_spark.streaming.stateful import (
    multiline_stream,
    snapshot_stream,
    throttle_stream,
)


def _run_to_memory(sdf, name, mode="append"):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


@pytest.fixture(scope="module")
def jsonl_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_in")
    rows = [
        {"event_type": "error" if i % 3 == 0 else "click", "value": float(i), "sec": i}
        for i in range(30)
    ]
    with open(d / "batch1.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return str(d)


def test_tail_source_and_sp_window(spark, jsonl_dir):
    sdf = tail_source(
        spark, jsonl_dir, fmt="json",
        schema="event_type string, value double, sec long",
        tag_template="tail.app",
    )
    # event-time column derived from payload for deterministic windows
    sdf = sdf.withColumn(
        TS_COL, F.timestamp_seconds(F.unix_timestamp(F.lit("2024-01-01 00:00:00")) + F.col("sec"))
    )
    out = sp_stream_query(
        sdf,
        "SELECT event_type, COUNT(*) AS cnt FROM STREAM:any "
        "WINDOW TUMBLING (10 SECOND) GROUP BY event_type;",
        watermark="1 minute",
    )
    _run_to_memory(out, "spwin", mode="complete")
    rows = spark.sql("SELECT * FROM spwin").collect()
    assert sum(r.cnt for r in rows) == 30
    assert {r.event_type for r in rows} == {"error", "click"}
    assert all(r.window_end > r.window_start for r in rows)


def test_windowed_counts_hopping(spark, jsonl_dir):
    sdf = tail_source(
        spark, jsonl_dir, fmt="json",
        schema="event_type string, value double, sec long",
    ).withColumn(
        TS_COL, F.timestamp_seconds(F.unix_timestamp(F.lit("2024-01-01 00:00:00")) + F.col("sec"))
    )
    out = windowed_counts(sdf, size_sec=10, advance_sec=5, keys=["event_type"])
    _run_to_memory(out, "hopwin", mode="complete")
    rows = spark.sql("SELECT * FROM hopwin").collect()
    assert sum(r.cnt for r in rows) == 60  # each record in 2 hopping windows


def test_throttle_stream(spark, jsonl_dir):
    sdf = tail_source(
        spark, jsonl_dir, fmt="json",
        schema="event_type string, value double, sec long",
    ).withColumn(
        TS_COL,
        F.timestamp_seconds(F.unix_timestamp(F.lit("2024-01-01 00:00:00")) + F.col("sec") % 3),
    ).withColumn(TAG_COL, F.col("event_type"))
    out = throttle_stream(sdf, rate=2, interval_sec=1, key=TAG_COL)
    _run_to_memory(out, "thr")
    rows = spark.sql("SELECT * FROM thr").collect()
    # 2 tags x 3 panes x rate 2 = at most 12 pass
    assert 0 < len(rows) <= 12


def test_snapshot_stream(spark, tmp_path):
    d = tmp_path / "snap_in"
    d.mkdir()
    vals = ["a", "b", "c", "FLUSH", "d"]
    with open(d / "in.json", "w") as f:
        for i, v in enumerate(vals):
            f.write(json.dumps({"value": v, "sec": i}) + "\n")
    sdf = tail_source(spark, str(d), fmt="json", schema="value string, sec long").withColumn(
        TS_COL, F.timestamp_seconds(F.unix_timestamp(F.lit("2024-01-01 00:00:00")) + F.col("sec"))
    )
    out = snapshot_stream(sdf, limit=10, flush_value="FLUSH", key=TAG_COL)
    _run_to_memory(out, "snap")
    rows = spark.sql("SELECT * FROM snap ORDER BY timestamp").collect()
    assert [r.value for r in rows] == ["a", "b", "c"]  # buffer emitted at FLUSH


def test_multiline_stream(spark, tmp_path):
    d = tmp_path / "ml_in"
    d.mkdir()
    lines = [
        "Exception in thread main",
        "  at Foo.bar(Foo.java:1)",
        "  at Baz.qux(Baz.java:2)",
        "NextRecord starts here",
        "  continuation",
        "FinalRecord pending",  # stays buffered (no following start line)
    ]
    with open(d / "log.json", "w") as f:
        for i, ln in enumerate(lines):
            f.write(json.dumps({"line": ln, "sec": i}) + "\n")
    sdf = tail_source(spark, str(d), fmt="json", schema="line string, sec long").withColumn(
        TS_COL, F.timestamp_seconds(F.unix_timestamp(F.lit("2024-01-01 00:00:00")) + F.col("sec"))
    )
    out = multiline_stream(sdf, start_pattern=r"^\S", key=TAG_COL)
    _run_to_memory(out, "ml")
    rows = spark.sql("SELECT * FROM ml ORDER BY n_lines DESC").collect()
    assert len(rows) == 2
    assert rows[0].n_lines == 3 and "Foo.java:1" in rows[0].message
    assert rows[1].n_lines == 2 and rows[1].message.startswith("NextRecord")


def test_sinks_roundtrip(spark, tmp_path):
    from fluent_bit_spark.sinks import write_file

    df = spark.createDataFrame(
        [("a.x", 1, "hello"), ("a.y", 2, "world")], ["tag", "n", "msg"]
    )
    p1 = str(tmp_path / "out_json")
    write_file(df, p1, fmt="json", partition_by_tag=True)
    back = spark.read.json(p1)
    assert back.count() == 2
    assert set(spark.read.json(p1).columns) >= {"n", "msg"}

    p2 = str(tmp_path / "out_ltsv")
    write_file(df.select("n", "msg"), p2, fmt="ltsv")
    lines = [r.value for r in spark.read.text(p2).collect()]
    assert sorted(lines) == ["n:1\tmsg:hello", "n:2\tmsg:world"]

    p3 = str(tmp_path / "out_tpl")
    write_file(df, p3, fmt="template", template="[{tag}] {msg} ({n})")
    lines = sorted(r.value for r in spark.read.text(p3).collect())
    assert lines == ["[a.x] hello (1)", "[a.y] world (2)"]


def test_gelf_sink(spark, tmp_path):
    import json as _json

    from fluent_bit_spark.sinks import write_file

    df = spark.createDataFrame(
        [("web1", 1.5, 6, "disk full", "app.disk")],
        ["host", "timestamp", "level", "short_message", "tag"],
    )
    p = str(tmp_path / "out_gelf")
    write_file(df, p, fmt="gelf")
    rec = _json.loads(spark.read.text(p).collect()[0].value)
    assert rec["version"] == "1.1" and rec["host"] == "web1"
    assert rec["timestamp"] == 1.5 and rec["short_message"] == "disk full"
    assert rec["_tag"] == "app.disk"  # non-promoted keys get underscore prefix


def test_loki_streams(spark):
    from fluent_bit_spark.sinks import loki_streams

    df = spark.createDataFrame(
        [("app", "web1", 2.0, "second"), ("app", "web1", 1.0, "first"), ("db", "db1", 1.0, "q")],
        ["job", "host", "timestamp", "msg"],
    )
    out = loki_streams(df, ["job", "host"]).collect()
    streams = {tuple(sorted(r.stream.items())): r.values for r in out}
    web = streams[(("host", "web1"), ("job", "app"))]
    assert [v[1] for v in web] == ["first", "second"]  # time-ordered
    assert web[0][0] == "1000000000"  # epoch ns as string
    assert len(streams) == 2


def test_dedup_stream(spark, tmp_path):
    from fluent_bit_spark.streaming.stateful import dedup_stream

    d = tmp_path / "dedup_in"
    d.mkdir()
    rows = [
        {"text": "alpha beta", "sec": 0},
        {"text": "Alpha   beta", "sec": 1},   # normalized duplicate
        {"text": "gamma delta", "sec": 2},
        {"text": "alpha beta", "sec": 3},     # duplicate again
        {"text": "unique one", "sec": 4},
    ]
    with open(d / "in.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    sdf = tail_source(spark, str(d), fmt="json", schema="text string, sec long").withColumn(
        TS_COL, F.timestamp_seconds(F.unix_timestamp(F.lit("2024-01-01 00:00:00")) + F.col("sec"))
    )
    out = dedup_stream(sdf, watermark="1 hour")
    _run_to_memory(out, "dd")
    texts = sorted(r.text for r in spark.sql("SELECT * FROM dd").collect())
    assert texts == ["alpha beta", "gamma delta", "unique one"]


def test_streaming_url_dedup(spark, tmp_path):
    """The crawl-stream shape: canonicalize URLs statelessly in-stream
    (with_canonical_url is pure projections, streaming-legal), then
    dropDuplicatesWithinWatermark on the canonical form — case/port/
    tracking-param variants of one page collapse to a single record with
    watermark-bounded state."""
    from fluent_bit_spark.extensions.urls import with_canonical_url

    d = tmp_path / "crawl_in"
    d.mkdir()
    rows = [
        {"url": "HTTPS://A.com:443/x/?utm_source=f&b=1", "sec": 0},
        {"url": "https://a.com/x?b=1", "sec": 1},          # same canonical
        {"url": "https://a.com/y?b=1", "sec": 2},
        {"url": "not a url", "sec": 3},                    # invalid, dropped
        {"url": "https://a.com/x?b=1&fbclid=z", "sec": 4}, # same canonical
    ]
    with open(d / "in.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    sdf = tail_source(
        spark, str(d), fmt="json", schema="url string, sec long"
    ).withColumn(
        TS_COL,
        F.timestamp_seconds(
            F.unix_timestamp(F.lit("2024-01-01 00:00:00")) + F.col("sec")
        ),
    )
    canon = with_canonical_url(sdf, "url", validity_col="ok")
    out = (
        canon.filter(F.col("ok"))
        .withWatermark(TS_COL, "1 hour")
        .dropDuplicatesWithinWatermark(["norm_url"])
    )
    _run_to_memory(out, "urldd")
    urls = sorted(r.norm_url for r in spark.sql("SELECT * FROM urldd").collect())
    assert urls == ["https://a.com/x?b=1", "https://a.com/y?b=1"]


def test_streaming_lm_quality_scoring(spark, tmp_path):
    """LM quality filtering on a document stream: the unigram model is a
    BATCH-built vocab table, the stream scores against it via a
    stream-static broadcast join + windowless per-doc aggregation — the
    deploy shape for quality-gating an ingest pipeline (model refreshes
    are a batch concern; the stream only reads it)."""
    import math

    from fluent_bit_spark.extensions.dedup import normalize_text
    from fluent_bit_spark.extensions.text import unigram_counts

    target = spark.createDataFrame(
        [(100, "the cat sat on the mat"), (101, "the dog sat on the rug")],
        ["doc_id", "text"],
    )
    counts = unigram_counts(target)
    stats = counts.groupBy().agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("v")
    ).collect()[0]
    denom = float(stats["n"] + stats["v"])
    model = counts.select("word", F.log((F.col("c") + 1) / F.lit(denom)).alias("logp"))

    d = tmp_path / "lm_in"
    d.mkdir()
    rows = [
        {"doc_id": 1, "text": "the cat sat on the rug", "sec": 0},
        {"doc_id": 2, "text": "zyx wvu tsr qpo nml kji", "sec": 1},
    ]
    with open(d / "in.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    sdf = tail_source(
        spark, str(d), fmt="json", schema="doc_id long, text string, sec long"
    )
    words = sdf.select(
        "doc_id",
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("word"),
    ).filter(F.col("word") != "")
    scored = (
        words.join(F.broadcast(model), "word", "left")
        .groupBy("doc_id")
        .agg(F.avg(F.coalesce("logp", F.lit(math.log(1.0 / denom)))).alias("avg_logp"))
    )
    _run_to_memory(scored, "lm_stream", mode="complete")
    got = {r.doc_id: r.avg_logp for r in spark.sql("SELECT * FROM lm_stream").collect()}
    assert got[1] > got[2]                       # in-vocab beats word salad
    assert abs(got[2] - math.log(1 / 19)) < 1e-12  # pure-OOV doc exact


def test_head_source_modes(spark, tmp_path):
    """in_head (plugins/in_head/in_head.c): first N lines per file, joined
    under a key or split one-record-per-line."""
    from fluent_bit_spark.streaming.sources import head_source

    (tmp_path / "a.log").write_text("l1\nl2\nl3\nl4\n")
    (tmp_path / "b.log").write_text("x1\nx2\n")
    joined = head_source(spark, str(tmp_path / "*.log"), lines=2).collect()
    got = {r.file.rsplit("/", 1)[-1]: r.head for r in joined}
    assert got == {"a.log": "l1\nl2", "b.log": "x1\nx2"}

    split = head_source(
        spark, str(tmp_path / "a.log"), lines=3, split_line=True
    ).orderBy("line_no").collect()
    assert [r.head for r in split] == ["l1", "l2", "l3"]
    assert split[0].tag == "head.0"


def test_forward_frames_stream_decode(spark, tmp_path):
    """The fluentd-replay scenario: forward wire frames land as files, a
    file stream decodes them (mapInPandas works unchanged on streaming
    frames) and feeds an event-time windowed count with a watermark."""
    import datetime as dt

    from pyspark.sql import functions as F

    from fluent_bit_spark.connectors import forward_frames_decode, forward_frames_encode

    base = dt.datetime(2024, 5, 1, 12, 0, 0)
    rows = [
        ("svc.a", base + dt.timedelta(seconds=10 * i), f"msg{i}") for i in range(12)
    ]
    df = spark.createDataFrame(rows, "tag string, timestamp timestamp, msg string")
    frames = forward_frames_encode(df.coalesce(1), events_per_frame=4)
    src = tmp_path / "frames"
    frames.write.mode("overwrite").format("parquet").save(str(src))

    sdf = (
        spark.readStream.schema("tag string, frame binary")
        .format("parquet")
        .load(str(src))
    )
    decoded = forward_frames_decode(sdf.select("frame"))
    agg = (
        decoded.withWatermark("timestamp", "1 minute")
        .groupBy(F.window("timestamp", "60 seconds"), "tag")
        .agg(F.count("*").alias("n"))
    )
    # complete mode: one availableNow microbatch never advances the
    # watermark past the windows, so append would emit nothing yet
    _run_to_memory(agg, "fwd_stream", mode="complete")
    out = spark.sql("SELECT tag, n FROM fwd_stream ORDER BY n").collect()
    # 12 events at 10s spacing -> windows of 6 events each
    assert [r.n for r in out] == [6, 6] and all(r.tag == "svc.a" for r in out)


def test_exec_source_stub_and_random_shape(spark):
    import pytest as _pytest

    from fluent_bit_spark.streaming.sources import exec_source, random_source

    df = exec_source(spark, ["out1", "out2"], tag="exec.cmd")
    rows = df.collect()
    assert [r.exec for r in rows] == ["out1", "out2"]
    assert all(r.tag == "exec.cmd" for r in rows)
    with _pytest.raises(ValueError):
        exec_source(spark)
    # live mode is an explicit opt-in (never executor-side)
    with _pytest.raises(PermissionError):
        exec_source(spark, command="echo hi")
    live = exec_source(
        spark, command="printf 'a\\nb\\n'; exit 3", allow_exec=True,
        propagate_exit_code=True,
    ).collect()
    assert [r.exec for r in live] == ["a", "b"]
    assert all(r.exit_code == 3 for r in live)

    stream = random_source(spark, rows_per_second=5)
    assert stream.isStreaming
    assert set(stream.columns) == {"tag", "timestamp", "rand_value"}


def test_streaming_sketch_distinct_window(spark, jsonl_dir):
    """HLL distinct-count sketches run inside a streaming event-time
    window aggregate (mergeable partial aggregation is exactly what the
    state store needs — KB-bounded per-window state)."""
    from fluent_bit_spark.streaming.sources import tail_source

    sdf = tail_source(
        spark, jsonl_dir, fmt="json",
        schema="event_type string, value double, sec long",
        tag_template="sk.stream",
    ).withColumn(
        TS_COL,
        F.timestamp_seconds(
            F.unix_timestamp(F.lit("2024-01-01 00:00:00")) + F.col("sec")
        ),
    )
    agg = (
        sdf.withWatermark(TS_COL, "1 minute")
        .groupBy(F.window(TS_COL, "10 seconds"), "event_type")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg(F.col("value").cast("long"), F.lit(12))
            ).alias("n_distinct")
        )
    )
    _run_to_memory(agg, "sk_stream", mode="complete")
    rows = spark.sql("SELECT * FROM sk_stream").collect()
    assert rows, "no windows emitted"
    # 30 rows, sec 0..29 -> three 10s windows; values are all distinct, so
    # per-(window, type) distinct == row count in that slice (sparse-exact)
    got = {(r["window"].start.second, r["event_type"]): r["n_distinct"] for r in rows}
    assert got[(0, "error")] == 4    # sec 0,3,6,9
    assert got[(0, "click")] == 6
    assert sum(v for (s, t), v in got.items()) == 30


def test_streaming_ts_downsample_then_rate(spark, jsonl_dir):
    """The hypertable shape a telemetry user actually runs: the STREAM
    maintains the per-(series, bucket) rollup (event-time tumbling window
    + watermark, bounded state), queries apply rate()/gap_fill() on the
    materialized aggregate. The streamed rollup must match the batch
    downsample row-for-row, and the downstream rate must see counter
    semantics intact."""
    from fluent_bit_spark.extensions.timeseries import downsample, downsample_stream, rate
    from fluent_bit_spark.streaming.sources import tail_source

    schema = "event_type string, value double, sec long"
    base = F.unix_timestamp(F.lit("2024-01-01 00:00:00"))
    sdf = tail_source(
        spark, jsonl_dir, fmt="json", schema=schema, tag_template="ts.stream"
    ).withColumn(TS_COL, F.timestamp_seconds(base + F.col("sec")))
    aggs = [F.max("value").alias("v_max"), F.count("*").alias("n")]
    streamed = downsample_stream(sdf, ["event_type"], TS_COL, 10, aggs)
    _run_to_memory(streamed, "ts_ds_stream", mode="complete")
    got = {
        (r["bucket"], r["event_type"]): (r["v_max"], r["n"])
        for r in spark.sql("SELECT * FROM ts_ds_stream").collect()
    }

    batch_df = (
        spark.read.json(jsonl_dir, schema=schema)
        .withColumn(TS_COL, F.timestamp_seconds(base + F.col("sec")))
    )
    want = {
        (r["bucket"], r["event_type"]): (r["v_max"], r["n"])
        for r in downsample(batch_df, ["event_type"], TS_COL, 10, aggs).collect()
    }
    assert got == want and len(got) == 6  # 3 windows x 2 types

    # query-time rate over the materialized rollup: v_max is monotonically
    # increasing per series (value == sec), so rate = delta/10s, no resets
    rates = rate(
        spark.sql("SELECT * FROM ts_ds_stream"), ["event_type"], "v_max"
    ).collect()
    by = {(r["event_type"], r["bucket"].second): r["rate"] for r in rates}
    assert by[("click", 0)] is None          # first point: no interval
    # click maxima per window: 8, 19, 29 -> rate (19-8)/10 then (29-19)/10
    assert abs(by[("click", 10)] - 1.1) < 1e-9
    assert abs(by[("click", 20)] - 1.0) < 1e-9
    assert all(r["rate"] is None or r["rate"] >= 0 for r in rates)


def test_streaming_prom_scrape_pages(spark, tmp_path):
    """Scrape pages arriving as a file stream (wholetext: one record per
    page) decode statelessly — per-page header maps, no join, so the plan
    is streaming-legal and two targets disagreeing on a metric's TYPE
    never cross-contaminate."""
    from fluent_bit_spark.connectors import prom_exposition_decode_pages
    from fluent_bit_spark.streaming.sources import tail_source

    d = tmp_path / "scrapes"
    d.mkdir()
    (d / "t1.prom").write_text(
        "# TYPE reqs counter\n"
        'reqs{path="/a"} 4\n'
        "# TYPE lat histogram\n"
        'lat_bucket{le="0.1"} 2\n'
        "lat_count 2\n"
    )
    (d / "t2.prom").write_text(
        "# TYPE reqs gauge\n"      # same name, DIFFERENT type on target 2
        'reqs{path="/b"} 9\n'
    )
    sdf = tail_source(
        spark, str(d), fmt="text", tag_template="prom.scrape",
        options={"wholetext": "true"},
    ).withColumnRenamed("value", "page")
    dec = prom_exposition_decode_pages(sdf, "page")
    _run_to_memory(dec, "prom_pages")
    rows = spark.sql("SELECT * FROM prom_pages").collect()
    by = {(r["metric_name"], r["value"]): r for r in rows}
    assert by[("reqs", 4.0)]["metric_type"] == "counter"
    assert by[("reqs", 9.0)]["metric_type"] == "gauge"   # page-scoped headers
    assert by[("lat_bucket", 2.0)]["metric_type"] == "histogram"
    assert by[("lat_count", 2.0)]["metric_type"] == "histogram"
    assert by[("reqs", 4.0)]["labels"]["path"] == "/a"
    assert len(rows) == 4


def test_snapshot_stream_flush_emits_ring_buffer(spark, tmp_path):
    """FLUSH SNAPSHOT emits the CREATE SNAPSHOT ring buffer as it stands
    at the flush record: the last ``limit`` values before it."""
    import json as _json

    from fluent_bit_spark.streaming.sources import tail_source
    from fluent_bit_spark.streaming.stateful import snapshot_stream

    d = tmp_path / "snapauto"
    d.mkdir()
    rows = [{"value": "FLUSH" if i == 5 else f"v{i}", "sec": i} for i in range(8)]
    with open(d / "in.json", "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")
    sdf = tail_source(
        spark, str(d), fmt="json", schema="value string, sec long",
        tag_template="snap.auto",
    ).withColumn(
        TS_COL,
        F.timestamp_seconds(
            F.unix_timestamp(F.lit("2024-01-01 00:00:00")) + F.col("sec")
        ),
    ).select("tag", TS_COL, "value")
    out = snapshot_stream(sdf, limit=3, flush_value="FLUSH")
    _run_to_memory(out, "snap_auto")
    got = sorted(r["value"] for r in spark.sql("SELECT * FROM snap_auto").collect())
    # ring buffer of 3 at the flush point: v2, v3, v4
    assert got == ["v2", "v3", "v4"], got


def test_dedup_against_history_batches(spark, tmp_path):
    """Incremental near-dup: batch 2 drops docs near-duplicating batch 1
    (cross-state), keeps genuinely new docs; the band-hash state grows by
    survivors only; a no-update pass leaves state untouched."""
    from fluent_bit_spark.extensions.dedup import dedup_against_history

    state = str(tmp_path / "band_state")
    b1 = spark.createDataFrame(
        [(1, "the first original document about streaming systems and state"),
         (2, "a completely different second document on parquet file layouts")],
        ["doc_id", "text"],
    )
    kept1 = dedup_against_history(b1, state, update_state=True)
    assert kept1.count() == 2  # empty history: everything survives

    b2 = spark.createDataFrame(
        [(10, "the first original document about streaming systems and state"),  # exact dup of 1
         (11, "a completely different second document on parquet file layout"),  # near-dup of 2
         (12, "fresh unrelated content mentioning neither storage nor streams here")],
        ["doc_id", "text"],
    )
    kept2 = dedup_against_history(b2, state, update_state=True)
    ids2 = {r.doc_id for r in kept2.select("doc_id").collect()}
    assert 10 not in ids2 and 12 in ids2
    # doc 11 differs by one word; with default banding it should share a band
    assert 11 not in ids2

    # replay of batch 2 is a no-op on output (history now contains 12's bands)
    kept2b = dedup_against_history(b2, state, update_state=False)
    assert {r.doc_id for r in kept2b.select("doc_id").collect()} == set()


def test_dedup_history_unreadable_state_raises(spark, tmp_path):
    """A history that EXISTS but can't be read must fail loudly — only
    missing-path / no-data-files mean 'no state yet'. Silently treating
    a broken table as empty state would keep every duplicate while
    appends keep succeeding. Two cases: a corrupt footer (Py4J error
    from the reader), and an incompatible-schema AnalysisException that
    must NOT be swallowed by the no-state-yet probe."""
    import pytest

    from fluent_bit_spark.extensions.dedup import dedup_against_history
    from fluent_bit_spark.extensions.versioned_store import try_read_parquet

    bad = tmp_path / "bad_state"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"not a parquet file")
    df = spark.createDataFrame([(1, "some document text here")], ["doc_id", "text"])
    with pytest.raises(Exception) as ei:
        dedup_against_history(df, str(bad), update_state=False).collect()
    assert "PATH_NOT_FOUND" not in str(ei.value)

    # no-state-yet cases still map to None
    assert try_read_parquet(spark, str(tmp_path / "never_written")) is None
    empty = tmp_path / "empty_state"
    empty.mkdir()
    assert try_read_parquet(spark, str(empty)) is None


def test_neardup_foreach_batch_stream(spark, tmp_path):
    """The streaming wrapper end-to-end with one-file micro-batches:
    within-batch near-dups collapse, cross-batch near-dups drop against
    the history table, unique docs land in the sink."""
    from fluent_bit_spark.streaming.stateful import neardup_foreach_batch

    d = tmp_path / "nd_in"
    d.mkdir()
    doc_a = "shared boilerplate paragraph repeated across the crawl corpus daily"
    with open(d / "b1.json", "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": doc_a}) + "\n")
        f.write(json.dumps({"doc_id": 2, "text": doc_a}) + "\n")  # within-batch dup
        f.write(json.dumps({"doc_id": 3, "text": "unique first-batch article on compilers"}) + "\n")
    with open(d / "b2.json", "w") as f:
        f.write(json.dumps({"doc_id": 4, "text": doc_a}) + "\n")  # cross-batch dup
        f.write(json.dumps({"doc_id": 5, "text": "another unique piece about databases"}) + "\n")

    got: list = []
    sink = lambda bdf, bid: got.extend(r.doc_id for r in bdf.select("doc_id").collect())
    sdf = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = (
        sdf.writeStream.foreachBatch(
            neardup_foreach_batch(sink, str(tmp_path / "nd_state"))
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    assert sorted(got) == [1, 3, 5]


def test_image_neardup_foreach_batch_stream(spark, tmp_path):
    """The image twin of the streaming near-dup wrapper: within-batch
    dHash near-dups collapse, cross-batch near-dups drop against the
    (band, bv, dhash) history with an exact Hamming verify, unique
    images land in the sink — and compact_history maintains the image
    history UNCHANGED (the discipline is hash-family-agnostic)."""
    import os as _os
    import shutil
    import time as _time

    import numpy as np

    from fluent_bit_spark.extensions.dedup import compact_history, history_data_dir
    from fluent_bit_spark.extensions.multimodal import (
        image_dedup_against_history, make_pgm,
    )
    from fluent_bit_spark.streaming.stateful import image_neardup_foreach_batch

    rng = np.random.RandomState(23)

    def img(seed=None, base=None, shift=0):
        g = base if base is not None else rng.randint(30, 220, (16, 18)).astype(np.uint8)
        return g, make_pgm(18, 16, (g + shift).astype(np.uint8).tobytes())

    g1, p1 = img()
    _, p2 = img(base=g1, shift=10)     # brightness copy: dhash-identical
    _, p3 = img()
    _, p4 = img(base=g1, shift=5)      # cross-batch copy
    _, p5 = img()

    d = tmp_path / "img_in"
    d.mkdir()
    base_t = _time.time() - 1000
    for i, batch in enumerate([[(1, p1), (2, p2), (3, p3)], [(4, p4), (5, p5)]]):
        bdir = tmp_path / f"img_b{i}"
        spark.createDataFrame(
            [(mid, bytearray(px)) for mid, px in batch],
            "media_id long, content binary",
        ).coalesce(1).write.mode("overwrite").parquet(str(bdir))
        part = next(p for p in _os.listdir(bdir) if p.endswith(".parquet"))
        dst = d / f"b{i}.parquet"
        shutil.copy(bdir / part, dst)
        _os.utime(dst, (base_t + i, base_t + i))

    got: list = []
    sink = lambda bdf, bid: got.extend(
        r.media_id for r in bdf.select("media_id").collect()
    )
    state = str(tmp_path / "img_state")
    sdf = (
        spark.readStream.schema("media_id long, content binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q = (
        sdf.writeStream.foreachBatch(image_neardup_foreach_batch(sink, state))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    assert sorted(got) == [1, 3, 5]
    # compaction reuse, verbatim: duplicate band rows collapse, and a
    # later copy of image 1 still drops against the compacted history
    n = compact_history(spark, state)
    assert n == spark.read.parquet(history_data_dir(spark, state)).distinct().count()
    late = spark.createDataFrame(
        [(9, bytearray(make_pgm(18, 16, (g1 + 7).astype(np.uint8).tobytes())))],
        "media_id long, content binary",
    )
    assert image_dedup_against_history(late, state).count() == 0


def test_audio_neardup_foreach_batch_stream(spark, tmp_path):
    """The audio twin of the streaming near-dup wrapper: within-batch
    volume copies collapse, cross-batch copies drop against the
    (bh, idx, fp) subfingerprint history via the exact aligned-BER
    verify, unique clips land in the sink, and the compacted history
    still drops a late copy."""
    import os as _os
    import shutil
    import struct
    import time as _time

    import numpy as np

    from fluent_bit_spark.extensions.dedup import compact_history, history_data_dir
    from fluent_bit_spark.extensions.multimodal import (
        audio_dedup_against_history,
    )
    from fluent_bit_spark.streaming.stateful import audio_neardup_foreach_batch

    def pcm16(samples):
        a = np.clip(np.asarray(samples), -32768, 32767).astype("<i2")
        data = a.tobytes()
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        return (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
                + b"fmt " + struct.pack("<I", 16) + fmt
                + b"data" + struct.pack("<I", len(data)) + data)

    rng = np.random.RandomState(29)
    s1 = (rng.randn(8192) * 4000).astype(int)
    s3 = (rng.randn(8192) * 4000).astype(int)
    s5 = (rng.randn(8192) * 4000).astype(int)
    batches = [
        [(1, pcm16(s1)), (2, pcm16(s1 * 2)), (3, pcm16(s3))],  # 2 = vol copy
        [(4, pcm16(s1 * 2)), (5, pcm16(s5))],                  # 4 = cross-batch
    ]
    d = tmp_path / "aud_in"
    d.mkdir()
    base_t = _time.time() - 1000
    for i, batch in enumerate(batches):
        bdir = tmp_path / f"aud_b{i}"
        spark.createDataFrame(
            [(mid, bytearray(wav)) for mid, wav in batch],
            "media_id long, content binary",
        ).coalesce(1).write.mode("overwrite").parquet(str(bdir))
        part = next(p for p in _os.listdir(bdir) if p.endswith(".parquet"))
        dst = d / f"b{i}.parquet"
        shutil.copy(bdir / part, dst)
        _os.utime(dst, (base_t + i, base_t + i))

    got: list = []
    sink = lambda bdf, bid: got.extend(
        r.media_id for r in bdf.select("media_id").collect()
    )
    state = str(tmp_path / "aud_state")
    sdf = (
        spark.readStream.schema("media_id long, content binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q = (
        sdf.writeStream.foreachBatch(audio_neardup_foreach_batch(sink, state))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    assert sorted(got) == [1, 3, 5]
    n = compact_history(spark, state)
    assert n == spark.read.parquet(history_data_dir(spark, state)).distinct().count()
    late = spark.createDataFrame(
        [(9, bytearray(pcm16(s1)))], "media_id long, content binary"
    )
    assert audio_dedup_against_history(late, state).count() == 0


def test_compact_history_preserves_membership(spark, tmp_path):
    """Replayed appends collapse to distinct band rows; dedup decisions
    are identical before and after compaction."""
    from fluent_bit_spark.extensions.dedup import (
        append_history, compact_history, dedup_against_history,
        history_data_dir,
    )

    state = str(tmp_path / "st")
    b = spark.createDataFrame(
        [(1, "a stable document about compaction of band hash state tables")],
        ["doc_id", "text"],
    )
    dedup_against_history(b, state, update_state=True)
    # a replayed post-sink append (the at-least-once path) duplicates rows
    append_history(b, state)
    before = spark.read.parquet(state).count()
    n = compact_history(spark, state)
    assert n < before and n == spark.read.parquet(
        history_data_dir(spark, state)
    ).distinct().count()
    # membership unchanged: the doc is still recognized as a duplicate
    again = dedup_against_history(
        b.selectExpr("doc_id + 2 AS doc_id", "text"), state, update_state=False
    )
    assert again.count() == 0


def test_compact_history_crash_recovery(spark, tmp_path, monkeypatch):
    """A crash after compact_history writes the new version but before
    MANIFEST flips leaves the old rows live; the next call deletes the
    half-written version and compacts fine. Checked at the first
    compaction of a flat history and at a later one."""
    from fluent_bit_spark.extensions import versioned_store
    from fluent_bit_spark.extensions.dedup import (
        append_history, compact_history, dedup_against_history,
        history_data_dir,
    )

    state = str(tmp_path / "st")
    b = spark.createDataFrame(
        [(1, "a document whose band hashes survive a simulated crash window")],
        ["doc_id", "text"],
    )
    dup = b.selectExpr("doc_id + 9 AS doc_id", "text")

    def crash(*args):
        raise IOError("simulated crash before the manifest flip")

    append_history(b, state)
    for live in (state, state + "/v000001"):
        append_history(b, state)  # duplicate rows to compact away
        with monkeypatch.context() as m:
            m.setattr(versioned_store, "_write_manifest", crash)
            with pytest.raises(IOError, match="simulated crash"):
                compact_history(spark, state)
        assert history_data_dir(spark, state) == live  # pointer unchanged
        assert dedup_against_history(dup, state).count() == 0
        n = compact_history(spark, state)
        assert n == spark.read.parquet(history_data_dir(spark, state)).distinct().count()
        assert dedup_against_history(dup, state).count() == 0  # membership survived
    assert history_data_dir(spark, state) == state + "/v000002"


def test_compact_history_mixed_spellings(spark, tmp_path):
    """``/x`` and ``file:///x`` name one store: compacting through one
    spelling, then appending and compacting through the other, works,
    and both spellings see the same rows."""
    import os

    from fluent_bit_spark.extensions.dedup import (
        append_history, compact_history, dedup_against_history,
        history_data_dir,
    )

    plain = str(tmp_path / "st")
    uri = "file://" + plain
    b = spark.createDataFrame(
        [(1, "a document stored under two spellings of one directory")],
        ["doc_id", "text"],
    )
    fresh = spark.createDataFrame(
        [(2, "an unrelated later document appended through the plain path")],
        ["doc_id", "text"],
    )
    append_history(b, plain)
    compact_history(spark, uri)
    append_history(fresh, plain)
    append_history(fresh, plain)
    n = compact_history(spark, plain)
    assert open(os.path.join(plain, "MANIFEST")).read().strip() == "v000002"
    assert n == spark.read.parquet(history_data_dir(spark, uri)).distinct().count()
    both = b.unionByName(fresh).selectExpr("doc_id + 5 AS doc_id", "text")
    for state in (plain, uri):
        assert dedup_against_history(both, state).count() == 0


@pytest.mark.parametrize("scheme", ["", "file://"], ids=["plain", "file"])
def test_compact_history_remote_manifest_flip(spark, tmp_path, scheme):
    """The store compaction path (write-new-version + manifest flip),
    driven through a plain path and a file:// URI: migration from the flat
    layout, pointer-routed appends and reads, repeat compaction
    retiring old versions, and crash recovery at the
    version-written-but-never-flipped point."""
    import os

    from fluent_bit_spark.extensions.dedup import (
        append_history,
        compact_history,
        dedup_against_history,
        history_data_dir,
    )

    local = tmp_path / "remote_st"
    state = scheme + str(local)
    b = spark.createDataFrame(
        [(1, "a document whose band hashes live behind a manifest pointer")],
        ["doc_id", "text"],
    )
    append_history(b, state)
    append_history(b, state)  # duplicates to compact away

    # migration: flat root -> v000001 + MANIFEST, flat files removed
    n = compact_history(spark, state)
    assert (local / "MANIFEST").read_text().strip() == "v000001"
    assert history_data_dir(spark, state).endswith("/v000001")
    assert not [p for p in os.listdir(local) if p.endswith(".parquet")]
    assert n == spark.read.parquet(f"{state}/v000001").distinct().count()

    # pointer-routed membership + append land in the live version dir
    dup = b.selectExpr("doc_id + 5 AS doc_id", "text")
    assert dedup_against_history(dup, state, update_state=False).count() == 0
    fresh = spark.createDataFrame(
        [(9, "entirely new content never banded before in this store")],
        ["doc_id", "text"],
    )
    kept = dedup_against_history(fresh, state, update_state=True)
    assert kept.count() == 1

    # second compaction: v000002 goes live, v000001 retired
    compact_history(spark, state)
    assert (local / "MANIFEST").read_text().strip() == "v000002"
    assert not (local / "v000001").exists()
    assert dedup_against_history(fresh, state, update_state=False).count() == 0

    # crash simulation: next version fully written but manifest NEVER
    # flipped -> reads stay on v000002; the following compaction cleans
    # the orphan and flips to a fresh version with identical membership
    spark.read.parquet(f"{state}/v000002").write.parquet(f"{state}/v000003")
    assert history_data_dir(spark, state).endswith("/v000002")
    compact_history(spark, state)
    assert (local / "MANIFEST").read_text().strip() == "v000003"
    assert not (local / "v000002").exists()
    assert dedup_against_history(dup, state, update_state=False).count() == 0
    assert dedup_against_history(fresh, state, update_state=False).count() == 0

    # MANIFEST.tmp from the flip must not linger as a stale top-level file
    assert not (local / "MANIFEST.tmp").exists()


@pytest.mark.parametrize("scheme", ["", "file://"], ids=["plain", "file"])
def test_compact_history_manifest_corruption_guard(spark, tmp_path, scheme):
    """A lost/garbled manifest with version dirs on disk is corruption,
    not a flat store: compaction must REFUSE (migrating would delete
    every version dir in the orphan sweep = total history loss), and
    readers must raise on an unparseable pointer rather than silently
    scanning the already-migrated root. Restoring the pointer recovers."""
    import pytest

    from fluent_bit_spark.extensions.dedup import (
        append_history,
        compact_history,
        dedup_against_history,
        history_data_dir,
    )

    local = tmp_path / "hist"
    state = f"{scheme}{local}"
    b = spark.createDataFrame(
        [(1, "a document protected by the manifest corruption guard")],
        ["doc_id", "text"],
    )
    append_history(b, state)
    compact_history(spark, state)  # migrate to v000001 + MANIFEST
    assert (local / "v000001").exists()

    # crash mid-overwrite: manifest truncated to empty
    (local / "MANIFEST").write_text("")
    with pytest.raises(RuntimeError, match="corrupt MANIFEST"):
        compact_history(spark, state)
    with pytest.raises(RuntimeError, match="corrupt MANIFEST"):
        history_data_dir(spark, state)
    assert (local / "v000001").exists()  # nothing deleted

    # manifest deleted entirely: version dirs present -> still refuse
    (local / "MANIFEST").unlink()
    with pytest.raises(RuntimeError, match="no MANIFEST"):
        compact_history(spark, state)
    assert (local / "v000001").exists()

    # manual recovery: point at the surviving version; store works again
    (local / "MANIFEST").write_text("v000001")
    assert dedup_against_history(b, state, update_state=False).count() == 0
    compact_history(spark, state)
    assert (local / "MANIFEST").read_text().strip() == "v000002"


@pytest.mark.parametrize("scheme", ["", "file://"], ids=["plain", "file"])
def test_compact_history_lost_pointer_refuses_after_append(spark, tmp_path, scheme):
    """Once MANIFEST is lost, appends land at the root beside the version
    dirs. Those flat files are not a crashed first commit: compaction
    must still refuse rather than commit them alone and delete every
    version."""
    from fluent_bit_spark.extensions.dedup import append_history, compact_history

    local = tmp_path / "hist"
    state = f"{scheme}{local}"
    b = spark.createDataFrame(
        [(1, "a document committed before its manifest pointer was lost")],
        ["doc_id", "text"],
    )
    append_history(b, state)
    compact_history(spark, state)
    (local / "MANIFEST").unlink()
    append_history(b.selectExpr("doc_id + 1 AS doc_id", "text"), state)
    with pytest.raises(RuntimeError, match="no MANIFEST"):
        compact_history(spark, state)
    assert (local / "v000001").exists()
    assert not (local / "MANIFEST").exists()


def test_compact_history_first_flip_crash_keeps_flat_reads(spark, tmp_path, monkeypatch):
    """A crash inside the first flip, after the next pointer is written
    but before its rename onto MANIFEST, leaves that file beside the flat
    data. Flat reads must skip it, and the next compaction finishes the
    migration."""
    import os

    from fluent_bit_spark.extensions import versioned_store
    from fluent_bit_spark.extensions.dedup import (
        append_history, compact_history, dedup_against_history,
        history_data_dir,
    )

    local = tmp_path / "st"
    state = str(local)
    b = spark.createDataFrame(
        [(1, "a document whose first compaction dies inside the flip")],
        ["doc_id", "text"],
    )
    dup = b.selectExpr("doc_id + 9 AS doc_id", "text")

    def crash(spark_, root, version):
        (local / versioned_store._TMP).write_text(version)
        raise IOError("simulated crash before the manifest rename")

    append_history(b, state)
    append_history(b, state)
    with monkeypatch.context() as m:
        m.setattr(versioned_store, "_write_manifest", crash)
        with pytest.raises(IOError, match="simulated crash"):
            compact_history(spark, state)
    assert history_data_dir(spark, state) == state
    assert dedup_against_history(dup, state).count() == 0
    n = compact_history(spark, state)
    assert (local / "MANIFEST").read_text().strip() == "v000001"
    assert n == spark.read.parquet(history_data_dir(spark, state)).distinct().count()
    assert sorted(p for p in os.listdir(local) if not p.startswith(".")) == [
        "MANIFEST", "v000001",
    ]


def test_bm25_empty_token_corpus_raises(spark):
    """Non-empty corpus where every doc tokenizes to zero terms gets a
    clean ValueError, not an opaque float(None) TypeError."""
    import pytest

    from fluent_bit_spark.extensions.retrieval import bm25_topk

    docs = spark.createDataFrame([(1, "   "), (2, "")], ["doc_id", "text"])
    qs = spark.createDataFrame([(1, "anything")], ["query_id", "text"])
    with pytest.raises(ValueError, match="no tokens"):
        bm25_topk(docs, qs, k=3)


def _pcm16(samples):
    import struct

    import numpy as np

    a = np.clip(np.asarray(samples), -32768, 32767).astype("<i2")
    data = a.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    return (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)


def _avi_clip(seed, trim=0):
    import numpy as np

    from fluent_bit_spark.extensions.video import make_avi

    base = np.random.RandomState(seed).randint(0, 256, (8, 9)).astype(np.uint8)
    frames = [np.roll(base, f, axis=1).tobytes() for f in range(6)]
    return make_avi(9, 8, frames[trim:], fps_num=10)


def _neardup_family(spark, family):
    """(foreach_batch factory, append history, id column, two batches)
    for one near-dup family. Each first batch holds a within-batch
    near-dup (id 2 of id 1) and each second batch a cross-batch one
    (id 4 of id 1), so both batches survive as ids [1, 3] and [5]."""
    import numpy as np

    from fluent_bit_spark.extensions import dedup, multimodal, video
    from fluent_bit_spark.streaming import stateful

    if family == "text":
        doc = "shared boilerplate paragraph repeated across the crawl corpus daily"
        rows = [
            [(1, doc), (2, doc), (3, "unique first-batch article on compilers")],
            [(4, doc), (5, "another unique piece about databases")],
        ]
        schema = "doc_id long, text string"
        return (stateful.neardup_foreach_batch, dedup.append_history, "doc_id",
                [spark.createDataFrame(b, schema) for b in rows])
    if family == "image":
        rng = np.random.RandomState(23)
        g = [rng.randint(30, 220, (16, 18)).astype(np.uint8) for _ in range(3)]
        pgm = lambda a: multimodal.make_pgm(18, 16, a.astype(np.uint8).tobytes())
        payloads = [
            [(1, pgm(g[0])), (2, pgm(g[0] + 10)), (3, pgm(g[1]))],
            [(4, pgm(g[0] + 5)), (5, pgm(g[2]))],
        ]
        make, append = stateful.image_neardup_foreach_batch, multimodal.append_image_history
    elif family == "audio":
        rng = np.random.RandomState(29)
        s1, s3, s5 = ((rng.randn(8192) * 4000).astype(int) for _ in range(3))
        payloads = [
            [(1, _pcm16(s1)), (2, _pcm16(s1 * 2)), (3, _pcm16(s3))],
            [(4, _pcm16(s1 * 2)), (5, _pcm16(s5))],
        ]
        make, append = stateful.audio_neardup_foreach_batch, multimodal.append_audio_history
    else:
        payloads = [
            [(1, _avi_clip(11)), (2, _avi_clip(11)), (3, _avi_clip(12))],
            [(4, _avi_clip(11, trim=2)), (5, _avi_clip(13))],
        ]
        make, append = stateful.video_neardup_foreach_batch, video.append_video_history
    batches = [
        spark.createDataFrame(
            [(mid, bytearray(b)) for mid, b in batch], "media_id long, content binary"
        )
        for batch in payloads
    ]
    return make, append, "media_id", batches


NEARDUP_FAMILIES = ["text", "image", "audio", "video"]


@pytest.mark.parametrize("family", NEARDUP_FAMILIES)
def test_neardup_sink_failure_never_loses_docs(spark, tmp_path, family):
    """The sink-before-state ordering contract, for every near-dup
    family: when the sink throws, the history must NOT have been
    appended — the replay then re-emits the same survivors
    (at-least-once) instead of silently losing them against their own
    first-attempt rows."""
    import os

    make, _, id_col, (batch, _) = _neardup_family(spark, family)
    state = str(tmp_path / "st")
    ids = lambda bdf: sorted(r[id_col] for r in bdf.select(id_col).collect())

    calls = []

    def exploding_sink(bdf, bid):
        calls.append(ids(bdf))
        raise RuntimeError("sink outage")

    with pytest.raises(RuntimeError, match="sink outage"):
        make(exploding_sink, state)(batch, 0)
    assert calls == [[1, 3]]
    # state dir untouched by the failed attempt
    assert not os.path.isdir(state) or not any(
        f.endswith(".parquet") for f in os.listdir(state)
    )

    got = []
    make(lambda bdf, bid: got.extend(ids(bdf)), state)(batch, 0)  # the replay
    assert got == [1, 3]  # re-emitted, not lost
    # and now the state holds its rows, so a further replay emits nothing
    got2 = []
    make(lambda bdf, bid: got2.extend(ids(bdf)), state)(batch, 1)
    assert got2 == []


@pytest.mark.parametrize("family", NEARDUP_FAMILIES)
def test_neardup_foreach_batch_history_rows(spark, tmp_path, family):
    """The history a foreachBatch stage leaves after two micro-batches
    holds exactly the rows ``append_*_history`` writes for the same
    survivors into a fresh store, compared as multisets."""
    from collections import Counter

    from fluent_bit_spark.extensions.dedup import history_data_dir

    make, append, id_col, batches = _neardup_family(spark, family)
    streamed = str(tmp_path / "streamed")
    kept, schema = [], batches[0].schema
    proc = make(lambda bdf, bid: kept.extend(bdf.select(*schema.names).collect()), streamed)
    for i, batch in enumerate(batches):
        proc(batch, i)
    assert sorted(r[id_col] for r in kept) == [1, 3, 5]

    fresh = str(tmp_path / "fresh")
    append(spark.createDataFrame(kept, schema), fresh)

    def rows(state):
        df = spark.read.parquet(history_data_dir(spark, state))
        return Counter(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.select(*sorted(df.columns)).collect()
        )

    assert rows(streamed) == rows(fresh)


def test_nb_score_serving_and_stream(spark, tmp_path):
    """nb_train/nb_score split: the model trains once on a batch seed
    corpus, then scores (a) a different batch frame and (b) a file
    STREAM — scoring is a pure projection (no shuffle, no state), so the
    streaming scores must equal the batch scores row-for-row."""
    import json

    from fluent_bit_spark.extensions.classifier import nb_score, nb_train

    seed = spark.createDataFrame(
        [
            (1, "good clean prose sentence", "hi"),
            (2, "good wonderful clean text", "hi"),
            (3, "spam junk garbage noise", "lo"),
            (4, "junk noise spam spam spam", "lo"),
        ],
        "doc_id long, text string, label string",
    )
    model = nb_train(seed, "label", "hi", "lo").materialize()

    fresh = spark.createDataFrame(
        [(10, "clean wonderful prose"), (11, "garbage noise junk"), (12, "")],
        "doc_id long, text string",
    )
    batch = {r.doc_id: (r.n_tokens, r.score, r.pred)
             for r in nb_score(fresh, model).collect()}
    assert batch[10][2] == "hi" and batch[11][2] == "lo"

    d = tmp_path / "nb_stream"
    d.mkdir()
    with open(d / "b1.json", "w") as f:
        f.write(json.dumps({"doc_id": 10, "text": "clean wonderful prose"}) + "\n")
        f.write(json.dumps({"doc_id": 11, "text": "garbage noise junk"}) + "\n")
    with open(d / "b2.json", "w") as f:
        f.write(json.dumps({"doc_id": 12, "text": ""}) + "\n")
    sdf = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = (
        nb_score(sdf, model)
        .writeStream.format("memory")
        .queryName("nb_scored")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    streamed = {
        r.doc_id: (r.n_tokens, r.score, r.pred)
        for r in spark.sql("SELECT * FROM nb_scored").collect()
    }
    assert streamed == batch


def test_span_decontam_stream_matches_batch(spark, tmp_path):
    """exact_substr_trim_against is a zero-shuffle projection against a
    broadcast benchmark-hash set, so the same call must run on a file
    stream unchanged and produce exactly the batch rows."""
    import json

    from fluent_bit_spark.extensions.text import exact_substr_trim_against

    bench = spark.createDataFrame([("a b c d e f g h i j",)], "text string")
    rows = [
        (1, "q a b c d e f g h i j tail"),
        (2, "a b c d e f g h i j"),
        (3, "clean doc with other words entirely present here ok fine"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    batch = {
        r.doc_id: (r.n_tokens, r.kept_tokens, r.n_cut_spans, r.trimmed_text)
        for r in exact_substr_trim_against(docs, bench, window=10).collect()
    }

    d = tmp_path / "decon_stream"
    d.mkdir()
    for i, (did, text) in enumerate(rows):
        with open(d / f"b{i}.json", "w") as f:
            f.write(json.dumps({"doc_id": did, "text": text}) + "\n")
    sdf = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = (
        exact_substr_trim_against(sdf, bench, window=10)
        .writeStream.format("memory")
        .queryName("decon_scored")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    streamed = {
        r.doc_id: (r.n_tokens, r.kept_tokens, r.n_cut_spans, r.trimmed_text)
        for r in spark.sql("SELECT * FROM decon_scored").collect()
    }
    assert streamed == batch


def test_funnel_levels_stream_matches_batch(spark, tmp_path):
    """Streaming funnel: the per-user monotone fold state machine over
    time-ordered micro-batches converges to exactly the batch
    funnel_levels result (last emitted level per user), including the
    window-anchored chain cutoff and the level-0 users."""
    import datetime as dt
    import json

    from fluent_bit_spark.extensions.funnel import funnel_levels
    from fluent_bit_spark.streaming.stateful import funnel_levels_stream

    T0 = dt.datetime(2024, 5, 1)
    steps = ["view", "click", "purchase"]

    def ev(u, sec, typ):
        return (u, T0 + dt.timedelta(seconds=sec), typ)

    rows = [
        # u1 completes the funnel across batches
        ev(1, 0, "view"), ev(1, 10, "click"), ev(1, 20, "purchase"),
        # u2 stalls at click; a second view must NOT restart the chain
        ev(2, 0, "view"), ev(2, 5, "click"), ev(2, 9, "view"),
        # u3 only non-step events -> level 0
        ev(3, 1, "signup"), ev(3, 2, "signup"),
        # u4's purchase lands outside the 30s window anchor
        ev(4, 0, "view"), ev(4, 10, "click"), ev(4, 50, "purchase"),
        # u5 events out of funnel order
        ev(5, 0, "purchase"), ev(5, 5, "click"), ev(5, 9, "view"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    batch = {
        r.user_id: r.funnel_level
        for r in funnel_levels(df, steps, window=30.0).collect()
    }
    assert batch == {1: 3, 2: 2, 3: 0, 4: 2, 5: 1}

    d = tmp_path / "funnel_stream"
    d.mkdir()
    # chunked files: each user's events stay time-ordered across batches
    # (the only order the per-key fold needs)
    for i in range(0, len(rows), 4):
        with open(d / f"b{i:03d}.json", "w") as f:
            for u, ts, typ in rows[i:i + 4]:
                f.write(json.dumps({"user_id": u, "ts": ts.isoformat(), "event_type": typ}) + "\n")
    sdf = (
        spark.readStream.schema("user_id long, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = (
        funnel_levels_stream(sdf, steps, window=30.0, ts_col="ts")
        .writeStream.format("memory")
        .queryName("funnel_stream_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    # last emitted level per user == the batch fold
    import pandas as pd_  # noqa: F401
    emitted = spark.sql("SELECT * FROM funnel_stream_out").collect()
    last = {}
    for r in emitted:
        last[r.user_id] = r.funnel_level  # memory sink appends in batch order
    assert last == batch


def test_session_summaries_stream_matches_batch(spark, tmp_path):
    """Streaming sessions on the built-in session_window: every session
    CLOSED by the final watermark matches the batch session_summaries
    row (start, duration, event count, distinct types) exactly; the
    still-open tail sessions are the documented difference."""
    import datetime as dt
    import json

    from fluent_bit_spark.extensions.funnel import session_summaries
    from fluent_bit_spark.streaming.stateful import session_summaries_stream

    T0 = dt.datetime(2024, 5, 1)

    def ev(u, sec, typ):
        return (u, T0 + dt.timedelta(seconds=sec), typ)

    rows = [
        # u1: two sessions (gap 60s): [0,10,30] and [200,205]
        ev(1, 0, "view"), ev(1, 10, "click"), ev(1, 30, "view"),
        ev(1, 200, "purchase"), ev(1, 205, "view"),
        # u2: one session
        ev(2, 0, "view"), ev(2, 50, "click"),
        # closer events far in the future so every real session is past
        # the watermark horizon when the stream drains
        ev(1, 100_000, "end"), ev(2, 100_000, "end"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    batch = {
        (r.user_id, r.session_start): (r.duration_s, r.n_events, r.n_event_types)
        for r in session_summaries(df, gap=60.0).collect()
    }

    d = tmp_path / "sess_stream"
    d.mkdir()
    ordered = sorted(rows, key=lambda r: r[1])
    for i in range(0, len(ordered), 3):
        with open(d / f"b{i:03d}.json", "w") as f:
            for u, ts, typ in ordered[i:i + 3]:
                f.write(json.dumps({"user_id": u, "ts": ts.isoformat(), "event_type": typ}) + "\n")
    sdf = (
        spark.readStream.schema("user_id long, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = (
        session_summaries_stream(sdf, gap=60.0, watermark="10 seconds", ts_col="ts")
        .writeStream.format("memory")
        .queryName("sess_stream_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    streamed = {
        (r.user_id, r.session_start): (r.duration_s, r.n_events, r.n_event_types)
        for r in spark.sql("SELECT * FROM sess_stream_out").collect()
    }
    # the closer sessions themselves are still open -> absent from stream
    closed_batch = {
        k: v for k, v in batch.items()
        if k[1] < T0 + dt.timedelta(seconds=100_000)
    }
    assert streamed == closed_batch


def test_event_transitions_stream_matches_batch(spark, tmp_path):
    """Streaming transitions: per-user last-event state emits per-batch
    (src, dst) count deltas; summing deltas over the drained stream
    equals batch event_transitions' counts exactly (including the
    session-gap cut), and normalizing the sums reproduces prob."""
    import datetime as dt
    import json

    from fluent_bit_spark.extensions.funnel import event_transitions
    from fluent_bit_spark.streaming.stateful import event_transitions_stream

    T0 = dt.datetime(2024, 5, 1)

    def ev(u, sec, typ):
        return (u, T0 + dt.timedelta(seconds=sec), typ)

    rows = [
        ev(1, 0, "view"), ev(1, 10, "click"), ev(1, 20, "view"),
        ev(1, 10_000, "view"), ev(1, 10_010, "click"),  # new session
        ev(2, 0, "view"), ev(2, 5, "purchase"),
        ev(2, 6, "purchase"),                            # same-ts-class chain
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    batch = {
        (r.src, r.dst): (r.transitions, r.prob)
        for r in event_transitions(df, gap=1800).collect()
    }

    d = tmp_path / "trans_stream"
    d.mkdir()
    # chunk so sessions and transitions straddle micro-batch boundaries;
    # the file source orders micro-batches by mtime, so stamp strictly
    # increasing times (same-ms writes would tie and shuffle the order)
    import os as _os
    import time as _time
    base = _time.time() - 1000
    for i in range(0, len(rows), 3):
        fp = d / f"b{i:03d}.json"
        with open(fp, "w") as f:
            for u, ts, typ in rows[i:i + 3]:
                f.write(json.dumps({"user_id": u, "ts": ts.isoformat(),
                                    "event_type": typ}) + "\n")
        _os.utime(fp, (base + i, base + i))
    sdf = (
        spark.readStream.schema("user_id long, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = (
        event_transitions_stream(sdf, gap=1800, ts_col="ts")
        .writeStream.format("memory")
        .queryName("trans_stream_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    sums: dict = {}
    for r in spark.sql("SELECT * FROM trans_stream_out").collect():
        sums[(r.src, r.dst)] = sums.get((r.src, r.dst), 0) + r.transitions
    assert {k: v[0] for k, v in batch.items()} == sums
    src_totals: dict = {}
    for (s, _), n in sums.items():
        src_totals[s] = src_totals.get(s, 0) + n
    for (s, dd), n in sums.items():
        assert abs(n / src_totals[s] - batch[(s, dd)][1]) < 1e-12


def test_cohort_retention_stream_matches_batch(spark, tmp_path):
    """Streaming cohort retention: per-user (cohort, seen-offsets) state
    emits one +1 delta per new (user, day_offset); summed deltas equal
    the batch cohort matrix (countDistinct as emit-once-per-member)."""
    import datetime as dt
    import json

    from fluent_bit_spark.extensions.funnel import cohort_retention
    from fluent_bit_spark.streaming.stateful import cohort_retention_stream

    T0 = dt.datetime(2024, 5, 1, 8, 30)

    def ev(u, day, sec=0):
        return (u, T0 + dt.timedelta(days=day, seconds=sec))

    rows = [
        ev(1, 0), ev(1, 0, 60), ev(1, 1), ev(1, 3),   # repeat same day
        ev(2, 0), ev(2, 3),
        ev(3, 1), ev(3, 2), ev(3, 2, 30),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    batch = {
        (r.cohort, r.day_offset): r.users
        for r in cohort_retention(df).collect()
    }

    d = tmp_path / "cohort_stream"
    d.mkdir()
    import os as _os
    import time as _time
    base = _time.time() - 1000
    for i in range(0, len(rows), 3):
        fp = d / f"b{i:03d}.json"
        with open(fp, "w") as f:
            for u, ts in rows[i:i + 3]:
                f.write(json.dumps({"user_id": u, "ts": ts.isoformat()}) + "\n")
        _os.utime(fp, (base + i, base + i))
    sdf = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = (
        cohort_retention_stream(sdf, ts_col="ts")
        .writeStream.format("memory")
        .queryName("cohort_stream_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    sums: dict = {}
    for r in spark.sql("SELECT * FROM cohort_stream_out").collect():
        key = (r.cohort, r.day_offset)
        sums[key] = sums.get(key, 0) + r.users
    assert sums == batch


def test_heavy_hitters_stream_mg_contract(spark, tmp_path):
    """Streaming Misra-Gries: (1) a key crossing n/k mid-stream is
    present in the next emission after it crosses; (2) emitted counts
    are valid lower bounds within shard_rows/k of truth; (3) state is
    ONE row per shard regardless of key cardinality (the O(k) bound,
    asserted via the state operator's numRowsTotal)."""
    import json

    from fluent_bit_spark.streaming.stateful import heavy_hitters_stream

    d = tmp_path / "hh_stream"
    d.mkdir()
    # batch 1: a-heavy but below any final verdict; b/c/d churn the counters
    b1 = ["a"] * 3 + ["b", "c"]
    # batch 2: z floods in and crosses n/k = 15/3 = 5 (true count 10)
    b2 = ["z"] * 10
    import os as _os
    import time as _time
    base = _time.time() - 1000
    for j, (name, keys) in enumerate((("b000", b1), ("b001", b2))):
        fp = d / f"{name}.json"
        with open(fp, "w") as f:
            for x in keys:
                f.write(json.dumps({"k": x}) + "\n")
        _os.utime(fp, (base + j, base + j))
    sdf = (
        spark.readStream.schema("k string")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = (
        heavy_hitters_stream(sdf, "k", k=3, shards=1)
        .writeStream.format("memory")
        .queryName("hh_stream_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    rows = spark.sql("SELECT * FROM hh_stream_out").collect()
    # the final snapshot is the one with the max shard_rows (all 15 seen)
    final = {r.key: r["count"] for r in rows if r.shard_rows == 15}
    assert "z" in final                      # crossed n/k -> guaranteed present
    truth = {"a": 3, "b": 1, "c": 1, "z": 10}
    for key, cnt in final.items():
        assert cnt <= truth[key]             # MG counts never overestimate
        assert truth[key] - cnt <= 15 / 3    # underestimate bounded by n/k
    assert final["z"] == 10                  # z arrived post-churn: exact
    # O(k) state: one state-store row per shard, not per key
    assert q.lastProgress["stateOperators"][0]["numRowsTotal"] == 1


def test_attribution_stream_matches_batch(spark, tmp_path):
    """Streaming last-touch attribution: per-user two-scalar state emits
    per-conversion credit deltas; summed deltas equal batch
    attribution(model='last_touch') exactly, including the lookback
    cut, the strict before-conversion rule, same-ts channel tie-breaks,
    and the (direct) fallback."""
    import datetime as dt
    import json
    import os as _os
    import time as _time

    from fluent_bit_spark.extensions.funnel import attribution
    from fluent_bit_spark.streaming.stateful import attribution_stream

    T0 = dt.datetime(2024, 7, 1)

    def ev(u, sec, typ, val=0.0):
        return (u, T0 + dt.timedelta(seconds=sec), typ, val)

    rows = [
        ev(1, 0, "view"), ev(1, 50, "click"), ev(1, 100, "purchase", 90.0),
        ev(2, 0, "view"), ev(2, 1000, "purchase", 10.0),   # outside lookback
        ev(3, 0, "purchase", 5.0),                          # no touches
        ev(4, 10, "view"), ev(4, 10, "click"), ev(4, 20, "purchase", 8.0),
        ev(1, 120, "purchase", 2.0),                        # second conversion
        # u5: a touch SHARING the conversion's ts and sorting before it
        # ([ts, type]: 'click' < 'purchase') must NOT overwrite the
        # strictly-earlier winner (view@50) — the pending-slot rule —
        # yet must credit the NEXT conversion at 130
        ev(5, 50, "view"), ev(5, 100, "click"), ev(5, 100, "purchase", 7.0),
        ev(5, 130, "purchase", 3.0),
        # u6: duplicate same-ts conversions -> one delta each in the
        # stream, credit x2 in batch (the pre-aggregated n)
        ev(6, 5, "purchase", 1.0), ev(6, 5, "purchase", 2.0),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type", "value"])
    batch = {
        r.channel: (r.credit, r.attributed_value)
        for r in attribution(
            df, conversion="purchase", touch_types=["view", "click"],
            lookback=60.0, model="last_touch",
        ).collect()
    }

    d = tmp_path / "attr_stream"
    d.mkdir()
    base = _time.time() - 1000
    for i in range(0, len(rows), 3):
        fp = d / f"b{i:03d}.json"
        with open(fp, "w") as f:
            for u, ts, typ, val in rows[i:i + 3]:
                f.write(json.dumps({"user_id": u, "ts": ts.isoformat(),
                                    "event_type": typ, "value": val}) + "\n")
        _os.utime(fp, (base + i, base + i))
    sdf = (
        spark.readStream
        .schema("user_id long, ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = (
        attribution_stream(
            sdf, conversion="purchase", touch_types=["view", "click"],
            lookback=60.0, ts_col="ts",
        )
        .writeStream.format("memory")
        .queryName("attr_stream_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    sums: dict = {}
    for r in spark.sql("SELECT * FROM attr_stream_out").collect():
        c, v = sums.get(r.channel, (0.0, 0.0))
        sums[r.channel] = (c + r.credit, v + r.attributed_value)
    assert sums == batch


def _spool(tmp_path, name, rows, fields, chunk=3):
    """Write time-ordered micro-batch files with strictly increasing
    mtimes (the file source orders batches by mtime; same-ms writes tie
    and shuffle the order)."""
    import json
    import os as _os
    import time as _time

    d = tmp_path / name
    d.mkdir()
    base = _time.time() - 1000
    for i in range(0, len(rows), chunk):
        fp = d / f"b{i:03d}.json"
        with open(fp, "w") as f:
            for row in rows[i:i + chunk]:
                rec = {
                    k: (v.isoformat() if hasattr(v, "isoformat") else v)
                    for k, v in zip(fields, row)
                }
                f.write(json.dumps(rec) + "\n")
        _os.utime(fp, (base + i, base + i))
    return str(d)


def test_top_session_paths_stream_matches_batch(spark, tmp_path):
    """Streaming session paths: summed per-path deltas over closed
    sessions equal batch top_session_paths counts (closer sessions
    excluded — they stay open in the stream and count as their own
    'end' sessions in batch)."""
    import datetime as dt

    from fluent_bit_spark.extensions.funnel import top_session_paths
    from fluent_bit_spark.streaming.stateful import top_session_paths_stream

    T0 = dt.datetime(2024, 5, 1)

    def ev(u, sec, typ):
        return (u, T0 + dt.timedelta(seconds=sec), typ)

    rows = [
        ev(1, 0, "view"), ev(1, 10, "click"), ev(1, 20, "view"),
        ev(1, 10_000, "purchase"),            # closes session 1
        ev(2, 0, "view"),
        ev(3, 0, "view"), ev(3, 5, "view"), ev(3, 8, "click"),
        ev(3, 9, "purchase"), ev(3, 12, "view"), ev(3, 15, "signup"),
        # 6 events in one session: path capped at max_steps=5
        ev(1, 100_000, "end"), ev(2, 100_000, "end"), ev(3, 100_000, "end"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    batch = {
        r.path: r.sessions
        for r in top_session_paths(df, gap=1800, max_steps=5, k=100).collect()
        if r.path != "end"  # closer sessions stay open in the stream
    }

    d = _spool(tmp_path, "paths_stream", rows, ["user_id", "ts", "event_type"])
    sdf = (
        spark.readStream.schema("user_id long, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .json(d)
    )
    q = (
        top_session_paths_stream(sdf, gap=1800, max_steps=5, ts_col="ts")
        .writeStream.format("memory")
        .queryName("paths_stream_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    sums: dict = {}
    for r in spark.sql("SELECT * FROM paths_stream_out").collect():
        sums[r.path] = sums.get(r.path, 0) + r.sessions
    assert sums == batch
    assert "view>view>click>purchase>view" in sums  # 6-event session capped at 5


def test_active_users_window_stream_matches_batch(spark, tmp_path):
    """Exact streaming rolling WAU: summed (window_end, +1) deltas equal
    batch active_users_window on every end the batch reports (batch
    restricts ends to observed activity days; the stream emits the full
    range — the extra ends are data-silent days, verified consistent by
    recomputation)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from fluent_bit_spark.extensions.funnel import active_users_window
    from fluent_bit_spark.streaming.stateful import active_users_window_stream

    T0 = dt.datetime(2024, 3, 1, 9, 0)

    def ev(u, day, sec=0):
        return (u, T0 + dt.timedelta(days=day, seconds=sec))

    rows = [
        ev(1, 0), ev(1, 0, 60), ev(1, 2), ev(1, 9),
        ev(2, 0), ev(2, 6),
        ev(3, 3), ev(3, 4), ev(3, 11),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    wd = 7
    batch = {
        r.window_end: r.active_users
        for r in active_users_window(df, wd).collect()
    }

    d = _spool(tmp_path, "wau_stream", rows, ["user_id", "ts"])
    sdf = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(d)
    )
    q = (
        active_users_window_stream(sdf, window_days=wd, ts_col="ts")
        .writeStream.format("memory")
        .queryName("wau_stream_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    import datetime as dt2

    sums: dict = {}
    for r in spark.sql("SELECT * FROM wau_stream_out").collect():
        day = (
            dt2.date(1970, 1, 1) + dt2.timedelta(days=int(r.window_end_day))
        ).strftime("%Y-%m-%d")
        sums[day] = sums.get(day, 0) + r.users
    # every batch-reported end matches exactly
    for end, n in batch.items():
        assert sums.get(end) == n, (end, n, sums.get(end))
    # stream-only ends (no activity that day) recompute correctly too
    act = {
        (r.user_id, r.d)
        for r in df.select("user_id", F.to_date("ts").alias("d")).distinct().collect()
    }
    for day_s, n in sums.items():
        end = dt2.datetime.strptime(day_s, "%Y-%m-%d").date()
        expect = len(
            {u for (u, dd) in act if 0 <= (end - dd).days < wd}
        )
        assert n == expect, (day_s, n, expect)


def test_experiment_stats_stream_matches_batch(spark, tmp_path):
    """Streaming A/B counting: summed per-variant (users, converters)
    deltas equal the batch experiment_stats columns; the derived
    conv_rate/z replay from those sums."""
    import datetime as dt

    from fluent_bit_spark.extensions.funnel import experiment_stats
    from fluent_bit_spark.streaming.stateful import experiment_stats_stream

    T0 = dt.datetime(2024, 6, 1)

    def ev(u, sec, typ):
        return (u, T0 + dt.timedelta(seconds=sec), typ, str(u % 2))

    rows = [
        ev(1, 0, "view"), ev(1, 30, "click"), ev(1, 60, "purchase"),
        ev(1, 90, "purchase"),                 # second conversion: no delta
        ev(2, 0, "view"),
        ev(3, 0, "view"), ev(3, 5, "purchase"),
        ev(4, 0, "view"), ev(4, 10, "click"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type", "variant"])
    batch = {
        r.variant: (r.users, r.converters)
        for r in experiment_stats(df, target="purchase").collect()
    }

    d = _spool(tmp_path, "ab_stream", rows, ["user_id", "ts", "event_type", "variant"])
    sdf = (
        spark.readStream
        .schema("user_id long, ts timestamp, event_type string, variant string")
        .option("maxFilesPerTrigger", 1)
        .json(d)
    )
    q = (
        experiment_stats_stream(sdf, target="purchase", ts_col="ts")
        .writeStream.format("memory")
        .queryName("ab_stream_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    sums: dict = {}
    for r in spark.sql("SELECT * FROM ab_stream_out").collect():
        u, c = sums.get(r.variant, (0, 0))
        sums[r.variant] = (u + r.users, c + r.converters)
    assert sums == batch


def test_attribution_stream_first_touch_and_linear(spark, tmp_path):
    """first_touch (keep-first scalars without lookback, bounded touch
    list with one) and linear (touch-list) streaming attribution:
    summed deltas equal the batch models exactly — lookback cut, strict
    before-conversion, same-ts exclusions, tie-breaks, (direct)."""
    import datetime as dt

    from fluent_bit_spark.extensions.funnel import attribution
    from fluent_bit_spark.streaming.stateful import attribution_stream

    T0 = dt.datetime(2024, 7, 1)

    def ev(u, sec, typ, val=0.0):
        return (u, T0 + dt.timedelta(seconds=sec), typ, val)

    rows = [
        ev(1, 0, "view"), ev(1, 50, "click"), ev(1, 100, "purchase", 90.0),
        ev(2, 0, "view"), ev(2, 1000, "purchase", 10.0),
        ev(3, 0, "purchase", 5.0),
        ev(4, 10, "view"), ev(4, 10, "click"), ev(4, 20, "purchase", 8.0),
        ev(5, 50, "view"), ev(5, 100, "click"), ev(5, 100, "purchase", 7.0),
        ev(5, 130, "purchase", 3.0),
    ]
    fields = ["user_id", "ts", "event_type", "value"]
    df = spark.createDataFrame(rows, fields)
    d = _spool(tmp_path, "attr_models", rows, fields)

    def stream_sums(name, **kw):
        sdf = (
            spark.readStream
            .schema("user_id long, ts timestamp, event_type string, value double")
            .option("maxFilesPerTrigger", 1)
            .json(d)
        )
        q = (
            attribution_stream(
                sdf, conversion="purchase", touch_types=["view", "click"],
                ts_col="ts", **kw,
            )
            .writeStream.format("memory").queryName(name)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(600)
        sums: dict = {}
        for r in spark.sql(f"SELECT * FROM {name}").collect():
            c, v = sums.get(r.channel, (0.0, 0.0))
            sums[r.channel] = (round(c + r.credit, 9), round(v + r.attributed_value, 9))
        return sums

    def batch_sums(model, lookback):
        return {
            r.channel: (round(r.credit, 9), round(r.attributed_value, 9))
            for r in attribution(
                df, conversion="purchase", touch_types=["view", "click"],
                lookback=lookback, model=model,
            ).collect()
        }

    assert stream_sums("attr_ft_nolb", model="first_touch") == \
        batch_sums("first_touch", None)
    assert stream_sums("attr_ft_lb", model="first_touch", lookback=60.0) == \
        batch_sums("first_touch", 60.0)
    assert stream_sums("attr_lin", model="linear", lookback=60.0) == \
        batch_sums("linear", 60.0)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="lookback"):
        attribution_stream(df, model="linear")


def test_event_analytics_idle_eviction(spark, tmp_path):
    """Idle-key state eviction across the event-analytics folds: a user
    whose newest event ages idle_timeout behind the watermark leaves
    the state store (numRowsTotal counts ACTIVE users), with deltas
    preserved — and for the session folds, the open session FLUSHES as
    closed on eviction."""
    import datetime as dt

    from fluent_bit_spark.streaming.stateful import (
        active_users_window_stream, cohort_retention_stream,
        event_transitions_stream, top_session_paths_stream,
        user_journey_stream,
    )

    T0 = dt.datetime(2024, 7, 1)

    def ev(u, sec, typ="view"):
        return (u, T0 + dt.timedelta(seconds=sec), typ)

    fields = ["user_id", "ts", "event_type"]

    def run(name, rows, make):
        d = _spool(tmp_path, name, rows, fields, chunk=2)
        sdf = (
            spark.readStream
            .schema("user_id long, ts timestamp, event_type string")
            .option("maxFilesPerTrigger", 1)
            .json(d)
        )
        q = (
            make(sdf).writeStream.format("memory").queryName(name)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(600)
        n_state = q.lastProgress["stateOperators"][0]["numRowsTotal"]
        return spark.sql(f"SELECT * FROM {name}").collect(), n_state

    # --- transitions: u1 evicts after idle > 3600s; its delta already out
    rows = [
        ev(1, 0), ev(1, 10, "click"),
        ev(2, 8000), ev(2, 8010, "click"),
        ev(2, 8020),
    ]
    out, n_state = run(
        "evict_trans", rows,
        lambda s: event_transitions_stream(
            s, gap=1800.0, ts_col="ts", idle_timeout=3600.0,
            watermark="10 seconds",
        ),
    )
    assert n_state == 1  # u1 gone, u2 live
    sums: dict = {}
    for r in out:
        sums[(r.src, r.dst)] = sums.get((r.src, r.dst), 0) + r.transitions
    assert sums == {("view", "click"): 2, ("click", "view"): 1}

    # --- active-users window: pruned days + full eviction, deltas exact
    day = 86400
    rows = [
        ev(1, 0), ev(1, day),
        ev(2, 30 * day), ev(2, 31 * day),
    ]
    out, n_state = run(
        "evict_wau", rows,
        lambda s: active_users_window_stream(
            s, window_days=7, ts_col="ts", watermark="1 hour",
        ),
    )
    assert n_state == 1  # u1's days all pruned/evicted
    ends = sorted((r.window_end_day, r.users) for r in out)
    d0 = int(T0.timestamp()) // day
    expect = [(d0 + e, 1) for e in list(range(0, 8)) + list(range(30, 38))]
    assert ends == sorted(expect)

    # --- user journey: idle eviction FLUSHES the open session
    rows = [
        ev(1, 0), ev(1, 10, "click"),
        ev(2, 1000), ev(2, 1010, "click"),
        ev(2, 1020),
    ]
    out, n_state = run(
        "evict_journey", rows,
        lambda s: user_journey_stream(
            s, steps=["view", "click"], gap=60.0, ts_col="ts",
            idle_timeout=120.0, watermark="10 seconds",
        ),
    )
    assert n_state == 1
    flushed = [r for r in out if r.kind == "session" and r.user_id == 1]
    assert len(flushed) == 1
    assert flushed[0].duration_s == 10.0 and flushed[0].n_events == 2

    # --- session paths: eviction emits the open path
    out, n_state = run(
        "evict_paths", rows,
        lambda s: top_session_paths_stream(
            s, gap=60.0, max_steps=5, ts_col="ts",
            idle_timeout=120.0, watermark="10 seconds",
        ),
    )
    assert n_state == 1
    paths: dict = {}
    for r in out:
        paths[r.path] = paths.get(r.path, 0) + r.sessions
    assert paths == {"view>click": 1}  # u1 flushed; u2's stays open

    # --- funnel levels: evicted user restarts at level 0 (re-emits a
    # first-sight row), state tracks active users only
    from fluent_bit_spark.streaming.stateful import funnel_levels_stream

    rows = [
        ev(1, 0), ev(1, 10, "click"),
        ev(2, 1000), ev(2, 1010, "click"),
        ev(2, 1020),
    ]
    out, n_state = run(
        "evict_funnel", rows,
        lambda s: funnel_levels_stream(
            s, steps=["view", "click"], ts_col="ts",
            idle_timeout=120.0, watermark="10 seconds",
        ),
    )
    assert n_state == 1
    lvls = {}
    for r in out:
        lvls[r.user_id] = r.funnel_level
    assert lvls == {1: 2, 2: 2}

    # --- cohort retention: horizon (max_offset) bounds state + evicts
    rows = [
        ev(1, 0), ev(1, 2 * day),
        ev(1, 40 * day),            # offset 40 > 30: no emission/state
        ev(2, 40 * day), ev(2, 41 * day),
        ev(2, 41 * day + 10),
    ]
    out, n_state = run(
        "evict_cohort", rows,
        lambda s: cohort_retention_stream(
            s, ts_col="ts", max_offset=30, watermark="1 hour",
        ),
    )
    assert n_state == 1  # u1 evicted past its horizon day
    got = sorted((r.cohort, r.day_offset, r.users) for r in out)
    c1 = T0.strftime("%Y-%m-%d")
    c2 = (T0 + dt.timedelta(days=40)).strftime("%Y-%m-%d")
    assert got == [(c1, 0, 1), (c1, 2, 1), (c2, 0, 1), (c2, 1, 1)]


def test_pipeline_folds_idle_eviction(spark, tmp_path):
    """Idle-key eviction for the three pipeline folds (throttle /
    snapshot / multiline) — the last NoTimeout holdouts: a key whose
    newest event ages idle_timeout behind the watermark leaves the
    state store. Throttle forgets a dead pane counter (exactness-free),
    snapshot discards the idle ring buffer, and multiline FLUSHES its
    pending lines as one record before evicting (flush-then-evict, the
    reference's flush timeout) — r9 verdict task #2."""
    import datetime as dt

    T0 = dt.datetime(2024, 7, 1)

    def run(name, rows, fields, schema, make):
        d = _spool(tmp_path, name, rows, fields, chunk=2)
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(d)
        )
        q = (
            make(sdf).writeStream.format("memory").queryName(name)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(600)
        n_state = q.lastProgress["stateOperators"][0]["numRowsTotal"]
        return spark.sql(f"SELECT * FROM {name}").collect(), n_state

    # --- throttle: tag A lives early then dies; tag B arrives 8000 s on
    rows = [
        ("A", T0, 1.0), ("A", T0 + dt.timedelta(seconds=1), 1.0),
        ("B", T0 + dt.timedelta(seconds=8000), 1.0),
        ("B", T0 + dt.timedelta(seconds=8001), 1.0),
        ("B", T0 + dt.timedelta(seconds=8002), 1.0),
    ]
    out, n_state = run(
        "evict_thr", rows, ["tag", "ts", "value"],
        "tag string, ts timestamp, value double",
        lambda s: throttle_stream(
            s, rate=10, interval_sec=60, key="tag", time_col="ts",
            idle_timeout=3600.0, watermark="10 seconds",
        ),
    )
    assert n_state == 1  # A evicted, B live
    assert len(out) == 5  # rate never exceeded: all pass

    # idle horizon shorter than a pane: mid-pane eviction would restart
    # a returning key's counter and over-admit, so the config is
    # rejected up front (r11 guard — the docstring's exactness claim
    # holds only for idle_timeout >= interval_sec)
    with pytest.raises(ValueError, match="idle_timeout must be >="):
        throttle_stream(
            spark.readStream.schema("tag string, ts timestamp")
            .option("maxFilesPerTrigger", 1).json(str(tmp_path)),
            rate=10, interval_sec=60, key="tag", time_col="ts",
            idle_timeout=30.0, watermark="10 seconds",
        )

    # --- snapshot: idle key's buffered-but-unflushed rows discard
    rows = [
        ("A", T0, "a1"), ("A", T0 + dt.timedelta(seconds=1), "a2"),
        ("B", T0 + dt.timedelta(seconds=8000), "b1"),
        ("B", T0 + dt.timedelta(seconds=8001), "FLUSH"),
        ("B", T0 + dt.timedelta(seconds=8002), "b2"),
    ]
    out, n_state = run(
        "evict_snap", rows, ["tag", "ts", "value"],
        "tag string, ts timestamp, value string",
        lambda s: snapshot_stream(
            s, limit=10, flush_value="FLUSH", key="tag", time_col="ts",
            idle_timeout=3600.0, watermark="10 seconds",
        ),
    )
    assert n_state == 1  # A's ring buffer evicted
    assert [r.value for r in out] == ["b1"]  # only B's flush replays

    # --- multiline: idle key FLUSHES pending lines, then evicts
    rows = [
        ("A", T0, "Exception in thread main"),
        ("A", T0 + dt.timedelta(seconds=1), "  at Foo.bar(Foo.java:1)"),
        ("B", T0 + dt.timedelta(seconds=8000), "B record one"),
        ("B", T0 + dt.timedelta(seconds=8001), "B record two"),
        ("B", T0 + dt.timedelta(seconds=8002), "  b continuation"),
    ]
    out, n_state = run(
        "evict_ml", rows, ["tag", "ts", "line"],
        "tag string, ts timestamp, line string",
        lambda s: multiline_stream(
            s, start_pattern=r"^\S", key="tag", time_col="ts",
            idle_timeout=3600.0, watermark="10 seconds",
        ),
    )
    assert n_state == 1  # A flushed + evicted; B still pending
    got = {r.message: r.n_lines for r in out}
    assert got == {
        "Exception in thread main\n  at Foo.bar(Foo.java:1)": 2,
        "B record one": 1,  # closed by B's second start line
    }

    # --- without idle_timeout the contract is unchanged: NoTimeout
    rows = [("A", T0, 1.0), ("B", T0 + dt.timedelta(seconds=8000), 1.0)]
    _out, n_state = run(
        "noevict_thr", rows, ["tag", "ts", "value"],
        "tag string, ts timestamp, value double",
        lambda s: throttle_stream(
            s, rate=10, interval_sec=60, key="tag", time_col="ts",
        ),
    )
    assert n_state == 2  # ever-seen keys persist

    import pytest as _pytest

    with _pytest.raises(ValueError, match="watermark"):
        throttle_stream(
            spark.readStream.schema("tag string, ts timestamp, value double")
            .json(str(tmp_path)), rate=1, idle_timeout=60.0,
        )


def test_warc_source_batch_and_stream(spark, tmp_path):
    """warc_source: a directory of .warc.gz becomes parsed WARC records
    in both batch and streaming mode — the crawl-bucket source-layer
    composition the r10 verdict asked for. Three archives (canonical
    member-per-record, whole-stream single member, and plain
    uncompressed .warc) must yield identical per-file acceptance counts
    in both modes, chain into the quality stack unchanged, and a
    non-WARC junk file must contribute zero records, not an error."""
    from fluent_bit_spark.extensions.html import (
        make_warc_gz, make_warc_record,
    )
    from fluent_bit_spark.extensions.text import quality_score
    from fluent_bit_spark.streaming.sources import warc_source

    d = tmp_path / "crawl"
    d.mkdir()
    recs = [
        make_warc_record("response", f"https://e.com/{i}",
                         f"body text number {i} with the and of to",
                         http_status=200, content_type="text/plain")
        for i in range(4)
    ]
    (d / "a.warc.gz").write_bytes(make_warc_gz(recs[:2], True))
    (d / "b.warc.gz").write_bytes(make_warc_gz(recs[2:], False))
    (d / "c.warc").write_bytes("".join(recs).encode())
    (d / "junk.bin").write_bytes(b"\x00\x01 not a warc at all")

    batch = warc_source(spark, str(d), streaming=False).cache()
    rows = batch.collect()
    by_file = {}
    for r in rows:
        name = r.file.rsplit("/", 1)[-1]
        by_file[name] = by_file.get(name, 0) + 1
        assert r.warc_type == "response" and r.http_status == 200
    assert by_file == {"a.warc.gz": 2, "b.warc.gz": 2, "c.warc": 4}
    assert sorted(r.record_idx for r in rows if "a.warc" in r.file) == [0, 1]
    # the quality stack composes directly on the recovered bodies
    scored = quality_score(
        batch.select("file", "record_idx", F.col("body").alias("text")),
    ).collect()
    assert all(s.q_tokens == 9 for s in scored)

    q = (
        warc_source(spark, str(d), streaming=True, max_files_per_trigger=2)
        .writeStream.format("memory").queryName("warc_src")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(600)
    got = spark.sql(
        "SELECT count(*) AS n, count(DISTINCT file) AS nf FROM warc_src"
    ).collect()[0]
    assert (got.n, got.nf) == (8, 3)  # same records, junk contributes none


def test_warc_source_event_time_windows(spark, tmp_path):
    """warc_source(ts_from='warc_date') derives the event-envelope ts
    from each record's WARC-Date header — the actual CRAWL time — so
    event-time windowed aggregates over a crawl stream work (r11
    verdict task #4). Planted WARC-Date values spread over three
    minutes must produce the same per-minute fetch counts in batch and
    streaming (watermarked tumbling window); a record with a mangled
    WARC-Date falls back to processing time instead of vanishing."""
    from fluent_bit_spark.extensions.html import (
        make_warc_gz, make_warc_record,
    )
    from fluent_bit_spark.streaming.sources import warc_source

    d = tmp_path / "crawl_et"
    d.mkdir()
    # minute 00 -> 3 fetches, minute 01 -> 1, minute 02 -> 2
    dates = (
        ["2024-05-01T10:00:05Z", "2024-05-01T10:00:30Z",
         "2024-05-01T10:00:59Z", "2024-05-01T10:01:10Z"],
        ["2024-05-01T10:02:00Z", "2024-05-01T10:02:45Z"],
    )
    for fi, ds in enumerate(dates):
        recs = [
            make_warc_record("response", f"https://e.com/{fi}/{i}",
                             f"body {fi} {i}", content_type="text/plain",
                             date=dt)
            for i, dt in enumerate(ds)
        ]
        (d / f"{fi}.warc.gz").write_bytes(make_warc_gz(recs, fi == 0))

    def agg(df):
        return df.groupBy(F.window("timestamp", "1 minute")).agg(
            F.count("*").alias("fetches")
        ).select(F.col("window.start").alias("w"), "fetches")

    batch = agg(
        warc_source(spark, str(d), streaming=False, ts_from="warc_date")
    )
    got_b = {str(r.w): r.fetches for r in batch.collect()}
    assert got_b == {
        "2024-05-01 10:00:00": 3,
        "2024-05-01 10:01:00": 1,
        "2024-05-01 10:02:00": 2,
    }

    stream = warc_source(
        spark, str(d), streaming=True, max_files_per_trigger=1,
        ts_from="warc_date",
    ).withWatermark("timestamp", "30 seconds")
    q = (
        agg(stream)
        .writeStream.format("memory").queryName("warc_et")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(600)
    got_s = {
        str(r.w): r.fetches
        for r in spark.sql("SELECT * FROM warc_et").collect()
    }
    assert got_s == got_b  # stream == batch on event time

    # unparsable WARC-Date: the record survives on processing time
    bad = make_warc_record("response", "https://e.com/bad", "x",
                           content_type="text/plain", date="not-a-date")
    (d / "bad.warc.gz").write_bytes(make_warc_gz([bad]))
    rows = (
        warc_source(spark, str(d), streaming=False, ts_from="warc_date")
        .filter("target_uri = 'https://e.com/bad'")
        .select("timestamp").collect()
    )
    assert len(rows) == 1 and rows[0].timestamp is not None

    import pytest
    with pytest.raises(ValueError, match="ts_from"):
        warc_source(spark, str(d), ts_from="nope")


def test_config_pipeline_sp_chain_over_idle_evicting_fold(spark, tmp_path):
    """The SP dialect x always-on-state composition surface (r10 verdict
    task #7): ONE config dict drives a streaming file input, the
    idle-evicting streaming throttle fold ([FILTER] throttle with
    idle_timeout + watermark), and a [STREAM_TASK] CREATE STREAM chain
    ending in a windowed aggregate — end-to-end counts assert the whole
    composition. Key A's pane admits 2 of 4 events (rate 2/60s), key B
    arrives 8000 s later (A's state evicts; 2 of 3 admitted), and a
    late key C advances the watermark so B's window closes in append
    mode."""
    import datetime as dt

    from fluent_bit_spark.pipeline import load_pipeline

    T0 = dt.datetime(2024, 7, 1)
    rows = (
        [("A", T0 + dt.timedelta(seconds=i), 1.0) for i in range(4)]
        + [("B", T0 + dt.timedelta(seconds=8000 + i), 1.0) for i in range(3)]
        + [("C", T0 + dt.timedelta(seconds=9000), 1.0)]
    )
    d = _spool(tmp_path, "cfg_sp", rows, ["k", "timestamp", "value"], chunk=2)
    conf = {
        "pipeline": {
            "inputs": [{
                "name": "tail", "format": "json", "tag": "logs.cfg",
                "stream": True, "max_files_per_trigger": 1,
                "schema": "k string, timestamp timestamp, value double",
                "path": d,
            }],
            "filters": [{
                "name": "throttle", "match": "*", "rate": 2, "interval": 60,
                "key": "k", "idle_timeout": 3600.0, "watermark": "10 seconds",
            }],
        },
        "stream_tasks": [
            {"exec": "CREATE STREAM admitted AS SELECT * FROM "
                     "STREAM:pipeline WHERE passed = 1;",
             "watermark": "10 seconds"},
            {"exec": "CREATE STREAM rates AS SELECT k, COUNT(*) AS n FROM "
                     "STREAM:admitted GROUP BY k "
                     "WINDOW TUMBLING (60 SECOND);"},
        ],
    }
    pipe = load_pipeline(spark, conf)
    out = pipe.sp.streams["rates"]
    assert out.isStreaming
    # Spark cannot bound the timestamps an applyInPandasWithState fold
    # emits, so it flags any downstream stateful op as a possible
    # correctness issue. This fold passes input rows through with their
    # original event times — every emitted row already cleared the
    # input watermark — so the blanket check is safely disabled for
    # this (fold -> windowed agg) composition.
    key = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    prior = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        q = (
            out.writeStream.format("memory").queryName("cfg_sp_rates")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(600)
    finally:
        spark.conf.set(key, prior)
    got = {r.k: r.n for r in spark.sql(
        "SELECT k, n FROM cfg_sp_rates").collect()}
    # A throttled 4 -> 2, B throttled 3 -> 2 (fresh pane after A's state
    # evicted); C's window never closes, so append mode omits it
    assert got == {"A": 2, "B": 2}


def test_config_pipeline_sp_hopping_over_fold(spark, tmp_path):
    """The remaining SP x streaming combination (r11 verdict task #7):
    WINDOW HOPPING (... ADVANCE BY ...) over a watermarked task fed by
    the idle-evicting throttle fold, all driven by one config dict.
    Each admitted event lands in TWO overlapping 120s/60s windows;
    append mode emits exactly the window set the advancing watermark
    closes — key A's two panes x 2 admitted, key B's (fresh state
    after A's idle horizon) x 2, and the late key C that closes B's
    windows never emits its own."""
    import datetime as dt

    from fluent_bit_spark.pipeline import load_pipeline

    T0 = dt.datetime(2024, 7, 1)
    rows = (
        [("A", T0 + dt.timedelta(seconds=i), 1.0) for i in range(4)]
        + [("B", T0 + dt.timedelta(seconds=8000 + i), 1.0) for i in range(3)]
        + [("C", T0 + dt.timedelta(seconds=9000), 1.0)]
    )
    d = _spool(tmp_path, "cfg_hop", rows, ["k", "timestamp", "value"], chunk=2)
    conf = {
        "pipeline": {
            "inputs": [{
                "name": "tail", "format": "json", "tag": "logs.hop",
                "stream": True, "max_files_per_trigger": 1,
                "schema": "k string, timestamp timestamp, value double",
                "path": d,
            }],
            "filters": [{
                "name": "throttle", "match": "*", "rate": 2, "interval": 60,
                "key": "k", "idle_timeout": 3600.0, "watermark": "10 seconds",
            }],
        },
        "stream_tasks": [
            {"exec": "CREATE STREAM admitted AS SELECT * FROM "
                     "STREAM:pipeline WHERE passed = 1;",
             "watermark": "10 seconds"},
            {"exec": "CREATE STREAM hop AS SELECT k, COUNT(*) AS n FROM "
                     "STREAM:admitted GROUP BY k "
                     "WINDOW HOPPING (120 SECOND, ADVANCE BY 60 SECOND);"},
        ],
    }
    pipe = load_pipeline(spark, conf)
    out = pipe.sp.streams["hop"]
    assert out.isStreaming
    # same pass-through-fold justification as the tumbling twin above
    key = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    prior = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        q = (
            out.writeStream.format("memory").queryName("cfg_sp_hop")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(600)
    finally:
        spark.conf.set(key, prior)
    got = {(r.k, str(r.window_start)): r.n for r in spark.sql(
        "SELECT k, window_start, n FROM cfg_sp_hop").collect()}
    assert got == {
        ("A", "2024-06-30 23:59:00"): 2,
        ("A", "2024-07-01 00:00:00"): 2,
        ("B", "2024-07-01 02:12:00"): 2,
        ("B", "2024-07-01 02:13:00"): 2,
    }


def test_streaming_throttle_config_guards(spark, tmp_path):
    """Config-level guards for the streaming throttle (r11 review
    fixes): a partial match pattern is rejected up front (the fold's
    3-column output cannot union with unmatched full-schema records —
    the fallthrough would emit a silently corrupted merged stream), and
    idle_timeout: 0 is NOT treated as absent (it takes the float path
    and hits throttle_stream's idle-horizon guard). A task-level
    watermark is scoped to its own task: after load_pipeline the
    registered 'pipeline' stream carries no watermark."""
    import json as _json

    import pytest as _pytest

    from fluent_bit_spark.pipeline import load_pipeline

    d = tmp_path / "in"
    d.mkdir()
    (d / "a.json").write_text(_json.dumps(
        {"k": "A", "timestamp": "2024-07-01T00:00:00", "value": 1.0}
    ) + "\n")
    base_inp = {
        "name": "tail", "format": "json", "tag": "logs.g",
        "stream": True,
        "schema": "k string, timestamp timestamp, value double",
        "path": str(d),
    }

    def conf(fil, tasks=()):
        return {"pipeline": {"inputs": [dict(base_inp)], "filters": [fil]},
                "stream_tasks": list(tasks)}

    with _pytest.raises(ValueError, match="match: '\\*'"):
        load_pipeline(spark, conf({
            "name": "throttle", "match": "logs.a", "rate": 2,
            "interval": 60, "key": "k", "watermark": "10 seconds",
        }))
    with _pytest.raises(ValueError, match="idle_timeout must be >="):
        load_pipeline(spark, conf({
            "name": "throttle", "match": "*", "rate": 2, "interval": 60,
            "key": "k", "idle_timeout": 0, "watermark": "10 seconds",
        }))
    # watermark scoping: the task ran with a watermarked registration,
    # but the registered source is restored afterwards
    pipe = load_pipeline(spark, conf(
        {"name": "throttle", "match": "*", "rate": 2, "interval": 60,
         "key": "k", "idle_timeout": 3600.0, "watermark": "10 seconds"},
        tasks=[{"exec": "CREATE STREAM adm AS SELECT * FROM "
                        "STREAM:pipeline WHERE passed = 1;",
                "watermark": "10 seconds"}],
    ))
    analyzed = pipe.sp.streams["pipeline"]._jdf.queryExecution() \
        .analyzed().toString()
    assert "EventTimeWatermark" not in analyzed.split("FlatMapGroups")[0]
    # the chained stream (built inside the scoped registration) kept it
    adm = pipe.sp.streams["adm"]._jdf.queryExecution().analyzed().toString()
    assert "EventTimeWatermark" in adm


def test_stream_fold_parity_corners(spark, tmp_path):
    """r11 streaming-review regressions, each a silent batch-parity
    break: (a) a cross-batch stale event must NOT re-arm the throttle
    pane budget (the p != pane reset let one out-of-order event double
    the current pane's admissions); (b) attribution coalesces NaN
    conversion values to 0.0 like batch and records a conversion-type
    event as a touch when touch_types lists it; (c) experiment stats
    key on (variant, user) so a user exposed to two variants counts in
    both, with the conversion credited to the variant it happened
    under."""
    import datetime as dt
    import math

    from fluent_bit_spark.extensions.funnel import (
        attribution, experiment_stats,
    )
    from fluent_bit_spark.streaming.stateful import (
        attribution_stream, experiment_stats_stream,
    )

    T0 = dt.datetime(2024, 7, 1)

    def sec(s):
        return T0 + dt.timedelta(seconds=s)

    # (a) throttle: batch 1 carries t=10.5s (admitted, rate=1/pane);
    # batch 2 carries a STALE t=9.8s then t=10.7s — the stale event is
    # late (dropped) and 10.7 must NOT be admitted into the already-
    # full pane 10
    rows = [("A", sec(10.5), 1.0), ("A", sec(9.8), 1.0),
            ("A", sec(10.7), 1.0)]
    d = _spool(tmp_path, "stale_thr", rows, ["tag", "ts", "value"], chunk=1)
    sdf = (
        spark.readStream.schema("tag string, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1).json(d)
    )
    out = _run_to_memory(
        throttle_stream(sdf, rate=1, interval_sec=1, key="tag",
                        time_col="ts"),
        "stale_thr_out",
    )
    passed = [r.ts for r in spark.sql(
        "SELECT ts FROM stale_thr_out ORDER BY ts").collect()]
    assert len(passed) == 1 and passed[0].second == 10  # only t=10.5

    # (b) + (c): one event stream exercised through BOTH folds
    ev = [
        # user 1: ad touch, then a purchase with NULL value, then a
        # SECOND purchase — 'purchase' is in touch_types, so batch
        # credits the first purchase as the last touch of the second
        (1, "A", sec(10), "ad", 5.0),
        (1, "A", sec(20), "purchase", None),
        (1, "A", sec(30), "purchase", 7.0),
        # user 2: seen under variant A, converts under variant B
        (2, "A", sec(40), "view", None),
        (2, "B", sec(50), "purchase", 3.0),
    ]
    batch_df = spark.createDataFrame(
        ev, "user_id long, variant string, ts timestamp, "
            "event_type string, value double",
    )
    d2 = _spool(tmp_path, "parity_ev", ev,
                ["user_id", "variant", "ts", "event_type", "value"], chunk=2)
    sdf2 = (
        spark.readStream.schema(
            "user_id long, variant string, ts timestamp, "
            "event_type string, value double")
        .option("maxFilesPerTrigger", 1).json(d2)
    )

    ba = {
        r.channel: (r.credit, r.attributed_value)
        for r in attribution(
            batch_df, conversion="purchase",
            touch_types=["ad", "purchase"]).collect()
    }
    _run_to_memory(
        attribution_stream(sdf2, conversion="purchase",
                           touch_types=["ad", "purchase"], ts_col="ts"),
        "parity_attr",
    )
    sa = {
        r.channel: (r.credit, r.attributed_value)
        for r in spark.sql(
            "SELECT channel, SUM(credit) AS credit, "
            "SUM(attributed_value) AS attributed_value "
            "FROM parity_attr GROUP BY channel").collect()
    }
    assert set(sa) == set(ba)
    for ch in ba:
        assert sa[ch][0] == ba[ch][0], ch
        assert not math.isnan(sa[ch][1]), ch  # NaN poison guarded
        assert abs(sa[ch][1] - ba[ch][1]) < 1e-9, ch

    be = {
        r.variant: (r.users, r.converters)
        for r in experiment_stats(
            batch_df, target="purchase").select(
            "variant", "users", "converters").collect()
    }
    _run_to_memory(
        experiment_stats_stream(sdf2, target="purchase", ts_col="ts"),
        "parity_exp",
    )
    se = {
        r.variant: (r.users, r.converters)
        for r in spark.sql(
            "SELECT variant, SUM(users) AS users, "
            "SUM(converters) AS converters FROM parity_exp "
            "GROUP BY variant").collect()
    }
    assert se == be  # user 2 in both A (no conv) and B (conv)
    assert se["B"] == (1, 1) and se["A"][0] == 2
