"""YAML pipeline loader.

Mirrors fluent-bit's YAML config schema (pipeline: inputs/filters/outputs,
parsers:, stream_tasks — see the reference's config_format/ and
[STREAM_TASK] handling in flb_sp.c:58-155), mapped to this engine:

inputs   -> batch DataFrames (parquet/json/csv paths) or streaming sources,
            each tagged
filters  -> operator combinators applied in config order to matching tags
stream_tasks -> SP-dialect statements executed in an SPContext over the
            tagged union of inputs
outputs  -> one path for every [OUTPUT]: ``_write_output`` routes the
            source (``match`` with fluent-bit '*' wildcards, plus
            ``conditions``), runs the output's processors, observes the
            count and writes the payload that the plugin's shaper in
            ``_OUTPUTS`` builds; ``run_outputs`` schedules them once
            (stdout on the calling thread, the rest on one thread pool)

Filters honor `match` like flb_filter_do, which decides once per chunk
whether a filter applies, because the tag belongs to the chunk. Here the
filtered stream is a short list of branches, each labelled with the tags
its records can carry; every input starts as its own branch, labelled
with its literal tag. ``_route_filter`` checks each label against the
filter's pattern in Python at build time: a branch whose tags all match
goes into the filter, a branch with no matching tag passes untouched,
and only a branch of mixed or unknown tags is split with ``rlike`` on the
tag column. A label becomes unknown on an input with ``processors:`` and
after a filter that writes the tag column (rewrite_tag, log_to_metrics,
lua/hook, or a modify rule on ``tag``), which ``_tag_ref`` reads off the
analyzed plan. The operator runs once on the union of the matching
branches, so a ``*`` filter sees the whole stream. A filter that matches
no branch is still dispatched, on an empty frame, so a bad section fails
the build either way. Routing runs no Spark job; only reading a
schemaless input or a lookup file does.

One visible consequence: a tag-specific filter sees only the columns of
the inputs it matches, as a fluent-bit record carries only its own keys.
A ``modify`` ``key_exists`` condition or a ``nest`` wildcard no longer
sees other inputs' columns as null-filled keys, and a column that the
filters remove from every input is gone from the merged stream.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

import yaml

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from fluent_bit_spark import connectors, sinks
from fluent_bit_spark.model import TAG_COL, TS_COL
from fluent_bit_spark.sp import SPContext
from fluent_bit_spark.sp.compiler import matching_tags, tag_label, tag_pattern_to_regex


def _listopt(v) -> list | None:
    """List-valued config options arrive as real lists from YAML but as
    bare/comma-separated strings from classic .conf; a lone string fed to a
    `for key in keys` loop silently iterates characters. Normalize here."""
    if v is None or isinstance(v, (list, tuple)):
        return list(v) if v is not None else None
    return [s.strip() for s in str(v).split(",") if s.strip()]


@dataclass
class Pipeline:
    spark: SparkSession
    inputs: dict[str, DataFrame] = field(default_factory=dict)  # tag -> df
    outputs: list[dict] = field(default_factory=list)
    sp: SPContext = field(default_factory=SPContext)

    def source(self) -> DataFrame:
        """Tagged union of all inputs (the router's merged record stream)."""
        return _union(list(self.inputs.values()))

    def route(self, pattern: str, conds: list | None = None, combine: str = "AND") -> DataFrame:
        """Tag-pattern route, optionally gated by condition rules — the
        conditional-routing engine (src/flb_router_condition.c:275
        flb_condition_eval_logs over src/flb_conditionals.c rules)."""
        return _route(self.source(), pattern, conds, combine)

    def run_outputs(self, persist_routes: bool = True) -> dict[str, int]:
        """Execute every output route; returns route -> row count written.

        The filtered source is read once. With more than one output and
        ``persist_routes`` (default), it is persisted and every sink reads
        the cached partitions — the fluent-bit dataflow (a chunk is
        ingested/filtered once, then fanned to all matching outputs)
        instead of K full re-computations of the input scan + filter
        chain. MEMORY_AND_DISK so an input bigger than executor memory
        spills instead of OOMing; pass ``persist_routes=False`` to trade
        re-scan CPU for zero cache footprint (the right call when sinks
        are few and the filter chain is cheap relative to storage).

        Each output runs through ``_write_output``. All but ``stdout`` run
        on one thread pool of ``min(8, n)`` workers, so each sink's tasks
        back-fill the executor slots the others' job tails leave idle
        (fluent-bit's chunk fan-out, overlapped); a persisted source is
        filled by one ``count()`` first. When two outputs share a target
        directory, the pool has one worker, which runs them in declaration
        order so the last declared writer wins. ``stdout`` (``show()``)
        runs on the calling thread: interleaved console output is not a
        debugging aid. Counts are recorded in declaration order, a
        repeated ``match`` key gaining a ``+`` suffix."""
        from concurrent.futures import ThreadPoolExecutor

        src = self.source()
        persisted = persist_routes and len(self.outputs) > 1
        if persisted:
            from pyspark.storagelevel import StorageLevel

            src = src.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            pooled = [o for o in self.outputs if o.get("name") != "stdout"]
            workers = 1 if _shares_target(pooled) else max(1, min(8, len(pooled)))
            if persisted and workers > 1:
                src.count()
            with ThreadPoolExecutor(max_workers=workers) as pool:
                pending = [
                    None if o.get("name") == "stdout" else pool.submit(_write_output, src, o)
                    for o in self.outputs
                ]
                counts = [
                    _write_output(src, o) if f is None else f.result()
                    for o, f in zip(self.outputs, pending)
                ]
        finally:
            if persisted:
                src.unpersist()
        written: dict[str, int] = {}
        for out, n in zip(self.outputs, counts):
            key = out.get("match", "*")
            while key in written:  # duplicate match patterns stay distinct
                key += "+"
            written[key] = n
        return written


def _route(src: DataFrame, pattern: str, conds: list | None, combine: str) -> DataFrame:
    df = src.filter(F.col(TAG_COL).rlike(tag_pattern_to_regex(pattern)))
    if conds:
        from fluent_bit_spark.operators.conditions import Rule, conditions

        rules = [Rule(*c) for c in conds]
        df = df.filter(conditions(df, rules, combine))
    return df


def _target(path) -> str:
    """One spelling of an output directory: ``file://`` stripped, made
    absolute, no trailing ``/``. Other URIs keep their scheme."""
    import os

    p = str(path)
    if p.startswith("file://"):
        p = p[len("file://"):]
    return p.rstrip("/") if "://" in p else os.path.abspath(p)


def _shares_target(outputs: list[dict]) -> bool:
    """Whether two outputs write one directory, or one writes inside the
    other's: concurrent overwrites there would interleave."""
    from itertools import combinations

    targets = [_target(o["path"]) for o in outputs if o.get("path") is not None]
    return any(
        a == b or b.startswith(a.rstrip("/") + "/") or a.startswith(b.rstrip("/") + "/")
        for a, b in combinations(targets, 2)
    )


def _routed(src: DataFrame, out: dict) -> DataFrame:
    """``src`` routed by the output's ``match`` and ``conditions`` and run
    through its ``processors:``."""
    df = _route(
        src, out.get("match", "*"), out.get("conditions"), out.get("condition_op", "AND")
    )
    procs = (out.get("processors") or {}).get("logs") or []
    return _apply_processors(df, procs) if procs else df


def _check_output(src: DataFrame, out: dict) -> None:
    """Fail the load for an [OUTPUT] ``_write_output`` could not write:
    an unknown plugin, a missing ``path``, or an option its payload
    shaper rejects. The shaper runs on an empty route, so no job starts."""
    name = _output_name(out)
    if name not in ("null", "counter", "stdout") and not out.get("path"):
        raise ValueError(f"output {name!r} needs a path")
    if name in _OUTPUTS:
        _OUTPUTS[name][0](_routed(src.limit(0), out), out)


def _write_output(src: DataFrame, out: dict) -> int:
    """One [OUTPUT] section: route ``src`` by ``match`` and ``conditions``,
    run the output's ``processors:``, write its payload; returns the count
    of records delivered. The count rides the sink's own write job through
    ``observe()``, one scan per output instead of a second count() pass
    over the route."""
    name = _output_name(out)
    df = _routed(src, out)
    if name in ("null", "counter"):
        # no write job to ride — the count IS the action
        return df.count()
    if name == "stdout":
        # show(limit) stops early, so observe() would undercount;
        # a debug sink can afford the explicit count
        df.show(int(out.get("limit", 20)), truncate=False)
        return df.count()
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("n"))
    if name == "file":
        sinks.write_file(
            df,
            out["path"],
            fmt=out.get("format", "json"),
            partition_by_tag=bool(out.get("partition_by_tag", False)),
            template=out.get("template"),
            compression=out.get("compression"),
        )
    elif name == "s3":
        sinks.write_s3(
            df,
            out["path"],
            key_format=out.get("s3_key_format", "/$TAG"),
            fmt=out.get("format", "json"),
            compression=out.get("compression"),
        )
    else:
        shape, fmt = _OUTPUTS[name]
        sinks.write_file(shape(df, out), out["path"], fmt=fmt)
    return int(obs.get["n"])


# Each remaining output plugin only shapes its wire payload (a file-backed
# stand-in for the push); text payloads are one ``value`` line per row.


def _es_payload(df: DataFrame, out: dict) -> DataFrame:
    shaped = connectors.es_bulk(
        df,
        index=out.get("index", "fluent-bit"),
        logstash_format=bool(out.get("logstash_format", False)),
        logstash_prefix=out.get("logstash_prefix", "logstash"),
        id_key=out.get("id_key"),
        include_tag_key=out.get("include_tag_key"),
    )
    # bulk body = action line + doc line per record
    return shaped.select(F.concat_ws("\n", "action_line", "doc_line").alias("value"))


def _splunk_payload(df: DataFrame, out: dict) -> DataFrame:
    return connectors.splunk_hec(
        df,
        host=out.get("host"),
        source=out.get("source"),
        sourcetype=out.get("sourcetype"),
        index=out.get("index"),
        host_key=out.get("host_key"),
        source_key=out.get("source_key"),
        send_raw=bool(out.get("send_raw", False)),
    )


def _opentelemetry_payload(df: DataFrame, out: dict) -> DataFrame:
    shaped = connectors.otlp_logs_encode(
        df,
        body_col=out.get("body_key", "msg"),
        attr_cols=_listopt(out.get("attribute_keys")),
        resource_attributes=out.get("resource_attributes"),
        batch_col=out.get("batch_key", TAG_COL),
    )
    return shaped.select(F.col("otlp_json").alias("value"))


def _loki_payload(df: DataFrame, out: dict) -> DataFrame:
    shaped = sinks.loki_streams(
        df,
        label_keys=_listopt(out.get("labels")) or [TAG_COL],
        line_col=out.get("line_key", "msg"),
    )
    return shaped.select(F.to_json(F.struct("stream", "values")).alias("value"))


def _influxdb_payload(df: DataFrame, out: dict) -> DataFrame:
    shaped = connectors.influxdb_line(
        df,
        field_cols=_listopt(out.get("field_keys")),
        tag_keys=_listopt(out.get("tag_keys")),
        auto_tags=bool(out.get("auto_tags", False)),
        use_influxdb_integer=bool(out.get("add_integer_suffix", False)),
    )
    return shaped.select(F.col("line").alias("value"))


def _datadog_payload(df: DataFrame, out: dict) -> DataFrame:
    return connectors.datadog_records(
        df,
        include_tag_key=bool(out.get("include_tag_key", False)),
        tag_key=out.get("tag_key", "tagkey"),
        dd_source=out.get("dd_source"),
        dd_service=out.get("dd_service"),
        dd_hostname=out.get("dd_hostname"),
        dd_tags=out.get("dd_tags"),
        dd_message_key=out.get("dd_message_key", "log"),
        remap=bool(out.get("remap", False)),
    )


def _forward_payload(df: DataFrame, out: dict) -> DataFrame:
    return connectors.forward_frames_encode(
        df,
        time_as_integer=bool(out.get("time_as_integer", False)),
        send_options=bool(out.get("send_options", False)),
    )


def _cloudwatch_payload(df: DataFrame, out: dict) -> DataFrame:
    return connectors.cloudwatch_events(
        df,
        out["log_group_name"],
        log_stream_name=out.get("log_stream_name"),
        log_stream_prefix=out.get("log_stream_prefix"),
        log_key=out.get("log_key"),
    )


def _stackdriver_payload(df: DataFrame, out: dict) -> DataFrame:
    return connectors.stackdriver_entries(
        df,
        out.get("google_service_credentials", "default-project"),
        severity_key=out.get("severity_key", "severity"),
        trace_key=out.get("trace_key"),
        span_id_key=out.get("span_id_key"),
    )


def _kafka_payload(df: DataFrame, out: dict) -> DataFrame:
    topics = _listopt(out.get("topics", "fluent-bit"))
    return connectors.kafka_messages(
        df,
        topics,
        timestamp_key=out.get("timestamp_key", "@timestamp"),
        timestamp_format=out.get("timestamp_format", "double"),
        message_key=out.get("message_key"),
        message_key_field=out.get("message_key_field"),
        topic_key=out.get("topic_key"),
        dynamic_topic=bool(out.get("dynamic_topic", False)),
        raw_log_key=out.get("raw_log_key"),
    )


def _http_payload(df: DataFrame, out: dict) -> DataFrame:
    return sinks.http_payload(
        df,
        body_format=out.get("format", "json"),
        json_date_key=out.get("json_date_key", "date"),
        json_date_format=out.get("json_date_format", "double"),
    )


def _kinesis_payload(df: DataFrame, out: dict) -> DataFrame:
    return connectors.kinesis_records(
        df,
        log_key=out.get("log_key"),
        time_key=out.get("time_key"),
        time_key_format=out.get("time_key_format", "%Y-%m-%dT%H:%M:%S"),
    )


def _azure_payload(df: DataFrame, out: dict) -> DataFrame:
    return connectors.azure_records(
        df,
        time_key=out.get("time_key", "@timestamp"),
        time_generated=bool(out.get("time_generated", False)),
        log_type=out.get("log_type", "fluentbit"),
        log_type_key=out.get("log_type_key"),
    )


def _remote_write_payload(df: DataFrame, out: dict) -> DataFrame:
    return connectors.remote_write_encode(
        df,
        name_col=out.get("metric_key", "metric"),
        label_cols=_listopt(out.get("label_keys")),
        value_col=out.get("value_key", "value"),
    )


def _exporter_payload(df: DataFrame, out: dict) -> DataFrame:
    statics = {}
    for kv in _listopt(out.get("add_label")) or []:
        k, _, v = str(kv).partition(" ")
        statics[k.strip()] = v.strip()
    shaped = sinks.prometheus_exposition(
        df,
        name_col=out.get("metric_key", "metric_name"),
        type_col=out.get("type_key", "metric_type"),
        label_cols=_listopt(out.get("label_keys")),
        value_col=out.get("value_key", "value"),
        add_labels=statics or None,
        value_fmt=out.get("value_format", "double"),
    )
    return shaped.select(F.col("line").alias("value"))


def _syslog_payload(df: DataFrame, out: dict) -> DataFrame:
    shaped = sinks.syslog_encode(
        df,
        format=out.get("syslog_format", "rfc5424"),
        message_key=out.get("syslog_message_key", "message"),
        hostname_key=out.get("syslog_hostname_key"),
        appname_key=out.get("syslog_appname_key"),
        procid_key=out.get("syslog_procid_key"),
        msgid_key=out.get("syslog_msgid_key"),
        sd_keys=_listopt(out.get("syslog_sd_key")),
        severity_key=out.get("syslog_severity_key"),
        facility_key=out.get("syslog_facility_key"),
        severity_preset=int(out.get("syslog_severity_preset", 6)),
        facility_preset=int(out.get("syslog_facility_preset", 1)),
        maxsize=out.get("syslog_maxsize"),
    )
    return shaped.select(F.col("line").alias("value"))


# plugin name -> (payload shaper, write format)
_OUTPUTS: dict[str, tuple[Callable[[DataFrame, dict], DataFrame], str]] = {
    "es": (_es_payload, "text"),
    "opensearch": (_es_payload, "text"),
    "splunk": (_splunk_payload, "json"),
    "opentelemetry": (_opentelemetry_payload, "text"),
    "loki": (_loki_payload, "text"),
    "influxdb": (_influxdb_payload, "text"),
    "datadog": (_datadog_payload, "json"),
    "flowcounter": (lambda df, out: sinks.flowcounter(df, unit=out.get("unit", "minute")), "json"),
    "forward": (_forward_payload, "parquet"),
    "cloudwatch_logs": (_cloudwatch_payload, "json"),
    "stackdriver": (_stackdriver_payload, "json"),
    "bigquery": (
        lambda df, out: connectors.bigquery_rows(df, insert_id_col=out.get("insert_id_key")),
        "json",
    ),
    "kafka": (_kafka_payload, "json"),
    "http": (_http_payload, "json"),
    "kinesis_streams": (_kinesis_payload, "json"),
    "kinesis_firehose": (_kinesis_payload, "json"),
    "azure": (_azure_payload, "json"),
    "logdna": (
        lambda df, out: connectors.logdna_lines(df, app=out.get("app", "Fluent Bit")),
        "json",
    ),
    "nats": (lambda df, out: connectors.nats_body(df), "json"),
    "slack": (
        lambda df, out: connectors.slack_text(df).select(F.col("payload").alias("value")),
        "text",
    ),
    "td": (lambda df, out: connectors.td_records(df), "parquet"),
    "prometheus_remote_write": (_remote_write_payload, "parquet"),
    "prometheus_exporter": (_exporter_payload, "text"),
    "plot": (
        lambda df, out: sinks.plot_lines(df, out["key"]).select(F.col("line").alias("value")),
        "text",
    ),
    "syslog": (_syslog_payload, "text"),
}
# the outputs _write_output runs on a branch of their own
_OWN_BRANCH = ("file", "s3", "null", "counter", "stdout")


def _output_name(out: dict) -> str:
    """The output's plugin name, checked against the known plugins."""
    name = out.get("name", "file")
    if name not in _OUTPUTS and name not in _OWN_BRANCH:
        raise ValueError(f"unknown output plugin {name!r}")
    return name


def _union(dfs: list[DataFrame]) -> DataFrame:
    if not dfs:
        raise ValueError("pipeline has no inputs")
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


# A branch is (frame, tags): the tags its records can carry, or None when
# a filter may have rewritten the tag column.
Branch = tuple[DataFrame, frozenset | None]


def _tag_ref(df: DataFrame) -> str | None:
    """The analyzed plan's tag attribute (``tag#<exprId>``). Two frames
    report the same one only if every tag value of the second is a tag
    value of the first; None when there is no tag column or no JVM plan."""
    try:
        i = df.columns.index(TAG_COL)
        return df._jdf.queryExecution().analyzed().output().apply(i).toString()
    except (ValueError, AttributeError):
        return None


def _route_filter(branches: list[Branch], fconf: dict, parsers: dict) -> list[Branch]:
    """Route one [FILTER] like flb_filter_do does per chunk: a branch
    whose tags all match its Match goes into the filter, a branch with no
    matching tag passes untouched, and only a branch of mixed or unknown
    tags is split on the tag column. The operator runs once, on the union
    of what matched, and its output takes the place of the first branch
    it read."""
    pattern = fconf.get("match", "*")
    hit_rows = F.col(TAG_COL).rlike(tag_pattern_to_regex(pattern))
    hits: list[Branch] = []
    routed: list[Branch | None] = []
    slot = None

    def take(branch: Branch) -> None:
        nonlocal slot
        if slot is None:
            slot = len(routed)
            routed.append(None)
        hits.append(branch)

    for df, tags in branches:
        matched = matching_tags(pattern, tags)
        if tags is not None and matched == tags:
            take((df, tags))
        elif tags is not None and not matched:
            routed.append((df, tags))
        else:  # unknown or mixed tags: split on the column
            take((df.filter(hit_rows), matched))
            if pattern != "*":  # '*' matches every tag: no miss side
                routed.append((df.filter(~hit_rows), tags and tags - matched))
    if not hits:
        # nothing to filter, but a bad section must fail as it does when
        # it matches: dispatch on an empty frame and discard the result
        _apply_filter(_union([df for df, _ in branches]).limit(0), fconf, parsers)
        return branches
    frame = _union([df for df, _ in hits])
    out = _apply_filter(frame, fconf, parsers)
    tags = None
    if all(t is not None for _, t in hits):
        ref = _tag_ref(frame)
        if ref is not None and ref == _tag_ref(out):
            tags = frozenset().union(*(t for _, t in hits))
    routed[slot] = (out, tags)
    return routed


def _apply_filter(df: DataFrame, fconf: dict, parsers: dict) -> DataFrame:
    """One [FILTER] section's operator over ``df``, the records its Match
    selects (``_route_filter`` decides which)."""
    name = fconf["name"]
    pattern = fconf.get("match", "*")

    if name == "grep":
        from fluent_bit_spark.operators.grep import grep

        rules = [tuple(r.split(None, 2))[0:3] if isinstance(r, str) else tuple(r) for r in fconf.get("rules", [])]
        rules = [(op, key, pat) for (op, key, pat) in rules]
        out = grep(df, rules, fconf.get("logical_op", "legacy"))
    elif name == "modify":
        from fluent_bit_spark.operators.modify import Condition, modify

        rules = [tuple(r) for r in fconf.get("rules", [])]
        conds = [Condition(*c) for c in fconf.get("conditions", [])]
        out = modify(df, rules, conds or None)
    elif name == "record_modifier":
        from fluent_bit_spark.operators.record_modifier import record_modifier

        out = record_modifier(
            df,
            remove_keys=fconf.get("remove_keys"),
            allowlist_keys=fconf.get("allowlist_keys"),
            records=fconf.get("records"),
            uuid_key=fconf.get("uuid_key"),
        )
    elif name == "nest":
        from fluent_bit_spark.operators.nest import lift, nest

        if fconf.get("operation", "nest") == "nest":
            out = nest(
                df, fconf["wildcard"], fconf["nest_under"],
                fconf.get("remove_prefix"), fconf.get("add_prefix"),
            )
        else:
            out = lift(df, fconf["nested_under"], fconf.get("add_prefix"))
    elif name == "parser":
        from fluent_bit_spark.operators.parser_filter import parser_filter

        p = parsers[fconf["parser"]]
        out = parser_filter(
            df, fconf["key_name"], p["obj"],
            reserve_data=bool(fconf.get("reserve_data", True)),
            preserve_key=bool(fconf.get("preserve_key", False)),
            fields=p.get("fields"), types=p.get("types"),
        )
    elif name == "type_converter":
        from fluent_bit_spark.typecast import type_converter

        out = type_converter(df, [tuple(r) for r in fconf["rules"]])
    elif name == "throttle":
        if df.isStreaming:
            # the always-on form: per-key pane counters in the state
            # store, with the r10 idle-key eviction when the config sets
            # idle_timeout + watermark. Contract difference vs batch:
            # the fold emits its own (key, ts, passed) columns — the
            # admitted-event audit stream — not the full record, so a
            # partial match would union mismatched schemas (throttled
            # rows with every record field null, passthrough rows with
            # null 'passed'); reject that config instead of emitting a
            # silently corrupted stream
            if pattern != "*":
                raise ValueError(
                    "streaming throttle requires match: '*' — the fold "
                    "emits (key, ts, passed), which cannot union with "
                    "unmatched full-schema records"
                )
            from fluent_bit_spark.streaming.stateful import throttle_stream

            out = throttle_stream(
                df, rate=int(fconf["rate"]),
                interval_sec=int(fconf.get("interval", 1)),
                key=fconf.get("key", TAG_COL),
                time_col=fconf.get("time_col", TS_COL),
                idle_timeout=(
                    float(fconf["idle_timeout"])
                    if fconf.get("idle_timeout") is not None else None
                ),
                watermark=fconf.get("watermark"),
            )
        else:
            from fluent_bit_spark.operators.throttle import throttle

            out = throttle(
                df, rate=int(fconf["rate"]), interval_sec=int(fconf.get("interval", 1)),
                time_col=fconf.get("time_col", TS_COL), key=fconf.get("key"),
            )
    elif name == "rewrite_tag":
        from fluent_bit_spark.operators.rewrite_tag import rewrite_tag

        rules = [(r[0], r[1], r[2], str(r[3]).lower() == "true") for r in fconf["rules"]]
        out = rewrite_tag(df, rules)
    elif name == "checklist":
        from fluent_bit_spark.operators.lookup import checklist

        wl = df.sparkSession.read.option("header", "false").csv(fconf["file"]).toDF("v")
        out = checklist(df, wl, key=fconf["lookup_key"], list_key="v",
                        set_values=fconf.get("records", {"matched": True}))
    elif name == "expect":
        from fluent_bit_spark.operators.expect import expect

        out = expect(df, [tuple(r) for r in fconf["rules"]], action=fconf.get("action", "result_key"))
    elif name == "throttle_size":
        from fluent_bit_spark.operators.throttle import throttle_size

        out = throttle_size(
            df, max_bytes=int(fconf["max_bytes"]),
            size_col_expr=F.octet_length(fconf.get("size_key", "msg")),
            interval_sec=int(fconf.get("interval", 1)),
            time_col=fconf.get("time_col", TS_COL), key=fconf.get("key"),
        )
    elif name == "multiline":
        from fluent_bit_spark.operators.multiline import (
            BUILTIN_RULES,
            MLRule,
            multiline,
            multiline_rules,
        )

        ml_ref = fconf.get("multiline.parser") or fconf.get("mode")
        custom = fconf.get("rules_table")
        if custom is not None:
            table = [MLRule((r[0],), r[1], r[2]) for r in custom]
            out = multiline_rules(
                df, table, line_col=fconf.get("key_content", "line"),
                seq_col=fconf.get("seq_key", "seq"),
                group_keys=fconf.get("group_keys"),
            )
        elif ml_ref in BUILTIN_RULES:
            out = multiline_rules(
                df, ml_ref, line_col=fconf.get("key_content", "line"),
                seq_col=fconf.get("seq_key", "seq"),
                group_keys=fconf.get("group_keys"),
            )
        else:
            out = multiline(
                df, line_col=fconf.get("key_content", "line"),
                seq_col=fconf.get("seq_key", "seq"),
                group_keys=fconf.get("group_keys"),
                start_pattern=fconf.get("start_pattern"),
                mode=ml_ref if fconf.get("start_pattern") is None else fconf.get("mode"),
            )
    elif name == "kubernetes":
        from fluent_bit_spark.operators.kubernetes import kubernetes_filter

        pod_meta = None
        if fconf.get("pod_metadata"):
            pod_meta = df.sparkSession.read.json(fconf["pod_metadata"])
        out = kubernetes_filter(
            df, pod_metadata=pod_meta,
            kube_tag_prefix=fconf.get("kube_tag_prefix", "kube.var.log.containers."),
            use_journal=bool(fconf.get("use_journal", False)),
        )
    elif name == "geoip2":
        from fluent_bit_spark.operators.lookup import geoip_enrich

        ranges = df.sparkSession.read.json(fconf["database"])
        for c in ("range_start", "range_end"):
            ranges = ranges.withColumn(c, F.col(c).cast("long"))
        out = geoip_enrich(df, ranges, ip_col=fconf["lookup_key"])
    elif name == "nightfall":
        from fluent_bit_spark.extensions.text import pii_flags, redact_pii

        key = fconf.get("key", "msg")
        kinds = tuple(fconf["kinds"]) if fconf.get("kinds") else None
        out = df
        if fconf.get("flag_key"):  # flags read the ORIGINAL text, pre-redaction
            out = out.withColumn(fconf["flag_key"], pii_flags(F.col(key), kinds))
        out = out.withColumn(key, redact_pii(F.col(key), kinds))
    elif name == "content_modifier":
        out = _content_modifier(df, fconf)
    elif name == "log_to_metrics":
        # filter_log_to_metrics swaps matching log records for metric
        # records on the stream (log_to_metrics.c:970-1283); the derived
        # metrics frame merges back with allowMissingColumns, like the
        # reference's metrics-typed chunks riding the same pipeline
        from fluent_bit_spark.operators.log_to_metrics import log_to_metrics

        def _kv(opt):
            v = fconf.get(opt)
            return tuple(v.split(None, 1)) if isinstance(v, str) else (tuple(v) if v else None)

        out = log_to_metrics(
            df,
            mode=fconf.get("metric_mode", fconf.get("mode", "counter")),
            metric_name=fconf.get("metric_name", "log_metric"),
            label_keys=_listopt(fconf.get("label_field")),
            value_field=fconf.get("value_field"),
            include=_kv("regex"),
            exclude=_kv("exclude"),
            window_sec=int(fconf["window"]) if fconf.get("window") else None,
        ).withColumn(TAG_COL, F.lit(fconf.get("tag", "log_metrics")))
    elif name in ("lua", "hook"):
        # filter_lua analog: the config carries a Python snippet defining
        # cb(tag, ts, record) -> (code, ts, record) — the same
        # script-in-config contract as the reference (lua.c:774-812),
        # with Python as the scripting language (SURVEY §2.10)
        from fluent_bit_spark.operators.udf_hook import record_hook

        ns: dict = {}
        exec(fconf["code"], ns)  # noqa: S102 — config scripts are the Lua-filter analog
        cb = ns[fconf.get("call", "cb")]
        out = record_hook(
            df, cb, schema=fconf.get("schema"),
            tag_col=fconf.get("tag_col", TAG_COL), ts_col=fconf.get("time_col", TS_COL),
        )
    else:
        raise ValueError(f"unknown filter plugin {name!r}")
    return out


def _content_modifier(df: DataFrame, conf: dict) -> DataFrame:
    """content_modifier from the keys a [FILTER] section and a processor
    unit share."""
    from fluent_bit_spark.operators.conditions import Rule
    from fluent_bit_spark.operators.content_modifier import content_modifier

    conds = [Rule(*c) for c in conf.get("conditions", [])]
    return content_modifier(
        df,
        action=conf["action"],
        key=conf["key"],
        value=conf.get("value"),
        pattern=conf.get("pattern"),
        converted_type=conf.get("converted_type"),
        conds=conds or None,
        combine=conf.get("condition_op", "AND"),
    )


def _apply_processors(df: DataFrame, procs: list[dict]) -> DataFrame:
    """Entry point C: the YAML ``processors:`` unit list attached to an
    input/output instance (flb_processor.c:796-810, stages run in config
    order on the instance's records — no Match patterns; attachment IS
    the scope)."""
    for p in procs:
        name = p.get("name")
        if name == "content_modifier":
            df = _content_modifier(df, p)
        elif name == "sql":
            # processor_sql: per-record SELECT/WHERE on the instance
            # stream (plugins/processor_sql/sql.c)
            from fluent_bit_spark.sp import SPContext

            ctx = SPContext()
            ctx.register_stream("stream", df)
            df = ctx.sql(p["query"])
        elif name == "labels":
            from fluent_bit_spark.operators.labels import labels_modify

            df = labels_modify(
                df, [tuple(op) for op in p["ops"]],
                labels_col=p.get("labels_col", "labels"),
            )
        elif name == "metrics_selector":
            from fluent_bit_spark.operators.metrics_selector import metrics_selector

            df = metrics_selector(
                df,
                metric_name=p["metric_name"],
                action=p.get("action", "include"),
                operation_type=p.get("operation_type", "regex"),
                name_col=p.get("name_col", "metric_name"),
            )
        elif name == "cumulative_to_delta":
            from fluent_bit_spark.operators.cumulative_to_delta import (
                cumulative_to_delta,
            )

            df = cumulative_to_delta(
                df,
                value_col=p.get("value_col", "value"),
                series_keys=_listopt(p.get("series_keys")) or [],
                time_col=p.get("time_col", TS_COL),
            )
        elif name == "opentelemetry_envelope":
            from fluent_bit_spark.operators.otel_envelope import otel_envelope

            df = otel_envelope(
                df,
                resource_attributes=p.get("resource_attributes"),
                scope_name=p.get("scope_name"),
                scope_version=p.get("scope_version"),
            )
        elif name == "sampling":
            from fluent_bit_spark.operators.sampling import sample_probabilistic

            df = sample_probabilistic(
                df,
                percentage=float(p["percentage"]),
                key=p.get("key", "trace_id"),
            )
        else:
            raise ValueError(f"unknown processor {name!r}")
    return df


def _build_parser(pconf: dict):
    from fluent_bit_spark.functions.parsers import (
        JsonParser,
        LogfmtParser,
        LtsvParser,
        RegexParser,
    )

    fmt = pconf.get("format", "json")
    types = pconf.get("types")
    if "preset" in pconf:
        # a shipped parsers.conf preset by name (functions.parsers.PRESET_DEFS)
        from fluent_bit_spark.functions.parsers import preset_parser

        obj = preset_parser(pconf["preset"])
        fields = obj.fields() if hasattr(obj, "group_names") else pconf.get("fields")
        return {"obj": obj, "fields": fields, "types": types}
    if fmt == "regex":
        obj = RegexParser(
            pconf["regex"], types=types,
            time_key=pconf.get("time_key"), time_format=pconf.get("time_format"),
        )
        return {"obj": obj, "fields": None, "types": None}
    if fmt == "json":
        return {"obj": JsonParser(schema=pconf.get("schema")), "fields": pconf.get("fields"), "types": types}
    if fmt == "ltsv":
        return {"obj": LtsvParser(), "fields": pconf.get("fields"), "types": types}
    if fmt == "logfmt":
        return {"obj": LogfmtParser(), "fields": pconf.get("fields"), "types": types}
    raise ValueError(f"unknown parser format {fmt!r}")


def load_pipeline(spark: SparkSession, conf: str | dict) -> Pipeline:
    """Build a Pipeline from YAML or classic-mode text/path, or a dict."""
    if isinstance(conf, str):
        import os as _os

        from fluent_bit_spark.pipeline.classic import classic_to_dict

        is_path = "\n" not in conf and conf.endswith((".yml", ".yaml", ".conf"))
        text = open(conf).read() if is_path else conf
        base_dir = _os.path.dirname(_os.path.abspath(conf)) if is_path else None
        stripped = "\n".join(
            ln for ln in text.splitlines() if ln.strip() and not ln.strip().startswith("#")
        )
        if stripped.lstrip().startswith(("[", "@")):
            conf = classic_to_dict(text, base_dir)
        else:
            conf = yaml.safe_load(text)

    parsers = {p["name"]: _build_parser(p) for p in conf.get("parsers", [])}
    pipe = Pipeline(spark=spark)
    tags: dict[str, frozenset | None] = {}

    for inp in conf.get("pipeline", {}).get("inputs", []):
        tag = inp.get("tag", f"{inp['name']}.0")
        fmt = inp.get("format", inp.get("name", "parquet"))
        if fmt in ("parquet", "json", "csv", "text", "orc"):
            if str(inp.get("stream", "")).lower() in ("true", "on", "1"):
                # streaming twin of the file input: the same config block
                # plus `stream: true` builds a readStream plan, so [FILTER]
                # chains, stateful folds, and [STREAM_TASK] SQL compose on
                # unbounded input; sinks are then driven with writeStream
                # (run_outputs stays the batch path)
                if not inp.get("schema"):
                    raise ValueError(
                        f"input {tag!r}: stream: true requires an explicit "
                        "schema (streaming file sources cannot infer one)"
                    )
                reader = spark.readStream.schema(inp["schema"])
                if inp.get("max_files_per_trigger"):
                    reader = reader.option(
                        "maxFilesPerTrigger", int(inp["max_files_per_trigger"])
                    )
                df = reader.format(fmt).load(inp["path"])
            else:
                reader = spark.read
                if inp.get("schema"):
                    reader = reader.schema(inp["schema"])
                df = reader.format(fmt).load(inp["path"])
        elif fmt == "statsd":
            # in_statsd analog: text lines in the UDP datagram wire format
            from fluent_bit_spark.functions.statsd import statsd_decode

            lines = spark.read.text(inp["path"]).withColumnRenamed("value", "line")
            df = statsd_decode(lines)
        elif fmt == "exec":
            # in_exec: driver-side subprocess, gated on an explicit
            # Allow_Exec opt-in in the config (cluster policy)
            from fluent_bit_spark.streaming.sources import exec_source

            df = exec_source(
                spark,
                command=inp["command"],
                allow_exec=bool(inp.get("allow_exec", False)),
                tag=tag,
                key=inp.get("key", "exec"),
                propagate_exit_code=bool(inp.get("propagate_exit_code", False)),
            )
        elif fmt == "dummy":
            # in_dummy analog (plugins/in_dummy/): a fixed record repeated
            # `samples` times, or an explicit `records` list
            import json as _json

            if "records" in inp:
                rows = inp["records"]
            else:
                rec = inp.get("dummy", {"message": "dummy"})
                if isinstance(rec, str):
                    rec = _json.loads(rec)
                rows = [rec] * int(inp.get("samples", 1))
            df = spark.createDataFrame(rows)
        else:
            raise ValueError(f"unknown input {fmt!r} (streaming inputs: use streaming.sources)")
        # parallelism hint for sources that arrive as one split (e.g. a
        # single-row-group parquet): spread before the per-sink pipelines
        rep = inp.get("repartition")
        if rep:
            n = spark.sparkContext.defaultParallelism if str(rep).lower() in (
                "true", "auto", "on") else int(rep)
            df = df.repartition(n)
        df = df.withColumn(TAG_COL, F.lit(tag))
        if TS_COL not in df.columns:
            ts_from = inp.get("time_key")
            df = df.withColumn(
                TS_COL, F.col(ts_from).cast("timestamp") if ts_from else F.current_timestamp()
            )
        procs = (inp.get("processors") or {}).get("logs") or []
        if procs:
            df = _apply_processors(df, procs)
        pipe.inputs[tag] = df
        # the tag is a literal, so the router knows the input's tag set
        # unless a processor could have rewritten it
        tags[tag] = None if procs else tag_label(tag)

    # filters compose in config order, each routed to the branches its
    # Match selects
    ml_defs = {
        p.get("name"): p.get("rules")
        for p in conf.get("multiline_parsers", [])
        if p.get("rules")
    }
    branches = [(df, tags[tag]) for tag, df in pipe.inputs.items()]
    for fconf in conf.get("pipeline", {}).get("filters", []):
        ml_ref = fconf.get("multiline.parser")
        if fconf.get("name") == "multiline" and ml_ref in ml_defs:
            fconf = {**fconf, "rules_table": ml_defs[ml_ref]}
        branches = _route_filter(branches, fconf, parsers)
    merged = _union([df for df, _ in branches])
    pipe.inputs = {"__filtered__": merged}
    # the SP source can carry every tag its branches can
    labels = [t for _, t in branches]
    label = None if None in labels else frozenset().union(*labels)

    # stream tasks see the filtered stream; a task-level `watermark`
    # (streaming input only) registers a watermarked source for THAT
    # task so its windowed aggregates run append-mode — the SP dialect
    # x always-on-state composition surface. The registration is scoped
    # per task (restored after): a later watermark-less task must see
    # the raw stream, not silently inherit an earlier task's horizon
    pipe.sp.register_stream("pipeline", merged, label)
    for task in conf.get("stream_tasks", []):
        wm = task.get("watermark")
        if wm and merged.isStreaming:
            pipe.sp.register_stream(
                "pipeline", merged.withWatermark(TS_COL, wm), label
            )
            try:
                pipe.sp.sql(task["exec"])
            finally:
                pipe.sp.register_stream("pipeline", merged, label)
        else:
            pipe.sp.sql(task["exec"])

    pipe.outputs = conf.get("pipeline", {}).get("outputs") or []
    for out in pipe.outputs:
        _check_output(merged, out)
    return pipe
