"""log_batch: a classic fluent-bit ``.conf`` pipeline, run in batch.

Three tagged text inputs (apache access log, JSON app log, logfmt app
log) go through [PARSER]s, parser filters, grep, modify,
record_modifier and rewrite_tag, and fan out to four outputs (file
json, es bulk, loki, null). One operation is one ``load_pipeline`` plus
``run_outputs`` over the whole input, which is what a migrating
fluent-bit user runs."""

from __future__ import annotations

import os
import shutil
import time

from perfbench import gen
from perfbench.harness import RunContext, Tracer, median, start_session, stop_session

LINES_PER_TAG = 15_000
BAD_SHARE = 0.05

PARSERS = r"""
[PARSER]
    Name   apache
    Format regex
    Regex  ^(?<host>[^ ]*) [^ ]* (?<ruser>[^ ]*) \[(?<time>[^\]]*)\] "(?<method>\S+)(?: +(?<path>[^ ]*) +\S*)?" (?<status>[^ ]*) (?<size>[^ ]*)$
    Types  status:int size:int

[PARSER]
    Name   app_json
    Format json
    Fields level msg user code latency_ms
    Types  code:int latency_ms:float

[PARSER]
    Name   app_logfmt
    Format logfmt
    Fields lvl message account rc dur_ms
    Types  rc:int dur_ms:float
"""

INPUTS = """
[INPUT]
    Name text
    Path {root}/apache
    Tag  web.access

[INPUT]
    Name text
    Path {root}/json
    Tag  app.json

[INPUT]
    Name text
    Path {root}/logfmt
    Tag  app.logfmt
"""

PARSE_FILTERS = """
[FILTER]
    Name     parser
    Match    web.*
    Key_Name value
    Parser   apache
    Preserve_Key On

[FILTER]
    Name     parser
    Match    app.json
    Key_Name value
    Parser   app_json
    Preserve_Key On

[FILTER]
    Name     parser
    Match    app.logfmt
    Key_Name value
    Parser   app_logfmt
    Preserve_Key On
"""

OTHER_FILTERS = r"""
[FILTER]
    Name       grep
    Match      *
    Logical_Op or
    Regex      method ^(GET|POST|PUT|DELETE)$
    Regex      level ^(info|warn|error)$
    Regex      lvl ^(info|warn|error)$

[FILTER]
    Name  modify
    Match *
    Add   env prod

[FILTER]
    Name   record_modifier
    Match  *
    Record cluster bench

[FILTER]
    Name  rewrite_tag
    Match *
    Rule  $level ^error$ errors.$TAG[1] false
    Rule  $lvl ^error$ errors.$TAG[1] false
    Rule  $status ^5[0-9][0-9]$ errors.$TAG[1] false
    Rule  $code ^5[0-9][0-9]$ errors.$TAG[1] false
    Rule  $rc ^5[0-9][0-9]$ errors.$TAG[1] false
"""

OUTPUTS = """
[OUTPUT]
    Name   file
    Match  web.*
    Path   {out}/web
    Format json

[OUTPUT]
    Name  es
    Match errors.*
    Path  {out}/es
    Index app-errors

[OUTPUT]
    Name     loki
    Match    app.*
    Path     {out}/loki
    Labels   tag
    Line_Key value

[OUTPUT]
    Name  null
    Match *
"""


class LogBatch:
    aliases = {
        "throughput_per_s": "pipeline.eps",
        "latency_p50_ms": "pipeline run p50",
    }

    def __init__(self, ctx: RunContext):
        self.ctx = ctx
        self.lines_per_tag = ctx.scaled(LINES_PER_TAG, 200)
        self.results: list[dict] = []  # route counts of every op
        self.reset()

    def reset(self) -> None:
        self.lat: list[float] = []
        self.events = 0
        self.wall = 0.0

    # -- inputs -----------------------------------------------------------
    def generate(self) -> None:
        root = self.ctx.dir("input")
        self.truth = gen.log_batch_inputs(root, self.ctx.seed, self.lines_per_tag, BAD_SHARE)
        self.expected = gen.log_batch_routes(self.truth)
        self.n_input = sum(t["lines"] for t in self.truth.values())
        self.root = root
        self.out = self.ctx.dir("output")

    def conf(self, parse=True, filters=True, outputs=True) -> str:
        text = PARSERS + INPUTS.format(root=self.root)
        if parse:
            text += PARSE_FILTERS
        if filters:
            text += OTHER_FILTERS
        if outputs:
            text += OUTPUTS.format(out=self.out)
        return text

    # -- set-up -----------------------------------------------------------
    def warmup(self, spark) -> None:
        self.one(spark, Tracer(False))

    def prepare(self, spark) -> None:
        """The pipeline has no state to build before it runs."""

    def teardown(self, spark) -> None:
        pass

    # -- measured loop ----------------------------------------------------
    def one(self, spark, tracer: Tracer) -> dict[str, int]:
        from fluent_bit_spark.pipeline import load_pipeline

        with tracer.span("pipeline.build", "pipeline"):
            pipe = load_pipeline(spark, self.conf())
        with tracer.span("pipeline.run", "pipeline"):
            return pipe.run_outputs()

    def run(self, spark, tracer: Tracer, seconds: float) -> None:
        t_end = time.perf_counter() + seconds
        start = time.perf_counter()
        while True:
            t0 = time.perf_counter()
            with tracer.span("op", "bench"):
                routes = self.one(spark, tracer)
            self.lat.append((time.perf_counter() - t0) * 1000.0)
            self.results.append(routes)
            self.events += self.n_input
            if time.perf_counter() >= t_end:
                break
        self.wall += time.perf_counter() - start

    # -- checks -----------------------------------------------------------
    def check(self, spark) -> tuple[int, int, list[str]]:
        errors = []
        for routes in self.results:
            if routes != self.expected:
                errors.append(f"route counts {routes} != {self.expected}")
        matched = self.parse_matches(spark)
        for tag, n in matched.items():
            want = len(self.truth[tag]["good"])
            if n != want:
                errors.append(f"{tag}: parser matched {n} lines, generator wrote {want}")
        return len(self.results) + len(matched), len(errors), errors

    def parse_matches(self, spark) -> dict[str, int]:
        """Lines each parser matched, counted on the parse-only prefix of
        the same pipeline (a matched line has a non-null key field)."""
        from pyspark.sql import functions as F

        from fluent_bit_spark.pipeline import load_pipeline

        df = load_pipeline(spark, self.conf(filters=False, outputs=False)).source()
        key = (
            F.when(F.col("tag") == "web.access", F.col("method"))
            .when(F.col("tag") == "app.json", F.col("level"))
            .otherwise(F.col("lvl"))
        )
        rows = df.groupBy("tag").agg(F.count(key).alias("n")).collect()
        return {r["tag"]: r["n"] for r in rows}

    def end_to_end(self) -> dict[str, float]:
        return {
            "throughput_per_s": self.events / self.wall,
            "latency_p50_ms": median(self.lat),
        }

    # -- traced layer split -----------------------------------------------
    def layers(self, spark, tracer: Tracer, evlog, wall: float) -> dict[str, float]:
        from fluent_bit_spark.pipeline import load_pipeline

        out: dict[str, float] = {}
        builds = tracer.spans_named("pipeline.build")
        runs = tracer.spans_named("pipeline.run")
        out["pipeline.build_s"] = median([s.dur for s in builds])
        out["pipeline.run_s"] = median([s.dur for s in runs])
        out["pipeline.build_jobs"] = median([evlog.counts_in(s.start, s.end)[0] for s in builds])
        out["pipeline.run_jobs"] = median([evlog.counts_in(s.start, s.end)[0] for s in runs])

        # cumulative prefixes of the same plan to a noop sink: scan,
        # +parsers, +other filters
        scan = self.prefix_s(spark, parse=False, filters=False)
        parsed = self.prefix_s(spark, filters=False)
        filtered = self.prefix_s(spark)
        out["model.scan_s"] = scan
        out["parsers.self_s"] = max(parsed - scan, 0.0)
        out["operators.self_s"] = max(filtered - parsed, 0.0)
        fill, out["sinks.self_s"] = self.fill_and_sinks_s(spark)
        # build, cache fill and sinks are timed apart from each other and
        # from the traced loop; they must add up to one traced pipeline run
        op = median([s.dur for s in tracer.spans_named("op")])
        out["trace.layer_sum_frac"] = (out["pipeline.build_s"] + fill + out["sinks.self_s"]) / op
        print(f"log_batch split: build {out['pipeline.build_s']:.3f} s, cache fill {fill:.3f} s "
              f"(noop prefixes: scan {scan:.3f}, +parsers {parsed:.3f}, +filters {filtered:.3f}), "
              f"sinks {out['sinks.self_s']:.3f} s, traced op {op:.3f} s")

        out["parsers.match_ratio"] = sum(self.parse_matches(spark).values()) / self.n_input
        kept = load_pipeline(spark, self.conf(outputs=False)).source().count()
        out["operators.kept_ratio"] = kept / self.n_input
        n_bytes = n_files = 0
        for dirpath, _, files in os.walk(self.out):
            for f in files:
                if f.startswith((".", "_")):
                    continue
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(dirpath, f))
        out["sinks.bytes_out"] = float(n_bytes)
        out["sinks.files_out"] = float(n_files)
        out.update(self.streaming_layers(spark))
        return out

    def prefix_s(self, spark, **kw) -> float:
        """Median time to run a prefix of the pipeline (no outputs) to a
        noop sink; the plan is built before the clock starts."""
        from fluent_bit_spark.pipeline import load_pipeline

        df = load_pipeline(spark, self.conf(outputs=False, **kw)).source()
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        return median(times)

    def fill_and_sinks_s(self, spark) -> tuple[float, float]:
        """Median times of the two halves of ``run_outputs``, each timed on
        its own: filling the cache with the filtered records (the
        pipeline persists them once for all outputs), then writing the
        four outputs from that cache."""
        from pyspark.storagelevel import StorageLevel

        from fluent_bit_spark.pipeline import load_pipeline

        pipe = load_pipeline(spark, self.conf())
        inputs = pipe.inputs
        fills, sinks = [], []
        for _ in range(3):
            t0 = time.perf_counter()
            cached = pipe.source().persist(StorageLevel.MEMORY_AND_DISK)
            cached.count()
            t1 = time.perf_counter()
            pipe.inputs = {"cached": cached}
            try:
                pipe.run_outputs(persist_routes=False)
                sinks.append(time.perf_counter() - t1)
            finally:
                pipe.inputs = inputs
                cached.unpersist()
            fills.append(t1 - t0)
        return median(fills), median(sinks)

    def streaming_layers(self, spark) -> dict[str, float]:
        """The streaming twin of the JSON route: tail_source over the
        spooled input files (one file per micro-batch), parser, streaming
        dedup, a windowed SP task and a checkpointed file sink, drained
        with availableNow. Its StreamingQueryProgress reports give the
        streaming layer's split."""
        from fluent_bit_spark.functions.parsers import JsonParser
        from fluent_bit_spark.operators.parser_filter import parser_filter
        from fluent_bit_spark.sinks import stream_sink
        from fluent_bit_spark.streaming.sources import tail_source
        from fluent_bit_spark.streaming.stateful import dedup_stream
        from fluent_bit_spark.streaming.windows import sp_stream_query

        files = sorted(os.listdir(os.path.join(self.root, "json")))
        src = tail_source(spark, os.path.join(self.root, "json", "*.log"), max_files_per_trigger=1)
        parsed = parser_filter(
            src, "value", JsonParser(), preserve_key=True, fields=["level", "msg", "code"]
        )
        deduped = dedup_stream(parsed, text_col="value", watermark="1 minute")
        counts = sp_stream_query(
            deduped,
            "SELECT level, COUNT(*) AS cnt FROM STREAM:app WINDOW TUMBLING (5 SECOND) GROUP BY level;",
            watermark="",
        )
        query = stream_sink(
            counts, self.ctx.dir("stream", "out"), fmt="json",
            checkpoint=self.ctx.dir("stream", "checkpoint"), trigger_once=True,
        )
        try:
            query.awaitTermination(120)
            progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
        finally:
            query.stop()
        dur = [p["durationMs"] for p in progress]
        ops = [p.get("stateOperators") or [] for p in progress]
        last = ops[-1] if ops else []
        return {
            "streaming.trigger_ms": median([d.get("triggerExecution", 0) for d in dur]),
            "streaming.add_batch_ms": median([d.get("addBatch", 0) for d in dur]),
            "streaming.offset_ms": median([d.get("latestOffset", 0) + d.get("getBatch", 0) for d in dur]),
            "streaming.commit_ms": median([d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur]),
            "streaming.rows_per_batch": median([p["numInputRows"] for p in progress]),
            "streaming.state_rows": float(sum(o.get("numRowsTotal", 0) for o in last)),
            "streaming.state_bytes": float(sum(o.get("memoryUsedBytes", 0) for o in last)),
            "streaming.state_commit_ms": median([sum(o.get("commitTimeMs", 0) for o in x) for x in ops]),
            "streaming.backlog_files_max": float(len(files)),
        }

    def single_core_speedup(self, ctx: RunContext) -> float:
        """One op's time at local[1], after a warm-up op, against the
        local[N] median, in a fresh SparkContext of the same JVM."""
        spark = start_session(ctx, master="local[1]", event_log=False)
        try:
            self.warmup(spark)
            t0 = time.perf_counter()
            self.one(spark, Tracer(False))
            ms = (time.perf_counter() - t0) * 1000.0
        finally:
            stop_session(spark)
        return ms / median(self.lat)

    def close(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
