"""SPContext — the stream-processor task registry.

Mirrors the reference's task lifecycle (flb_sp.c:58-155 config,
flb_sp_task_create :434) minus the event loop: streams are named
DataFrames; CREATE STREAM re-registers its result as a new source
(reference re-ingests via plugins/in_stream_processor/sp.c:43-85 — here it
is simply a chained DataFrame, so Catalyst can fuse the whole cascade into
one plan); snapshots hold a bounded buffer (flb_sp_snapshot.c:46-277).

Every stream carries a tag label: the set of tags its records can carry,
or None when unknown. CREATE STREAM writes its tag as a literal, so its
result is labelled with that one tag. A TAG:'pattern' source (router
semantics, src/flb_router.c:140) checks each label against the pattern in
Python at compile time: a stream whose tags all match is taken as is, a
stream with no matching tag is left out, and only a stream of unknown or
mixed tags (e.g. ``events``, whose tag is computed per row) is filtered
with ``rlike`` on its ``tag`` column. So a TAG: plan holds one relation
per stream that can match, however many CREATE STREAM statements ran
before it, and ``SELECT *`` over TAG: carries only the columns of those
streams. When no stream can match, the source is an empty frame with the
columns of all tagged streams.

One chain still grows, as fluent-bit's re-ingestion loop does: a CREATE
STREAM whose own tag matches its TAG: source reads its previous result,
so each re-run nests one more copy of it.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fluent_bit_spark.model import TAG_COL, TS_COL
from fluent_bit_spark.sp import ast
from fluent_bit_spark.sp.compiler import (
    compile_select,
    matching_tags,
    tag_label,
    tag_pattern_to_regex,
)
from fluent_bit_spark.sp.parser import parse_sql


@dataclass
class Snapshot:
    df: DataFrame
    limit: int | None
    time_limit_sec: int | None


class SPContext:
    def __init__(self, time_col: str = TS_COL, tag_col: str = TAG_COL, str_conv: bool = True):
        self.streams: dict[str, DataFrame] = {}
        self.stream_tags: dict[str, frozenset | None] = {}
        self.snapshots: dict[str, Snapshot] = {}
        self.time_col = time_col
        self.tag_col = tag_col
        self.str_conv = str_conv

    # -- catalog -----------------------------------------------------------
    def register_stream(self, name: str, df: DataFrame, tags: frozenset | None = None) -> None:
        """Register ``df`` as stream ``name``. ``tags`` is its label: the
        tags its records can carry, or None when unknown."""
        self.streams[name] = df
        self.stream_tags[name] = tags

    def _resolve_source(self, src: ast.Source) -> DataFrame:
        if src.kind == "stream":
            if src.name not in self.streams:
                raise KeyError(f"unknown stream {src.name!r}")
            return self.streams[src.name]
        # TAG: the tagged streams whose label can match, filtered by the
        # wildcard only where the label cannot decide
        tagged = [(n, df) for n, df in self.streams.items() if self.tag_col in df.columns]
        if not tagged:
            raise KeyError("no tagged streams registered for TAG: source")
        hit_rows = F.col(self.tag_col).rlike(tag_pattern_to_regex(src.name))
        parts = []
        for name, df in tagged:
            tags = self.stream_tags.get(name)
            matched = matching_tags(src.name, tags)
            if tags is not None and matched == tags:
                parts.append(df)
            elif matched is None or matched:
                parts.append(df.filter(hit_rows))
        if not parts:
            # nothing can match: no rows, but the columns of every tagged
            # stream, without holding their plans (a streaming source
            # keeps its plan, as a batch frame cannot stand in for it)
            spark = tagged[0][1].sparkSession
            parts = [
                df.filter(F.lit(False)) if df.isStreaming else spark.createDataFrame([], df.schema)
                for _, df in tagged
            ]
        return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)

    # -- execution -----------------------------------------------------------
    def sql(self, text: str) -> DataFrame | None:
        """Parse + compile one SP statement. SELECT / FLUSH return a
        DataFrame; CREATE STREAM/SNAPSHOT register and return the stream."""
        cmd = parse_sql(text)
        return self.execute(cmd)

    def execute(self, cmd: ast.Command) -> DataFrame | None:
        if cmd.kind == "select":
            return self._compile(cmd.select)
        if cmd.kind == "create_stream":
            out = self._compile(cmd.select)
            tag = cmd.props.get("tag", cmd.name)
            out = out.withColumn(self.tag_col, F.lit(tag))
            self.register_stream(cmd.name, out, tag_label(tag))
            return out
        if cmd.kind == "create_snapshot":
            sel = cmd.select
            # snapshots buffer RAW records (flb_sp_snapshot.c stores the
            # arriving msgpack chunks) — an aggregated select would
            # otherwise reach the compiler with its GROUP BY stripped
            # and die in a raw KeyError
            if sel.has_aggregates or sel.group_by:
                raise ValueError(
                    "SP analysis error: CREATE SNAPSHOT buffers records —"
                    " aggregates/GROUP BY are not allowed in its SELECT"
                )
            base = self._compile(
                ast.Select(keys=sel.keys, source=sel.source, where=sel.where)
            )
            limit = sel.limit
            tl = cmd.props.get("time_limit")
            tl_sec = _parse_time_limit(tl) if tl else None
            buf = _snapshot_tail(base, self.time_col, limit, tl_sec)
            self.snapshots[cmd.name] = Snapshot(df=buf, limit=limit, time_limit_sec=tl_sec)
            return buf
        if cmd.kind == "flush_snapshot":
            # batch analog: if any record matches the flush condition, emit
            # the buffered snapshot contents (flb_sp.c:1692-1700). The
            # existence trigger is a LAZY broadcast semi-join against a
            # limit(1) aggregate — no driver-side job at plan time (an
            # eager count() here serialized an extra job per flush).
            snap = self.snapshots.get(cmd.name)
            if snap is None:
                raise KeyError(f"unknown snapshot {cmd.name!r}")
            trigger_one = self._compile(cmd.select).limit(1).select(F.lit(1).alias("__trig"))
            return snap.df.join(F.broadcast(trigger_one), F.lit(True), "left_semi")
        raise ValueError(f"unknown command kind {cmd.kind}")

    def _compile(self, sel: ast.Select) -> DataFrame:
        df = self._resolve_source(sel.source)
        return compile_select(
            sel, df, time_col=self.time_col, tag_col=self.tag_col, str_conv=self.str_conv
        )


def _snapshot_tail(
    df: DataFrame, time_col: str, limit: int | None, time_limit_sec: int | None
) -> DataFrame:
    """Bounded 'last-N / last-T-seconds' buffer, batch form
    (flb_sp_snapshot.c:70-92 eviction)."""
    out = df
    if time_limit_sec is not None and time_col in df.columns:
        # scalar max(ts) + broadcast crossJoin: an empty-spec window here
        # (max over Window.partitionBy()) would move the WHOLE stream to
        # one partition; the 1-row aggregate broadcast keeps the filter
        # fully parallel at any scale
        mx = df.agg(F.max(F.col(time_col)).alias("__max_ts"))
        out = (
            out.crossJoin(F.broadcast(mx))
            .filter(
                F.col(time_col)
                >= F.col("__max_ts") - F.make_dt_interval(secs=F.lit(time_limit_sec))
            )
            .drop("__max_ts")
        )
    if limit is not None and time_col in df.columns:
        out = out.orderBy(F.col(time_col).desc()).limit(limit)
    elif limit is not None:
        out = out.limit(limit)
    return out


def _parse_time_limit(v: str) -> int:
    v = str(v).strip().lower()
    for suffix, mult in (("s", 1), ("m", 60), ("h", 3600)):
        if v.endswith(suffix):
            return int(v[:-1]) * mult
    return int(v)
