"""sp_interactive: one client in a closed loop issuing stream-processor
SQL statements over a 100k-row events stream.

The statement mix covers WHERE projections, ``TAG:`` wildcards, TUMBLING
and HOPPING windows, GROUP BY aggregates, CREATE STREAM chains and
SNAPSHOT/FLUSH. Statements come in whole rounds: every template once
with fresh parameters and once repeating the previous round's statement
verbatim, so half the statements repeat and a compile or plan cache can
show without hiding its cost on the distinct ones. Every distinct
statement is checked against a DuckDB twin after the timed loop.

The traced run also runs the retrieval twin (perfbench/corpus.py) in the
same session, for the retrieval and similarity layers."""

from __future__ import annotations

import math
import random
import time
from datetime import datetime

from perfbench import gen
from perfbench.corpus import CorpusTwin
from perfbench.harness import RunContext, Tracer, median

ROWS = 100_000

# (SP statements, DuckDB twin); {x} are seeded parameters
TEMPLATES = [
    (
        ["SELECT event_id, user_id, value FROM STREAM:events "
         "WHERE user_id = {user} AND value > {v};"],
        "SELECT event_id, user_id, value FROM events WHERE user_id = {user} AND value > {v}",
    ),
    (
        ["SELECT event_id, user_id FROM TAG:'events.{tprefix}*' "
         "WHERE value >= {vhigh};"],
        "SELECT event_id, user_id FROM events "
        "WHERE starts_with(event_type, '{tprefix}') AND value >= {vhigh}",
    ),
    (
        ["SELECT event_type, COUNT(*) AS cnt, AVG(value) AS avg_value, MAX(value) AS max_value "
         "FROM STREAM:events WHERE user_id < {ulimit} GROUP BY event_type;"],
        "SELECT event_type, COUNT(*) AS cnt, AVG(value) AS avg_value, MAX(value) AS max_value "
        "FROM events WHERE user_id < {ulimit} GROUP BY event_type",
    ),
    (
        ["SELECT event_type, COUNT(*) AS cnt, SUM(value) AS sum_value FROM STREAM:events "
         "WINDOW TUMBLING ({hours} HOUR) WHERE value > {v} GROUP BY event_type;"],
        "SELECT time_bucket(INTERVAL '{hours} hours', ts) AS window_start, event_type, "
        "COUNT(*) AS cnt, SUM(value) AS sum_value FROM events WHERE value > {v} GROUP BY 1, 2",
    ),
    (
        ["SELECT COUNT(*) AS cnt FROM STREAM:events "
         "WINDOW HOPPING ({hours} HOUR, ADVANCE BY {half} MINUTE) WHERE user_id < {ulimit};"],
        "SELECT ws AS window_start, COUNT(*) AS cnt FROM ("
        " SELECT time_bucket(INTERVAL '{half} minutes', ts) - (k * INTERVAL '{half} minutes') AS ws, ts"
        " FROM events, unnest(generate_series(0, 1)) AS t(k) WHERE user_id < {ulimit}"
        ") WHERE ts >= ws AND ts < ws + INTERVAL '{hours} hours' GROUP BY ws",
    ),
    (
        ["CREATE STREAM hot{n} WITH (tag='hot') AS "
         "SELECT user_id, value FROM TAG:'events.*' WHERE value > {vhigh};",
         "SELECT user_id, COUNT(*) AS cnt, SUM(value) AS sv FROM STREAM:hot{n} "
         "WHERE user_id < {ulimit} GROUP BY user_id;"],
        "SELECT user_id, COUNT(*) AS cnt, SUM(value) AS sv FROM events "
        "WHERE value > {vhigh} AND user_id < {ulimit} GROUP BY user_id",
    ),
    (
        ["CREATE SNAPSHOT recent{n} AS SELECT * FROM STREAM:events LIMIT {limit};",
         "FLUSH SNAPSHOT recent{n} AS SELECT * FROM STREAM:events WHERE value > {v};"],
        "SELECT event_id, user_id, event_type, value FROM events "
        "ORDER BY ts DESC LIMIT {limit}",
    ),
]
PREFIXES = ("cl", "vi", "pu", "er", "si")


# parameters that change a statement's cost; each cycles through its
# values round by round, the same for every seed, so a run's cost mix
# depends only on how many rounds it holds
CHOICES = {
    "v": (0, 25, 50),
    "vhigh": (100, 150, 200),
    "ulimit": (100, 300, 500),
    "hours": (1, 2, 4),
    "limit": (50, 100, 200),
}


def _params(rng: random.Random, step: int, n) -> dict:
    """Parameters of statement ``n``: the cost-changing ones cycle by
    ``step``; the user id and the tag prefix are drawn from ``rng``."""
    p = {k: vals[step % len(vals)] for k, vals in CHOICES.items()}
    p.update(n=n, user=rng.randrange(1500), tprefix=rng.choice(PREFIXES), half=p["hours"] * 30)
    return p


def _norm(v):
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 4)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if hasattr(v, "to_pydatetime"):
        return v.to_pydatetime().replace(tzinfo=None).isoformat()
    if hasattr(v, "item"):
        return _norm(v.item())
    return v


def _rows_key(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


class SpInteractive:
    name = "sp_interactive"
    aliases = {
        "throughput_per_s": "statements per second",
        "latency_p50_ms": "sp.p50_ms",
    }

    def __init__(self, ctx: RunContext):
        self.ctx = ctx
        self.rows = ctx.scaled(ROWS, 500)
        self.rng = random.Random(ctx.seed)
        self.n_fresh = 0
        self.rounds = 0
        self.prev: list[tuple[int, dict]] = []
        self.outputs: dict[tuple, tuple] = {}  # (template, params) -> (cols, rows)
        self.twins = [twin for _, twin in TEMPLATES]
        self.corpus: CorpusTwin | None = None
        self.reset()

    def reset(self) -> None:
        self.lat: list[float] = []
        self.round_rates: list[float] = []  # statements per second of each round
        self.phase: dict[str, list[float]] = {"parse": [], "compile": [], "plan": [], "exec": []}

    # -- inputs -----------------------------------------------------------
    def generate(self) -> None:
        self.events_dir = self.ctx.dir("input")
        gen.events_table(f"{self.events_dir}/events.parquet", self.ctx.seed, self.rows)

    def next_round(self) -> list[tuple[int, dict]]:
        """One round: every template once with fresh parameters and once
        verbatim as in the previous round (half the statements repeat),
        in seeded order. Whole rounds keep the template mix fixed."""
        fresh = [
            (t, _params(self.rng, self.rounds + t, self.n_fresh + t))
            for t in range(len(TEMPLATES))
        ]
        self.n_fresh += len(TEMPLATES)
        self.rounds += 1
        stmts = fresh + (self.prev or fresh)
        self.prev = fresh
        self.rng.shuffle(stmts)
        return stmts

    # -- set-up -----------------------------------------------------------
    def prepare(self, spark) -> None:
        from fluent_bit_spark.model import events_as_stream_table
        from fluent_bit_spark.sp import SPContext

        self.sp = SPContext()
        self.sp.register_stream("events", events_as_stream_table(spark, self.events_dir))

    def warmup(self, spark) -> None:
        """One statement of every template, with fixed parameters."""
        params = _params(random.Random(0), 0, "warm")
        for stmts, _ in TEMPLATES:
            for text in stmts:
                self.sp.sql(text.format(**params)).collect()

    def teardown(self, spark) -> None:
        pass

    # -- measured loop ----------------------------------------------------
    def statement(self, tracer: Tracer, text: str):
        from fluent_bit_spark.sp import parse_sql

        t0 = time.perf_counter()
        with tracer.span("sp.parse", "sp.parse"):
            cmd = parse_sql(text)
        t1 = time.perf_counter()
        with tracer.span("sp.compile", "sp.compile"):
            df = self.sp.execute(cmd)
        t2 = time.perf_counter()
        if tracer.enabled:
            with tracer.span("sp.plan", "sp.plan"):
                df._jdf.queryExecution().executedPlan()
        t3 = time.perf_counter()
        with tracer.span("sp.exec", "sp.exec"):
            rows = df.collect()
        t4 = time.perf_counter()
        if tracer.enabled:
            for k, v in zip(self.phase, (t1 - t0, t2 - t1, t3 - t2, t4 - t3)):
                self.phase[k].append(v * 1000.0)
        return df.columns, rows

    def run(self, spark, tracer: Tracer, seconds: float) -> None:
        if not self.outputs:
            # one untimed round first: the warm-up's single statement per
            # template leaves the first timed rounds measurably slower
            self.round(Tracer(False), [])
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end:
            t0 = time.perf_counter()
            n = self.round(tracer, self.lat)
            self.round_rates.append(n / (time.perf_counter() - t0))

    def round(self, tracer: Tracer, lat: list[float]) -> int:
        """Runs one round; returns the number of statements it issued."""
        n = 0
        for t, params in self.next_round():
            stmts, _ = TEMPLATES[t]
            with tracer.span("op", "bench"):
                for text in stmts:
                    t0 = time.perf_counter()
                    cols, rows = self.statement(tracer, text.format(**params))
                    lat.append((time.perf_counter() - t0) * 1000.0)
                    n += 1
            self.outputs[(t, tuple(sorted(params.items())))] = (cols, rows)
        return n

    def twin(self, spark) -> None:
        """The retrieval twin, run in the traced session (event log on)."""
        self.corpus = CorpusTwin(self.ctx)
        self.corpus_tracer = Tracer(True)
        self.corpus.run(spark, self.corpus_tracer)

    # -- checks -----------------------------------------------------------
    def check(self, spark) -> tuple[int, int, list[str]]:
        attempted, failed, errors = self.check_sql()
        if self.corpus is not None:
            a, f, e = self.corpus.check(spark)
            attempted, failed, errors = attempted + a, failed + f, errors + e
        return attempted, failed, errors

    def check_sql(self) -> tuple[int, int, list[str]]:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET TimeZone='UTC'")
            con.execute(
                "CREATE VIEW events AS SELECT event_id, ts::TIMESTAMP AS ts, user_id, "
                f"event_type, value, props FROM read_parquet('{self.events_dir}/events.parquet')"
            )
            errors = []
            for (t, params), (cols, rows) in self.outputs.items():
                p = dict(params)
                sql = self.twins[t].format(**p)
                want = con.execute(sql)
                wcols = [d[0] for d in want.description]
                if not set(wcols) <= set(cols):
                    errors.append(f"template {t} {p}: columns {cols} lack {wcols}")
                    continue
                # compare on the twin's columns (window_end etc. are extra)
                got = [[r[c] for c in wcols] for r in rows]
                if _rows_key(wcols, got) != _rows_key(wcols, want.fetchall()):
                    errors.append(f"template {t} {p}: differs from DuckDB")
            return len(self.outputs), len(errors), errors
        finally:
            con.close()

    def end_to_end(self) -> dict[str, float]:
        return {
            # every round issues the same statement mix; the median round
            # is not moved by one slow outlier statement
            "throughput_per_s": median(self.round_rates),
            "latency_p50_ms": median(self.lat),
        }

    def layers(self, spark, tracer: Tracer, evlog, wall: float) -> dict[str, float]:
        from fluent_bit_spark.model import events_as_stream_table

        out = {f"sp.{k}_ms": median(v) for k, v in self.phase.items()}
        # each phase of a statement is its own engine call and span
        out["trace.layer_sum_frac"] = tracer.engine_time() / wall
        # one statement runs from its parse span's start to its exec span's end
        counts = [
            evlog.counts_in(p.start, e.end)
            for p, e in zip(tracer.spans_named("sp.parse"), tracer.spans_named("sp.exec"))
        ]
        for i, name in enumerate(("jobs", "stages", "tasks")):
            out[f"sp.{name}_per_query"] = median([c[i] for c in counts])
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            events_as_stream_table(spark, self.events_dir).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        out["model.scan_s"] = median(times)
        out.update(self.corpus.layers(self.corpus_tracer, evlog))
        return out

    def close(self) -> None:
        pass
