"""Shared machinery of the benchmark: Spark sessions, memory sampling,
spans, the Spark event-log reader and summary statistics.

Everything here wraps the engine's public surface from the outside; no
engine module is modified or monkey-patched.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import statistics
import tempfile
import threading
import time
import uuid
from dataclasses import dataclass, field
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parents[1]
WORK_ROOT = REPO_ROOT / ".perfbench_work"
DRIVER_MEM = "1g"


def cores() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------
def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


# --------------------------------------------------------------------------
# run context and scratch space
# --------------------------------------------------------------------------
@dataclass
class RunContext:
    workload: str
    seed: int
    seconds: float
    trace: bool
    scale: float = 1.0  # < 1 shrinks every input (self-test)
    cores: int = field(default_factory=cores)
    work: Path = None  # type: ignore[assignment]

    def __post_init__(self):
        if self.work is None:
            self.work = WORK_ROOT / f"{self.workload}-{os.getpid()}"

    def dir(self, *parts: str) -> str:
        p = self.work.joinpath(*parts)
        p.mkdir(parents=True, exist_ok=True)
        return str(p)

    def scaled(self, n: int, floor: int = 1) -> int:
        return max(floor, int(n * self.scale))


def prepare_workdir(ctx: RunContext) -> None:
    """Point every temporary file of this process and of the JVM it
    launches at the run's own directory inside the checkout."""
    shutil.rmtree(ctx.work, ignore_errors=True)
    (ctx.work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(ctx.work / "tmp")
    tempfile.tempdir = None  # re-read TMPDIR: an earlier run in this process cached its own
    os.environ["SPARK_LOCAL_DIRS"] = str(ctx.work / "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(ctx.cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # few malloc arenas: otherwise the JVM's many threads each grow an
    # arena and peak RSS swings by hundreds of MB between runs
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ.setdefault("PYSPARK_PYTHON", os.environ.get("PYTHON", "python3"))


def remove_workdir(ctx: RunContext) -> None:
    shutil.rmtree(ctx.work, ignore_errors=True)
    with contextlib.suppress(OSError):
        WORK_ROOT.rmdir()  # only when no other run left files behind


# --------------------------------------------------------------------------
# Spark session lifecycle
# --------------------------------------------------------------------------
def start_session(ctx: RunContext, master: str | None = None, event_log: bool = False):
    """Start (or restart) the engine's tuned session via ``get_spark``.

    The first call launches the JVM; later calls after ``stop_session``
    start a fresh SparkContext inside the same JVM."""
    from fluent_bit_spark import get_spark

    tmp = str(ctx.work / "tmp")
    conf = {
        "spark.sql.warehouse.dir": str(ctx.work / "warehouse"),
        "spark.local.dir": tmp,
        # the whole heap is committed and touched at launch, so peak RSS
        # does not depend on how far the heap happened to grow before GC
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
        ),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        logdir = ctx.work / "eventlog"
        logdir.mkdir(parents=True, exist_ok=True)
        conf["spark.eventLog.dir"] = logdir.as_uri()
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return get_spark(f"perfbench-{ctx.workload}", master=master, extra_conf=conf)


def stop_session(spark) -> None:
    spark.stop()


def shutdown_jvm() -> None:
    """Stop the JVM that PySpark launched and wait for it to exit (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


# --------------------------------------------------------------------------
# peak resident memory of the driver JVM plus every Python process
# --------------------------------------------------------------------------
def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as f:
                out.extend(int(p) for p in f.read().split())
        except OSError:
            pass
    return out


class RssSampler:
    """Samples the summed RSS of this process, the JVM and the JVM's
    descendants (PySpark's Python workers) every ``interval`` seconds."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> int:
        pids = {os.getpid()}
        root = jvm_pid()
        if root is not None:
            todo = [root]
            while todo:
                p = todo.pop()
                if p not in pids:
                    pids.add(p)
                    todo.extend(_children(p))
        total = sum(_rss_kb(p) for p in pids)
        self.peak_kb = max(self.peak_kb, total)
        return total

    def _loop(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self):
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
        return self.peak_kb / 1024.0


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------
@dataclass
class Span:
    span_id: int
    parent: int | None
    name: str
    layer: str
    start: float  # epoch seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder around the benchmark's calls into the
    engine. ``enabled=False`` makes ``span`` a no-op context manager, so
    untraced runs pay nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(
            span_id=len(self.spans),
            parent=self._stack[-1].span_id if self._stack else None,
            name=name,
            layer=layer,
            start=time.time(),
            attrs=attrs,
        )
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Layer -> summed self time (span duration minus the part its
        direct children cover)."""
        child_cover: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_cover[s.parent] = child_cover.get(s.parent, 0.0) + s.dur
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + s.dur - child_cover.get(s.span_id, 0.0)
        return out

    def engine_time(self) -> float:
        """Summed self time of every layer but the benchmark's own ``op``
        spans, i.e. the time spent inside the engine calls that spans
        wrap."""
        return sum(v for k, v in self.self_times().items() if k != "bench")

    def spans_named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "run_id": self.run_id,
                    "spans": [
                        {
                            "id": s.span_id, "parent": s.parent, "name": s.name,
                            "layer": s.layer, "start": s.start, "end": s.end,
                            **s.attrs,
                        }
                        for s in self.spans
                    ],
                },
                f,
            )


# --------------------------------------------------------------------------
# Spark event log (traced runs only)
# --------------------------------------------------------------------------
@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)  # id -> {submit, end, stages}
    stages: dict = field(default_factory=dict)  # id -> {tasks, submit, end}
    tasks: list = field(default_factory=list)  # dicts

    @classmethod
    def read(cls, logdir: str) -> "EventLog":
        log = cls()
        for path in sorted(glob.glob(os.path.join(logdir, "*"))):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        log.jobs[ev["Job ID"]] = {
                            "submit": ev["Submission Time"] / 1000.0,
                            "end": None,
                            "stages": list(ev.get("Stage IDs", [])),
                        }
                    elif kind == "SparkListenerJobEnd":
                        job = log.jobs.get(ev["Job ID"])
                        if job is not None:
                            job["end"] = ev["Completion Time"] / 1000.0
                    elif kind == "SparkListenerStageCompleted":
                        info = ev["Stage Info"]
                        log.stages[info["Stage ID"]] = {
                            "tasks": info["Number of Tasks"],
                            "submit": info.get("Submission Time", 0) / 1000.0,
                            "end": info.get("Completion Time", 0) / 1000.0,
                        }
                    elif kind == "SparkListenerTaskEnd":
                        ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                        sr = tm.get("Shuffle Read Metrics") or {}
                        sw = tm.get("Shuffle Write Metrics") or {}
                        log.tasks.append({
                            "stage": ev["Stage ID"],
                            "launch": ti["Launch Time"] / 1000.0,
                            "finish": ti["Finish Time"] / 1000.0,
                            "run_s": tm.get("Executor Run Time", 0) / 1000.0,
                            "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
                            "shuffle_read": sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0),
                            "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                            "spill": tm.get("Memory Bytes Spilled", 0)
                            + tm.get("Disk Bytes Spilled", 0),
                        })
        return log

    def jobs_in(self, start: float, end: float) -> list[int]:
        """Jobs submitted inside [start, end] (epoch seconds). Attribution
        by time catches jobs the engine launches from its own threads,
        which a thread-local job group would miss."""
        return [j for j, v in self.jobs.items() if start <= v["submit"] <= end]

    def counts_in(self, start: float, end: float) -> tuple[int, int, int]:
        jobs = self.jobs_in(start, end)
        stage_ids = {s for j in jobs for s in self.jobs[j]["stages"] if s in self.stages}
        tasks = sum(self.stages[s]["tasks"] for s in stage_ids)
        return len(jobs), len(stage_ids), tasks

    def exec_metrics(self, start: float, end: float, n_cores: int) -> dict[str, float]:
        tasks = [t for t in self.tasks if start <= t["launch"] <= end]
        out = {
            "exec.task_s": sum(t["run_s"] for t in tasks),
            "exec.gc_s": sum(t["gc_s"] for t in tasks),
            "exec.shuffle_write_bytes": float(sum(t["shuffle_write"] for t in tasks)),
            "exec.shuffle_read_bytes": float(sum(t["shuffle_read"] for t in tasks)),
            "exec.spill_bytes": float(sum(t["spill"] for t in tasks)),
            "exec.task_skew": 0.0,
            "exec.core_busy_frac": 0.0,
        }
        if tasks:
            by_stage: dict[int, list] = {}
            for t in tasks:
                by_stage.setdefault(t["stage"], []).append(t)
            longest = max(
                by_stage.values(),
                key=lambda ts: max(t["finish"] for t in ts) - min(t["launch"] for t in ts),
            )
            durs = [t["finish"] - t["launch"] for t in longest]
            med = median(durs)
            out["exec.task_skew"] = max(durs) / med if med > 0 else 1.0
            busy = sum(t["finish"] - t["launch"] for t in tasks)
            out["exec.core_busy_frac"] = busy / (n_cores * max(end - start, 1e-9))
        return out
