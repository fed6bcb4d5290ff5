"""Seeded input generators. The same seed gives byte-identical inputs;
each generator also returns the ground truth the output checkers use.
The engine only ever sees the files written here."""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timedelta, timezone

LEVELS = ("debug", "info", "warn", "error")
METHODS = ("GET", "POST", "PUT", "DELETE")
EVENT_TYPES = ("click", "view", "purchase", "error", "signup")
BASE_TS = datetime(2024, 1, 1, tzinfo=timezone.utc)


# --------------------------------------------------------------------------
# raw log lines (log_batch and its streaming twin)
# --------------------------------------------------------------------------
def apache_line(rng: random.Random, i: int) -> tuple[str, dict]:
    code = rng.choice((200, 200, 200, 201, 204, 301, 404, 500, 502, 503))
    method = rng.choice(METHODS)
    ts = BASE_TS + timedelta(seconds=i)
    rec = {"code": code, "method": method}
    line = (
        f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(256)} - "
        f"u{rng.randrange(500)} [{ts:%d/%b/%Y:%H:%M:%S} +0000] "
        f'"{method} /api/v1/item/{rng.randrange(10_000)} HTTP/1.1" {code} {rng.randrange(50, 50_000)}'
    )
    return line, rec


def app_record(rng: random.Random) -> dict:
    return {
        "level": rng.choice(LEVELS),
        "msg": f"req_{rng.randrange(1_000_000)}",
        "user": f"u{rng.randrange(500)}",
        "code": rng.choice((200, 200, 400, 404, 500)),
        "latency_ms": round(rng.uniform(0.5, 900.0), 2),
    }


def json_line(rec: dict) -> str:
    return json.dumps(rec, separators=(",", ":"))


# the logfmt app names its keys differently from the JSON app
LOGFMT_KEYS = {"level": "lvl", "msg": "message", "user": "account", "code": "rc", "latency_ms": "dur_ms"}


def logfmt_line(rec: dict) -> str:
    return " ".join(f"{LOGFMT_KEYS[k]}={v}" for k, v in rec.items())


MALFORMED = (
    "### truncated write ###",
    '{"level":"info","msg":"req_',
    "<binary garbage> \x7f\x7f",
    "stack trace continues at com.example.Foo",
)


def log_batch_inputs(root: str, seed: int, lines_per_tag: int, bad_share: float):
    """Three text inputs (apache / JSON / logfmt), ``bad_share`` of each
    malformed. Returns per-tag truth: total lines, well-formed lines and
    the well-formed records themselves."""
    rng = random.Random(seed)
    truth = {}
    for tag, kind in (("web.access", "apache"), ("app.json", "json"), ("app.logfmt", "logfmt")):
        d = os.path.join(root, kind)
        os.makedirs(d, exist_ok=True)
        good: list[dict] = []
        lines = []
        for i in range(lines_per_tag):
            if rng.random() < bad_share:
                lines.append(rng.choice(MALFORMED))
                continue
            if kind == "apache":
                line, rec = apache_line(rng, i)
            else:
                rec = app_record(rng)
                line = json_line(rec) if kind == "json" else logfmt_line(rec)
            lines.append(line)
            good.append(rec)
        # two files per input: Spark reads them as separate splits
        half = len(lines) // 2
        for part, chunk in enumerate((lines[:half], lines[half:])):
            with open(os.path.join(d, f"part-{part}.log"), "w") as f:
                f.write("\n".join(chunk) + "\n")
        truth[tag] = {"lines": lines_per_tag, "good": good, "dir": d}
    return truth


def log_batch_routes(truth: dict) -> dict[str, int]:
    """Expected records per output Match pattern for the log_batch
    pipeline (see log_batch.CONF): grep drops malformed and debug lines,
    rewrite_tag moves errors and 5xx responses to errors.*."""
    web = sum(1 for r in truth["web.access"]["good"] if not 500 <= r["code"] <= 599)
    web_err = len(truth["web.access"]["good"]) - web
    app = app_err = 0
    for tag in ("app.json", "app.logfmt"):
        for r in truth[tag]["good"]:
            if r["level"] == "debug":
                continue
            if r["level"] == "error" or 500 <= r["code"] <= 599:
                app_err += 1
            else:
                app += 1
    return {"web.*": web, "errors.*": web_err + app_err, "app.*": app, "*": web + web_err + app + app_err}


# --------------------------------------------------------------------------
# events table (sp_interactive) — same schema as the engine's events table
# --------------------------------------------------------------------------
def events_table(path: str, seed: int, rows: int) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, rows)) + int(BASE_TS.timestamp() * 1_000_000)
    table = pa.table({
        "event_id": pa.array(np.arange(rows, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(rng.integers(0, 1500, rows, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, rows)]),
        "value": pa.array(np.round(rng.gamma(2.0, 25.0, rows), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)]),
    })
    pq.write_table(table, path)


# --------------------------------------------------------------------------
# corpus (the retrieval twin)
# --------------------------------------------------------------------------
def vocabulary(n: int) -> list[str]:
    cons, vows = "bcdfghklmnprstvz", "aeiou"
    words = []
    for i in range(n):
        w, x = "", i
        for _ in range(3):
            w += cons[x % len(cons)] + vows[(x // len(cons)) % len(vows)]
            x //= len(cons) * len(vows)
        words.append(w + str(i % 7))
    return words


def corpus_docs(rng: random.Random, vocab: list[str], first_id: int, n: int) -> list[tuple[int, str]]:
    """Zipf-like word draws; 10-100 words a document, the length range
    of the engine's sf0.1 documents table."""
    weights = [1.0 / (r + 1) ** 0.9 for r in range(len(vocab))]
    docs = []
    for i in range(n):
        words = rng.choices(vocab, weights=weights, k=rng.randint(10, 100))
        docs.append((first_id + i, " ".join(words)))
    return docs


def corpus_vectors(seed: int, first_id: int, n: int, dim: int, n_clusters: int = 16):
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = np.random.default_rng(12345).normal(size=(n_clusters, dim))
    labels = rng.integers(0, n_clusters, n)
    vecs = centers[labels] + 0.35 * rng.normal(size=(n, dim))
    return list(range(first_id, first_id + n)), np.round(vecs, 6)
