"""Long-run streaming STATE measurement (not throughput): drive a
multi-batch sequence through the two stateful dedup paths and record
per-batch state growth.

1. ``dropDuplicatesWithinWatermark`` (dedup_stream): state-store rows,
   memory, and the watermark's EVICTION behavior — rows for hashes older
   than the horizon must leave state, so steady-state size is bounded by
   (distinct hashes per horizon), not stream length. Runs on the RocksDB
   state store provider when the JVM has it (it ships with Spark 4),
   falling back to the default HDFS-backed provider otherwise; the
   provider in effect is printed.

2. The band-hash HISTORY table (dedup_against_history via
   neardup_foreach_batch's semantics): by design membership never
   expires, so the table grows with distinct kept docs — the measurement
   records rows, parquet files and bytes per batch and the effect of
   compact_history after replayed (duplicate) appends. The TTL knob for
   history is horizon pruning at compaction time (drop bands whose docs
   fell out of the retention window) — NOT implemented here because near-dup history is
   intentionally unbounded; compaction keeps it at one row per
   (band, doc) forever.

Each micro-batch carries ``DOCS_PER_BATCH`` docs: ~30% exact duplicates
of the previous batch (inside the watermark -> must be dropped and must
not grow state), the rest fresh. Event time advances BATCH_GAP_S per
batch so the watermark moves and eviction is observable.

Usage: python tools/stream_state_bench.py [n_batches] [docs_per_batch]
Prints a per-batch table and a JSON summary line for BASELINE.md.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import pandas as pd  # module-level: pandas_udf type-hint resolution
from pyspark.sql import functions as F

BATCH_GAP_S = 60           # event-time advance per batch
WATERMARK = "90 seconds"   # ~1.5 batches of horizon


def _parquet_files(root: str) -> tuple[int, int]:
    """(file count, total bytes) of the parquet files under ``root``."""
    sizes = [p.stat().st_size for p in Path(root).rglob("*.parquet")]
    return len(sizes), sum(sizes)


def synth_batch(spark, batch_idx: int, n: int):
    """n docs at event time T0 + batch_idx*gap; ids globally unique;
    ~30% of texts repeat the PREVIOUS batch's fresh texts (dups inside
    the watermark horizon)."""
    base = batch_idx * n
    rows = spark.range(base, base + n).select(
        F.col("id").alias("doc_id"),
        F.when(
            (F.col("id") % 10 < 3) & F.lit(batch_idx > 0),
            # duplicate: previous batch's text for the same offset
            F.concat(F.lit("document payload "), (F.col("id") - n).cast("string")),
        ).otherwise(
            F.concat(F.lit("document payload "), F.col("id").cast("string"))
        ).alias("text"),
        F.timestamp_seconds(
            F.lit(1_700_000_000 + batch_idx * BATCH_GAP_S) + (F.col("id") % 7)
        ).alias("timestamp"),
    )
    return rows


def run(n_batches: int, docs_per_batch: int) -> dict:
    from fluent_bit_spark import get_spark
    from fluent_bit_spark.extensions.dedup import (
        append_history, compact_history, dedup_against_history,
        history_data_dir,
    )
    from fluent_bit_spark.streaming.stateful import dedup_stream

    spark = get_spark("stream-state-bench")
    rocksdb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    try:
        spark._jvm.java.lang.Class.forName(rocksdb)
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", rocksdb)
        provider = "rocksdb"
    except Exception:
        provider = "hdfs-backed (default)"
    print(f"state store provider: {provider}")

    work = Path(tempfile.mkdtemp(prefix="fbs_state_bench_"))
    src = work / "in"
    src.mkdir()
    ckpt = str(work / "ckpt")
    out = str(work / "out")
    hist = str(work / "hist")

    sdf = (
        spark.readStream.schema("doc_id long, text string, timestamp timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    deduped = dedup_stream(sdf, text_col="text", watermark=WATERMARK)
    per_batch = []

    q = None
    try:
        for b in range(n_batches):
            pdf = synth_batch(spark, b, docs_per_batch).toPandas()
            with open(src / f"b{b:05d}.json", "w") as f:
                for r in pdf.itertuples(index=False):
                    f.write(json.dumps({
                        "doc_id": int(r.doc_id), "text": r.text,
                        "timestamp": r.timestamp.isoformat(),
                    }) + "\n")
            # drain exactly the new file, then stop (per-batch metrics)
            q = (
                deduped.writeStream.format("parquet")
                .option("path", out).option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start()
            )
            q.awaitTermination(600)
            prog = q.lastProgress
            ops = (prog or {}).get("stateOperators") or [{}]
            st = ops[0]
            survivors = spark.read.parquet(out)
            # history-table ingest: the kept rows' band hashes append
            kept_this = survivors.filter(
                F.col("doc_id") >= b * docs_per_batch
            )
            dedup_against_history(kept_this, hist, update_state=True)
            hist_rows = spark.read.parquet(history_data_dir(spark, hist)).count()
            hist_files, hist_bytes = _parquet_files(hist)
            per_batch.append({
                "batch": b,
                "state_rows": st.get("numRowsTotal"),
                "state_mem_bytes": st.get("memoryUsedBytes"),
                "rows_evicted": st.get("numRowsRemoved"),
                "hist_rows": hist_rows,
                "hist_files": hist_files,
                "hist_bytes": hist_bytes,
            })
            print(per_batch[-1])
    finally:
        if q is not None and q.isActive:
            q.stop()

    # duplicate-append replay, then compaction: rows collapse back
    survivors = spark.read.parquet(out)
    append_history(survivors, hist)  # simulated replayed batch
    inflated = spark.read.parquet(history_data_dir(spark, hist)).count()
    compacted = compact_history(spark, hist)
    summary = {
        "metric": "stream state growth",
        "provider": provider,
        "n_batches": n_batches,
        "docs_per_batch": docs_per_batch,
        "watermark": WATERMARK,
        "per_batch": per_batch,
        "history_rows_after_replay": inflated,
        "history_rows_after_compaction": compacted,
    }
    print(json.dumps(summary))
    shutil.rmtree(work, ignore_errors=True)
    return summary


def run_heavy_hitters(n_batches: int, rows_per_batch: int, k: int = 100,
                      shards: int = 8) -> dict:
    """State-bound measurement for heavy_hitters_stream: drive batches
    of Zipf-ish keys whose CARDINALITY GROWS with stream length (every
    batch introduces rows_per_batch/2 never-seen keys) and record the
    state operator's numRowsTotal per batch — the claim under test is
    that state stays EXACTLY ``shards`` rows (one MG summary per shard,
    at most k-1 counters inside) no matter how many distinct keys have
    flowed through."""
    import os
    import time

    from fluent_bit_spark import get_spark
    from fluent_bit_spark.streaming.stateful import heavy_hitters_stream

    spark = get_spark("fbs-state-bench-hh")
    work = Path(tempfile.mkdtemp(prefix="fbs_hh_state_"))
    src = work / "in"
    src.mkdir()
    # hot keys + an unbounded cold tail: key cardinality grows linearly
    base = time.time() - 10_000
    for b in range(n_batches):
        fp = src / f"b{b:04d}.json"
        with open(fp, "w") as f:
            for i in range(rows_per_batch):
                if i % 2 == 0:
                    key = f"hot{i % 20}"
                else:
                    key = f"cold{b}_{i}"  # never repeats across batches
                f.write(json.dumps({"k": key}) + "\n")
        os.utime(fp, (base + b, base + b))
    sdf = (
        spark.readStream.schema("k string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    per_batch = []

    def sink(df, epoch_id):
        df.persist().count()
        df.unpersist()

    q = (
        heavy_hitters_stream(sdf, "k", k=k, shards=shards)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(work / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(1200)
    for p_ in q.recentProgress:
        ops = p_.get("stateOperators") or []
        if ops:
            per_batch.append(
                {
                    "batch": p_["batchId"],
                    "input_rows": p_["numInputRows"],
                    "state_rows": ops[0]["numRowsTotal"],
                    "state_bytes": ops[0]["stateMemory"]
                    if "stateMemory" in ops[0]
                    else ops[0].get("memoryUsedBytes"),
                }
            )
    distinct_seen = 20 + (n_batches * rows_per_batch) // 2
    summary = {
        "mode": "heavy_hitters",
        "batches": n_batches,
        "rows_per_batch": rows_per_batch,
        "k": k,
        "shards": shards,
        "distinct_keys_seen_approx": distinct_seen,
        "state_rows_final": per_batch[-1]["state_rows"] if per_batch else None,
        "state_rows_max": max((p_["state_rows"] for p_ in per_batch), default=None),
        "per_batch": per_batch,
    }
    print(json.dumps(summary))
    shutil.rmtree(work, ignore_errors=True)
    return summary


def _drain_batches(spark, make_stream, src: Path, ckpt: str):
    """availableNow drain with maxFilesPerTrigger=1; returns per-batch
    (input_rows, state_rows, batch_duration_ms) from recentProgress."""
    sdf = (
        spark.readStream.schema(
            "user_id long, ts timestamp, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )

    def sink(df, epoch_id):
        df.persist().count()
        df.unpersist()

    q = (
        make_stream(sdf)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(1800)
    out = []
    for p_ in q.recentProgress:
        ops = p_.get("stateOperators") or []
        if ops:
            out.append({
                "batch": p_["batchId"],
                "input_rows": p_["numInputRows"],
                "state_rows": ops[0]["numRowsTotal"],
                "batch_ms": p_.get("batchDuration"),
            })
    return out


def run_churn(n_batches: int = 12, users_per_batch: int = 5_000) -> dict:
    """Idle-eviction plateau for the per-user event-analytics folds (the
    r7 dedup-plateau table's twin): every batch carries a FRESH user
    cohort (100% churn — each user lives one batch, three events, never
    returns) with event time advancing 60 s per batch. Without
    idle_timeout, event_transitions_stream's state grows with ever-seen
    users (n_batches * users_per_batch rows); with idle_timeout=120 s +
    a 10 s watermark, cohorts evict ~2-3 batches after their last event
    and state PLATEAUS at a few cohorts regardless of stream length."""
    import os

    from fluent_bit_spark import get_spark
    from fluent_bit_spark.streaming.stateful import event_transitions_stream

    spark = get_spark("fbs-state-bench-churn")
    results = {}
    for mode, kw in (
        ("no_eviction", {}),
        ("idle_120s", {"idle_timeout": 120.0, "watermark": "10 seconds"}),
    ):
        work = Path(tempfile.mkdtemp(prefix=f"fbs_churn_{mode}_"))
        src = work / "in"
        src.mkdir()
        t0 = 1_700_000_000
        base = __import__("time").time() - 10_000
        for b in range(n_batches):
            fp = src / f"b{b:04d}.json"
            with open(fp, "w") as f:
                for u in range(b * users_per_batch, (b + 1) * users_per_batch):
                    for j, et in enumerate(("view", "click", "purchase")):
                        f.write(json.dumps({
                            "user_id": u,
                            "ts": __import__("datetime").datetime.utcfromtimestamp(
                                t0 + b * BATCH_GAP_S + j
                            ).isoformat(),
                            "event_type": et, "value": 0.0,
                        }) + "\n")
            os.utime(fp, (base + b, base + b))
        per_batch = _drain_batches(
            spark,
            lambda s: event_transitions_stream(s, gap=30.0, ts_col="ts", **kw),
            src, str(work / "ckpt"),
        )
        results[mode] = per_batch
        shutil.rmtree(work, ignore_errors=True)
        print(mode, [p_["state_rows"] for p_ in per_batch])
    summary = {
        "mode": "churn_eviction",
        "n_batches": n_batches,
        "users_per_batch": users_per_batch,
        "final_state_rows": {m: r[-1]["state_rows"] for m, r in results.items()},
        "max_state_rows": {
            m: max(p_["state_rows"] for p_ in r) for m, r in results.items()
        },
        "per_batch_state_rows": {
            m: [p_["state_rows"] for p_ in r] for m, r in results.items()
        },
    }
    print(json.dumps(summary))
    return summary


def run_throttle_churn(n_batches: int = 12, tags_per_batch: int = 5_000) -> dict:
    """Idle-eviction plateau for throttle_stream — the run_churn table's
    twin for the pipeline folds (r9 verdict task #2): every batch
    carries a FRESH tag cohort (100% churn — each tag lives one batch,
    three events, never returns), event time advancing 60 s per batch.
    Without idle_timeout the pane-counter state grows with ever-seen
    tags; with idle_timeout=120 s + a 10 s watermark, cohorts evict ~2-3
    batches after their last event and state plateaus at a few cohorts
    regardless of stream length. The churning key rides the spool's
    event_type column."""
    import os

    from fluent_bit_spark import get_spark
    from fluent_bit_spark.streaming.stateful import throttle_stream

    spark = get_spark("fbs-state-bench-throttle-churn")
    results = {}
    for mode, kw in (
        ("no_eviction", {}),
        ("idle_120s", {"idle_timeout": 120.0, "watermark": "10 seconds"}),
    ):
        work = Path(tempfile.mkdtemp(prefix=f"fbs_thr_churn_{mode}_"))
        src = work / "in"
        src.mkdir()
        t0 = 1_700_000_000
        base = __import__("time").time() - 10_000
        for b in range(n_batches):
            fp = src / f"b{b:04d}.json"
            with open(fp, "w") as f:
                for u in range(b * tags_per_batch, (b + 1) * tags_per_batch):
                    for j in range(3):
                        f.write(json.dumps({
                            "user_id": 0,
                            "ts": __import__("datetime").datetime.utcfromtimestamp(
                                t0 + b * BATCH_GAP_S + j
                            ).isoformat(),
                            "event_type": f"tag{u}", "value": 0.0,
                        }) + "\n")
            os.utime(fp, (base + b, base + b))
        per_batch = _drain_batches(
            spark,
            lambda s: throttle_stream(
                s, rate=2, interval_sec=60, key="event_type", time_col="ts",
                **kw,
            ),
            src, str(work / "ckpt"),
        )
        results[mode] = per_batch
        shutil.rmtree(work, ignore_errors=True)
        print(mode, [p_["state_rows"] for p_ in per_batch])
    summary = {
        "mode": "throttle_churn_eviction",
        "n_batches": n_batches,
        "tags_per_batch": tags_per_batch,
        "final_state_rows": {m: r[-1]["state_rows"] for m, r in results.items()},
        "max_state_rows": {
            m: max(p_["state_rows"] for p_ in r) for m, r in results.items()
        },
        "per_batch_state_rows": {
            m: [p_["state_rows"] for p_ in r] for m, r in results.items()
        },
    }
    print(json.dumps(summary))
    return summary


def run_video_history(n_batches: int = 6, clips_per_batch: int = 200) -> dict:
    """Video-history growth + compaction (r9 verdict stretch #9 — the
    text history's r7 table for the video twin): each batch carries
    ``clips_per_batch`` FRESH 6-frame AVI clips plus 20% TRIMS of the
    previous batch's clips (cross-batch near-dups: they must drop
    against the (band, bv, idx, fp) history and must NOT grow it), run
    through video_neardup_foreach_batch's exact processor. History rows
    grow linearly with KEPT clips only (frames x bands per clip); a
    replayed duplicate append then inflates the table and
    compact_history collapses it back to one row per (band, bv, idx,
    fp, id) — the at-least-once crash-replay hygiene. ``process_s`` is
    the wall time of each batch's foreachBatch call (sink included;
    the summary's ``process_s`` is their sum)."""
    import time

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from fluent_bit_spark import get_spark
    from fluent_bit_spark.extensions.dedup import compact_history, history_data_dir
    from fluent_bit_spark.extensions.multimodal import to_media_frame
    from fluent_bit_spark.extensions.video import (
        append_video_history, make_avi,
    )
    from fluent_bit_spark.streaming.stateful import video_neardup_foreach_batch

    spark = get_spark("fbs-state-bench-video-history")
    work = Path(tempfile.mkdtemp(prefix="fbs_vidhist_"))
    hist = str(work / "hist")

    @pandas_udf("binary")
    def to_clip(seeds: pd.Series, trims: pd.Series) -> pd.Series:
        out = []
        for seed, trim in zip(seeds, trims):
            base = np.random.RandomState(int(seed) % 100_000).randint(
                0, 256, (8, 9)
            ).astype(np.uint8)
            frames = [
                np.roll(base, f, axis=1).copy().tobytes() for f in range(6)
            ]
            out.append(make_avi(9, 8, frames[int(trim):], fps_num=10))
        return pd.Series(out)

    survivors_per_batch: list[int] = []
    sink = lambda bdf, bid: survivors_per_batch.append(bdf.count())
    process = video_neardup_foreach_batch(sink, hist)
    per_batch = []
    last_kept = None
    for b in range(n_batches):
        fresh = spark.range(
            b * clips_per_batch, (b + 1) * clips_per_batch
        ).select(
            F.col("id").alias("media_id"),
            to_clip(F.col("id"), F.lit(0)).alias("content"),
        )
        batch = fresh
        if b > 0:
            trims = spark.range(
                (b - 1) * clips_per_batch, b * clips_per_batch
            ).filter(F.col("id") % 5 == 0).select(
                (F.col("id") + 10_000_000 * b).alias("media_id"),
                to_clip(F.col("id"), F.lit(2)).alias("content"),
            )
            batch = batch.unionByName(trims)
        media = to_media_frame(batch, "media_id", F.col("content"), "video")
        t0 = time.perf_counter()
        process(media, b)
        process_s = time.perf_counter() - t0
        hist_rows = spark.read.parquet(history_data_dir(spark, hist)).count()
        hist_files, hist_bytes = _parquet_files(hist)
        per_batch.append({
            "batch": b,
            "input_clips": clips_per_batch + (
                clips_per_batch // 5 if b else 0
            ),
            "survivors": survivors_per_batch[-1],
            "process_s": round(process_s, 3),
            "hist_rows": hist_rows,
            "hist_files": hist_files,
            "hist_bytes": hist_bytes,
        })
        print(per_batch[-1])
        last_kept = media
    # crash-replay simulation: re-append the last batch's fresh clips
    # (duplicate band rows), then compact back to distinct
    append_video_history(
        last_kept.filter(F.col("media_id") < 10_000_000), hist
    )
    inflated = spark.read.parquet(history_data_dir(spark, hist)).count()
    compacted = compact_history(spark, hist)
    summary = {
        "mode": "video_history_growth",
        "n_batches": n_batches,
        "clips_per_batch": clips_per_batch,
        "per_batch": per_batch,
        "process_s": round(sum(p_["process_s"] for p_ in per_batch), 3),
        "history_rows_after_replay": inflated,
        "history_rows_after_compaction": compacted,
    }
    print(json.dumps(summary))
    shutil.rmtree(work, ignore_errors=True)
    return summary


def run_twins(n_batches: int = 8) -> dict:
    """Per-trigger cost decomposition for the round-8 streaming twins
    (transitions / exact rolling WAU / last-touch attribution): each
    twin drains the same spool at a SMALL and a LARGE rows-per-batch,
    and  fixed = (R*t_small - t_big) / (R - 1)  splits the per-trigger
    state-commit overhead from the per-row slope (t = sec/batch, R =
    rows ratio) — the capacity-planning numbers BASELINE.md quotes for
    the funnel/journey pair."""
    import datetime as dt
    import os
    import time

    from fluent_bit_spark import get_spark
    from fluent_bit_spark.streaming.stateful import (
        active_users_window_stream, attribution_stream,
        event_transitions_stream,
    )

    spark = get_spark("fbs-state-bench-twins")
    # warmup: one throwaway drain so the first measured twin doesn't
    # absorb JVM/Arrow-worker startup (observed as a negative slope)
    wwork = Path(tempfile.mkdtemp(prefix="fbs_twin_warm_"))
    (wwork / "in").mkdir()
    with open(wwork / "in" / "b0.json", "w") as f:
        f.write(json.dumps({"user_id": 1, "ts": "2024-01-01T00:00:00",
                            "event_type": "view", "value": 0.0}) + "\n")
    _drain_batches(
        spark,
        lambda s: event_transitions_stream(s, gap=1800.0, ts_col="ts"),
        wwork / "in", str(wwork / "ckpt"),
    )
    shutil.rmtree(wwork, ignore_errors=True)
    sizes = (2_000, 20_000)
    twins = {
        "event_transitions": lambda s: event_transitions_stream(
            s, gap=1800.0, ts_col="ts"
        ),
        "active_users_window": lambda s: active_users_window_stream(
            s, window_days=7, ts_col="ts"
        ),
        "attribution_last_touch": lambda s: attribution_stream(
            s, conversion="purchase", lookback=86400.0, ts_col="ts"
        ),
    }
    out: dict = {}
    for name, make in twins.items():
        per_size = {}
        for rows in sizes:
            work = Path(tempfile.mkdtemp(prefix=f"fbs_twin_{name}_"))
            src = work / "in"
            src.mkdir()
            base = time.time() - 10_000
            t0 = dt.datetime(2024, 1, 1)
            for b in range(n_batches):
                fp = src / f"b{b:04d}.json"
                with open(fp, "w") as f:
                    for i in range(rows):
                        u = i % (rows // 4)         # ~4 events/user/batch
                        et = ("view", "click", "purchase", "view")[i % 4]
                        ts = t0 + dt.timedelta(
                            days=b, seconds=(i % 86_400)
                        )
                        f.write(json.dumps({
                            "user_id": u, "ts": ts.isoformat(),
                            "event_type": et, "value": 1.0,
                        }) + "\n")
                os.utime(fp, (base + b, base + b))
            t_start = time.perf_counter()
            per_batch = _drain_batches(spark, make, src, str(work / "ckpt"))
            wall = time.perf_counter() - t_start
            per_size[rows] = round(wall / n_batches, 3)
            shutil.rmtree(work, ignore_errors=True)
        r = sizes[1] / sizes[0]
        fixed = (r * per_size[sizes[0]] - per_size[sizes[1]]) / (r - 1)
        out[name] = {
            "sec_per_trigger": per_size,
            "fixed_sec_per_trigger": round(fixed, 3),
            "sec_per_1k_rows": round(
                (per_size[sizes[1]] - per_size[sizes[0]])
                / (sizes[1] - sizes[0]) * 1000, 4,
            ),
        }
        print(name, out[name])
    summary = {"mode": "twins_throughput", "n_batches": n_batches,
               "rows_per_batch": list(sizes), "twins": out}
    print(json.dumps(summary))
    return summary


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "hh":
        n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 10
        rows = int(sys.argv[3]) if len(sys.argv) > 3 else 50_000
        run_heavy_hitters(n_batches, rows)
    elif len(sys.argv) > 1 and sys.argv[1] == "churn":
        n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 12
        users = int(sys.argv[3]) if len(sys.argv) > 3 else 5_000
        run_churn(n_batches, users)
    elif len(sys.argv) > 1 and sys.argv[1] == "throttle_churn":
        n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 12
        tags = int(sys.argv[3]) if len(sys.argv) > 3 else 5_000
        run_throttle_churn(n_batches, tags)
    elif len(sys.argv) > 1 and sys.argv[1] == "video_history":
        n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 6
        clips = int(sys.argv[3]) if len(sys.argv) > 3 else 200
        run_video_history(n_batches, clips)
    elif len(sys.argv) > 1 and sys.argv[1] == "twins":
        run_twins(int(sys.argv[2]) if len(sys.argv) > 2 else 8)
    else:
        n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 8
        docs = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000
        run(n_batches, docs)
