"""Stateful streaming operators: throttle, snapshot ring buffer, multiline.

These are the three reference behaviors Spark's built-in operators can't
express declaratively (SURVEY §4.2): they keep per-key mutable state across
micro-batches. Each uses applyInPandasWithState — Arrow-batched, state in
the Spark state store (RocksDB/HDFS-backed on a real cluster), per-key
parallelism = shuffle partitions.

Batch-mode equivalents live in fluent_bit_spark.operators.* (window
functions); these are the streaming twins.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from fluent_bit_spark.model import TS_COL


def _idle_evict_setup(
    src: DataFrame,
    ts_col: str,
    idle_timeout: float | None,
    watermark: str | None,
    op: str,
):
    """Shared idle-key eviction plumbing for the event-analytics folds
    (the watermark discipline dedup_stream already has, extended to
    applyInPandasWithState): with ``idle_timeout`` set, the stream gets
    an event-time watermark and the fold an EventTimeTimeout — a key
    whose newest event falls ``idle_timeout`` seconds behind the
    watermark is evicted from the state store, so state tracks ACTIVE
    keys, not ever-seen keys (fluent-bit's throttle panes age out the
    same way, plugins/filter_throttle/throttle.h:27-56). Returns
    (stream, GroupStateTimeout mode, idle microseconds | None)."""
    if idle_timeout is None:
        return src, GroupStateTimeout.NoTimeout, None
    if watermark is None:
        raise ValueError(f"{op}: idle_timeout requires a watermark")
    return (
        src.withWatermark(ts_col, watermark),
        GroupStateTimeout.EventTimeTimeout,
        int(idle_timeout * 1_000_000),
    )


def _arm_idle_timeout(state: GroupState, newest_us: int | None, idle_us: int):
    """Schedule this key's eviction at (newest event + idle). Spark
    requires the timeout timestamp to sit beyond the current watermark,
    so a key whose horizon already passed arms for the next tick."""
    if newest_us is None:
        return
    wm_ms = state.getCurrentWatermarkMs()
    state.setTimeoutTimestamp(max(newest_us // 1_000 + idle_us // 1_000, wm_ms + 1))


def throttle_stream(
    sdf: DataFrame,
    rate: int,
    interval_sec: int = 1,
    key: str = "tag",
    time_col: str = TS_COL,
    idle_timeout: float | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming filter_throttle: per-key token counter per interval pane
    (throttle.h:27-56). State = (current_pane, used_count).

    ``idle_timeout`` (seconds, requires ``watermark``) evicts a key whose
    newest event fell that far behind the watermark — the reference's
    panes age out the same way, so on a years-long stream with key churn
    the state store tracks ACTIVE keys, not ever-seen keys. Eviction is
    exactness-free ONLY when ``idle_timeout >= interval_sec``: then the
    evicted state is a pane counter for a pane the watermark already
    closed, so a returning key starts a fresh pane as it would have
    anyway. With panes LONGER than the idle horizon, a key evicted
    mid-pane that returns in the SAME pane would restart used = 0 and
    over-admit — so that configuration raises instead of silently
    loosening the rate contract."""
    if idle_timeout is not None and idle_timeout < interval_sec:
        raise ValueError(
            "throttle_stream: idle_timeout must be >= interval_sec — a key "
            "evicted mid-pane that returns in the same pane would restart "
            "its counter and be over-admitted"
        )
    out_schema = f"{key} string, {time_col} timestamp, passed long"
    state_schema = "pane long, used long"

    def fn(
        key_tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        pane, used = state.get if state.exists else (-1, 0)
        outs = []
        newest = None
        for pdf in pdfs:
            pdf = pdf.sort_values(time_col)
            keep_rows = []
            for ts in pdf[time_col]:
                t_us = int(pd.Timestamp(ts).value // 1_000)
                newest = t_us if newest is None else max(newest, t_us)
                p = int(ts.timestamp() // interval_sec)
                if p > pane:
                    pane, used = p, 0
                elif p < pane:
                    # cross-batch straggler older than the current pane:
                    # late, drop. Resetting here (the pre-r11 `p != pane`)
                    # let a single stale event re-arm a fresh budget for
                    # the CURRENT pane on the flip back — unbounded
                    # over-admission from out-of-order input
                    continue
                if used < rate:
                    used += 1
                    keep_rows.append(ts)
            if keep_rows:
                outs.append(
                    pd.DataFrame(
                        {key: key_tuple[0], time_col: keep_rows, "passed": 1}
                    )
                )
        state.update((pane, used))
        if idle_us is not None:
            _arm_idle_timeout(state, newest, idle_us)
        yield from outs or [pd.DataFrame({key: [], time_col: [], "passed": []})]

    src, mode, idle_us = _idle_evict_setup(
        sdf, time_col, idle_timeout, watermark, "throttle_stream"
    )
    return src.groupBy(key).applyInPandasWithState(
        fn, out_schema, state_schema, "append", mode
    )


def snapshot_stream(
    sdf: DataFrame,
    limit: int,
    flush_value: str,
    key: str = "tag",
    value_col: str = "value",
    time_col: str = TS_COL,
    idle_timeout: float | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming CREATE SNAPSHOT / FLUSH SNAPSHOT (flb_sp_snapshot.c:46-277):
    per-key ring buffer of the last `limit` records; when a record's
    value matches `flush_value`, the buffered records are emitted.

    ``idle_timeout`` (seconds, requires ``watermark``) evicts an idle
    key's ring buffer: records buffered for a key that then goes silent
    past the horizon are DISCARDED, never flushed — the reference's
    snapshot likewise only keeps a bounded recent window, and a flush
    arriving after the idle horizon legitimately has nothing to replay."""
    out_schema = f"{key} string, {time_col} timestamp, {value_col} string"
    state_schema = f"buf array<struct<t: timestamp, v: string>>"

    def fn(key_tuple, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        buf = list(state.get[0]) if state.exists else []
        flushed = []
        newest = None
        for pdf in pdfs:
            pdf = pdf.sort_values(time_col)
            for t, v in zip(pdf[time_col], pdf[value_col]):
                t_us = int(pd.Timestamp(t).value // 1_000)
                newest = t_us if newest is None else max(newest, t_us)
                if str(v) == flush_value:
                    flushed.extend(buf)
                    buf = []
                buf.append((t, str(v)))
                if len(buf) > limit:
                    buf = buf[-limit:]
        state.update((buf,))
        if idle_us is not None:
            _arm_idle_timeout(state, newest, idle_us)
        if flushed:
            yield pd.DataFrame(
                {
                    key: key_tuple[0],
                    time_col: [t for t, _ in flushed],
                    value_col: [v for _, v in flushed],
                }
            )

    src, mode, idle_us = _idle_evict_setup(
        sdf, time_col, idle_timeout, watermark, "snapshot_stream"
    )
    return src.groupBy(key).applyInPandasWithState(
        fn, out_schema, state_schema, "append", mode
    )


def multiline_stream(
    sdf: DataFrame,
    start_pattern: str,
    key: str = "tag",
    line_col: str = "line",
    time_col: str = TS_COL,
    idle_timeout: float | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming multiline reassembly (src/multiline/flb_ml.c:671-870):
    buffer continuation lines per key until the next start line arrives,
    then emit the assembled record.

    ``idle_timeout`` (seconds, requires ``watermark``) is the reference's
    flush timeout: a key idle past the horizon FLUSHES its pending lines
    as one assembled record (the record was never going to get a closing
    start line) and is then evicted — flush-then-evict, so no buffered
    line is ever silently dropped and state tracks active keys only."""
    import re

    out_schema = f"{key} string, message string, n_lines long"
    state_schema = "pending array<string>"
    rx = re.compile(start_pattern)

    def fn(key_tuple, pdfs, state: GroupState):
        if state.hasTimedOut:
            pending = list(state.get[0]) if state.exists else []
            state.remove()
            if pending:
                yield pd.DataFrame(
                    {
                        key: [key_tuple[0]],
                        "message": ["\n".join(pending)],
                        "n_lines": [len(pending)],
                    }
                )
            return
        pending = list(state.get[0]) if state.exists else []
        done: list[list[str]] = []
        newest = None
        for pdf in pdfs:
            pdf = pdf.sort_values(time_col)
            for t, line in zip(pdf[time_col], pdf[line_col]):
                t_us = int(pd.Timestamp(t).value // 1_000)
                newest = t_us if newest is None else max(newest, t_us)
                line = str(line)
                if rx.search(line):
                    if pending:
                        done.append(pending)
                    pending = [line]
                elif pending:
                    pending.append(line)
                else:
                    pending = [line]  # orphan continuation starts a record
        state.update((pending,))
        if idle_us is not None:
            _arm_idle_timeout(state, newest, idle_us)
        if done:
            yield pd.DataFrame(
                {
                    key: key_tuple[0],
                    "message": ["\n".join(ls) for ls in done],
                    "n_lines": [len(ls) for ls in done],
                }
            )

    src, mode, idle_us = _idle_evict_setup(
        sdf, time_col, idle_timeout, watermark, "multiline_stream"
    )
    return src.groupBy(key).applyInPandasWithState(
        fn, out_schema, state_schema, "append", mode
    )


def dedup_stream(
    sdf: DataFrame,
    text_col: str = "text",
    watermark: str = "10 minutes",
    time_col: str = TS_COL,
) -> DataFrame:
    """Streaming exact dedup: first occurrence of each normalized-content
    hash passes, later copies inside the watermark horizon are dropped.

    Built on ``dropDuplicatesWithinWatermark`` — the state store keeps one
    entry per distinct hash and EVICTS it once the watermark passes, which
    is the piece that makes streaming dedup bounded: exact dedup over an
    unbounded stream needs unbounded state, so the horizon IS the contract
    (copies arriving further apart than the watermark both survive; batch
    `extensions.dedup.exact_dedup` is the global pass). Keys are md5 of the
    lower/whitespace-collapsed text, matching the batch operator, so the
    two stages compose into the standard lambda layout."""
    from pyspark.sql import functions as F

    keyed = sdf.withColumn(
        "__h", F.md5(F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")))
    )
    return (
        keyed.withWatermark(time_col, watermark)
        .dropDuplicatesWithinWatermark(["__h"])
        .drop("__h")
    )


def neardup_foreach_batch(
    sink,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    num_bands: int = 8,
    shingle_n: int = 3,
):
    """Streaming MinHash NEAR-dup as a foreachBatch stage — the
    deployment shape for near-duplicate removal over an unbounded stream,
    complementing dedup_stream's exact content-hash pass.

    Why not a state-store operator: a doc must be dropped when ANY of its
    ``num_bands`` band hashes was seen, but streaming state is keyed —
    each (band, bh) key sees only its own bucket, and the cross-key vote
    would need a stream-stream join after a stateful op (unsupported
    chaining). foreachBatch sidesteps it: each micro-batch runs the
    BATCH operator minhash_dedup within the batch (star-edge path,
    skew-proof), then the near-dup history mechanism every family
    shares (extensions.dedup.history_foreach_batch) drops docs whose
    bands hit the (band, bh) history and appends the survivors' bands.

    Semantics: within-batch = exact minhash_dedup semantics; cross-batch
    = unbounded-horizon near-dup against everything ever kept (history
    membership never expires; state is num_bands tiny rows per kept
    doc, compacted offline with extensions.dedup.compact_history).

    Failure ordering: the sink write runs BEFORE the state append, so a
    crash between them re-emits the survivors on replay instead of
    losing them (at-least-once; sinks must be idempotent).

    ``sink(batch_df, batch_id)`` receives the surviving rows. Returns the
    function to pass to ``writeStream.foreachBatch``.
    """
    from fluent_bit_spark.extensions.dedup import (
        history_foreach_batch, minhash_dedup, text_neardup_history,
    )

    process = history_foreach_batch(
        sink, state_dir,
        text_neardup_history(text_col, id_col, num_hashes, num_bands, shingle_n),
        id_col,
    )
    return lambda batch_df, batch_id: process(
        minhash_dedup(batch_df, text_col, id_col, num_hashes, num_bands, shingle_n),
        batch_id,
    )


def image_neardup_foreach_batch(
    sink,
    state_dir: str,
    max_hamming: int = 3,
    id_col: str = "media_id",
):
    """Streaming image NEAR-dup as a foreachBatch stage — "is this image
    a near-dup of anything ever seen". Per micro-batch
    (extensions.dedup.history_foreach_batch over
    extensions.multimodal.image_neardup_history): decode + dHash once,
    drop within-batch near-dups (image_neardup_join pairs: the lower id
    of each pair survives), probe the (band, bv, dhash) history with an
    EXACT Hamming verify, ``sink(survivors, batch_id)``, then append the
    survivors' band rows. Sink-before-state: a crash between the two
    re-emits on replay and loses nothing. Returns the function to pass
    to ``writeStream.foreachBatch``."""
    from fluent_bit_spark.extensions.dedup import history_foreach_batch
    from fluent_bit_spark.extensions.multimodal import image_neardup_history

    return history_foreach_batch(
        sink, state_dir, image_neardup_history(max_hamming, id_col), id_col
    )


def audio_neardup_foreach_batch(
    sink,
    state_dir: str,
    max_ber: float = 0.25,
    id_col: str = "media_id",
    max_bucket: int | None = None,
    energy_floor: float | None = None,
):
    """Streaming audio NEAR-dup as a foreachBatch stage — "is this clip
    a near-dup of anything ever heard". Per micro-batch
    (extensions.dedup.history_foreach_batch over
    extensions.multimodal.audio_neardup_history): fingerprint once,
    collapse within-batch near-dups (audio_neardup_join pairs, lower id
    survives), probe the (bh, idx, fp) subfingerprint history with the
    exact aligned-BER verify, ``sink(survivors, batch_id)``, then append
    the survivors' subfingerprint rows. Sink-before-state: a crash
    between the two re-emits on replay and loses nothing.
    ``max_bucket`` caps the within-batch probe buckets; ``energy_floor``
    gates the probes of both stages and what the history stores."""
    from fluent_bit_spark.extensions.dedup import history_foreach_batch
    from fluent_bit_spark.extensions.multimodal import audio_neardup_history

    family = audio_neardup_history(
        max_ber, id_col, energy_floor=energy_floor, max_bucket=max_bucket
    )
    return history_foreach_batch(sink, state_dir, family, id_col)


def video_neardup_foreach_batch(
    sink,
    state_dir: str,
    max_hamming: int = 3,
    id_col: str = "media_id",
    every_ms: int | None = None,
    max_bucket: int | None = None,
):
    """Streaming video NEAR-dup as a foreachBatch stage — "is this clip
    a near-dup of anything ever screened". Per micro-batch
    (extensions.dedup.history_foreach_batch over
    extensions.video.video_neardup_history): decode + fingerprint once,
    collapse within-batch near-dups (video_neardup_join pairs, lower id
    survives), probe the (band, bv, idx, fp) frame-band history with the
    exact aligned mean-Hamming verify (a re-ingested TRIM of an archived
    clip still drops), ``sink(survivors, batch_id)``, then append the
    survivors' band rows. Sink-before-state: a crash between the two
    re-emits on replay and loses nothing. ``max_bucket`` (the
    black-frame/test-card hot-bucket guard) caps the within-batch probe
    buckets; ``every_ms`` sets the frame sampling cadence for both
    stages (a history written at one cadence must be probed at the same
    cadence — offsets count SAMPLED positions)."""
    from fluent_bit_spark.extensions.dedup import history_foreach_batch
    from fluent_bit_spark.extensions.video import video_neardup_history

    family = video_neardup_history(
        max_hamming, id_col, every_ms, max_bucket=max_bucket
    )
    return history_foreach_batch(sink, state_dir, family, id_col)


def funnel_levels_stream(
    sdf: DataFrame,
    steps: list[str],
    window: float | None = None,
    ts_col: str = TS_COL,
    user_col: str = "user_id",
    type_col: str = "event_type",
    idle_timeout: float | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming twin of ``extensions.funnel.funnel_levels``: each user's
    progression through ``steps`` as a per-key monotone state machine
    (state = (level, chain-anchor ts, last-step ts) — exactly the fold
    accumulator of the batch operator), emitting an updated
    (user, funnel_level) row whenever a batch changes the user's level
    (and once at level 0 on first sight, so every observed user appears,
    matching the batch contract). The LAST emitted row per user equals
    the batch result whenever events arrive time-ordered across
    micro-batches (within-batch disorder is sorted away; cross-batch
    disorder is the streaming caveat, same as any in-order fold).

    Reference context: fluent-bit's SP dialect is streaming-first
    (src/stream_processor/flb_sp.c:2101 timer-flushed windows); this
    extends the engine's event-analytics family to that shape. State is
    three scalars per user — KB-bounded, RocksDB-ready.

    With ``idle_timeout`` (seconds; requires ``watermark``), an idle
    user evicts; one who re-enters restarts at level 0 and re-emits a
    first-sight row — funnel progressions become per-active-spell, the
    always-on deployment semantics (see user_journey_stream)."""
    if not steps:
        raise ValueError("funnel_levels_stream: steps must be non-empty")
    k = len(steps)
    win_us = None if window is None else int(window * 1_000_000)
    utype = sdf.schema[user_col].dataType.simpleString()
    out_schema = f"{user_col} {utype}, funnel_level int"
    state_schema = "lvl int, t1 long, last long, seen boolean"

    def fn(key_tuple, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            lvl, t1, last, seen = state.get
        else:
            lvl, t1, last, seen = 0, None, None, False
        first_sight = not seen
        lvl0 = lvl
        newest = None
        for pdf in pdfs:
            # [ts, type] matches the batch operator's array_sort over
            # (t, e) structs — equal-timestamp events tie-break by the
            # event string there, so the fold must see the same order.
            pdf = pdf.sort_values([ts_col, type_col])
            for t, e in zip(pdf[ts_col], pdf[type_col]):
                t_us = int(pd.Timestamp(t).value // 1_000)
                newest = t_us if newest is None else max(newest, t_us)
                if lvl >= k or str(e) != steps[lvl]:
                    continue
                if lvl > 0:
                    if last is not None and t_us <= last:
                        continue
                    if win_us is not None and t1 is not None and (t_us - t1) > win_us:
                        continue
                if lvl == 0:
                    t1 = t_us
                last = t_us
                lvl += 1
        state.update((lvl, t1, last, True))
        if idle_us is not None:
            _arm_idle_timeout(state, newest, idle_us)
        if first_sight or lvl != lvl0:
            yield pd.DataFrame({user_col: [key_tuple[0]], "funnel_level": [lvl]})

    src, mode, idle_us = _idle_evict_setup(
        sdf.select(user_col, ts_col, type_col), ts_col, idle_timeout,
        watermark, "funnel_levels_stream",
    )
    return src.groupBy(user_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", mode
    )


def session_summaries_stream(
    sdf: DataFrame,
    gap: float = 1800.0,
    watermark: str | None = "30 minutes",
    ts_col: str = TS_COL,
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Streaming twin of ``extensions.funnel.session_summaries`` on the
    BUILT-IN session_window aggregate — Spark merges per-user windows
    whose events fall within ``gap`` of each other and finalizes a
    session once the event-time watermark passes its close, so state
    eviction is automatic (the piece a hand-rolled stateful processor
    would have to reimplement). Emits (user, session_start, duration_s,
    n_events, n_event_types) per CLOSED session; sessions still open at
    the watermark horizon stay in state — the streaming-correct contract
    for an unbounded stream. Columns match the batch operator minus the
    per-user running ``session`` index (meaningless under out-of-order
    session closure); equality on the shared columns is asserted in
    tests/test_streaming.py.

    ``watermark=None`` means the input stream ALREADY carries an
    event-time watermark (e.g. a dedup_stream upstream) — Spark
    disallows redefining it across chained stateful operators, so the
    upstream horizon governs session finalization too."""
    from pyspark.sql import functions as F

    gap_expr = f"{gap} seconds" if not isinstance(gap, str) else gap
    src = sdf.select(user_col, ts_col, type_col)
    if watermark is not None:
        src = src.withWatermark(ts_col, watermark)
    return (
        src
        .groupBy(F.col(user_col), F.session_window(F.col(ts_col), gap_expr))
        .agg(
            F.min(ts_col).alias("session_start"),
            (
                (F.unix_micros(F.max(ts_col)) - F.unix_micros(F.min(ts_col)))
                / F.lit(1_000_000.0)
            ).alias("duration_s"),
            F.count(F.lit(1)).alias("n_events"),
            F.size(F.collect_set(type_col)).cast("long").alias("n_event_types"),
        )
        .select(
            user_col, "session_start", "duration_s", "n_events", "n_event_types"
        )
    )


def event_transitions_stream(
    sdf: DataFrame,
    gap: float = 1800.0,
    ts_col: str = TS_COL,
    user_col: str = "user_id",
    type_col: str = "event_type",
    idle_timeout: float | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming twin of ``extensions.funnel.event_transitions``: per-user
    last-event state (type + timestamp — two scalars, KB-bounded,
    RocksDB-ready); each in-session consecutive pair emits one
    transition-count DELTA row (src, dst, transitions). Summing the
    emitted deltas per (src, dst) over the stream's lifetime equals the
    batch operator's ``transitions`` column, and the per-src ``prob``
    follows by normalizing those sums — the batch==stream equality
    asserted in tests/test_streaming.py. Gap semantics match batch
    sessionization: a pair straddling more than ``gap`` seconds starts a
    new session and contributes no transition.

    Same in-order contract as funnel_levels_stream: within-batch
    disorder is sorted away ([ts, type] — the batch window's tie-break);
    cross-batch disorder is the streaming caveat of any in-order fold.

    With ``idle_timeout`` (seconds; requires ``watermark``), a user
    idle past the horizon is evicted; choose idle_timeout >= gap so
    eviction only severs pairs the gap rule would sever anyway — then
    summed deltas stay EXACTLY batch-equal under eviction.

    Reference context: fluent-bit aggregates per-record stream windows
    (src/stream_processor/flb_sp.c:2101); cross-event user journeys are
    engine extension surface, same as the batch operator."""
    gap_us = int(gap * 1_000_000)
    out_schema = "src string, dst string, transitions long"
    state_schema = "last_e string, last_t long"

    def fn(key_tuple, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        last_e, last_t = state.get if state.exists else (None, None)
        deltas: dict = {}
        for pdf in pdfs:
            pdf = pdf.sort_values([ts_col, type_col])
            for t, e in zip(pdf[ts_col], pdf[type_col]):
                t_us = int(pd.Timestamp(t).value // 1_000)
                e = str(e)
                if last_e is not None and (t_us - last_t) <= gap_us:
                    pair = (last_e, e)
                    deltas[pair] = deltas.get(pair, 0) + 1
                last_e, last_t = e, t_us
        state.update((last_e, last_t))
        if idle_us is not None:
            _arm_idle_timeout(state, last_t, idle_us)
        if deltas:
            yield pd.DataFrame(
                {
                    "src": [s for s, _ in deltas],
                    "dst": [d for _, d in deltas],
                    "transitions": list(deltas.values()),
                }
            )

    src, mode, idle_us = _idle_evict_setup(
        sdf.select(user_col, ts_col, type_col), ts_col, idle_timeout,
        watermark, "event_transitions_stream",
    )
    return src.groupBy(user_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", mode
    )


def cohort_retention_stream(
    sdf: DataFrame,
    ts_col: str = TS_COL,
    user_col: str = "user_id",
    max_offset: int | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming twin of ``extensions.funnel.cohort_retention``: per-user
    state = (cohort date = first-seen day, the set of day offsets
    already emitted). Each new (user, day-offset) pair emits one
    (cohort, day_offset, users=+1) DELTA row, so summing deltas per
    (cohort, day_offset) equals the batch matrix — countDistinct becomes
    emit-once-per-member, the streaming-legal form of a distinct
    aggregate. State grows with the user's distinct ACTIVE days (not
    events); a year-long daily-active user is 365 ints.

    ``max_offset`` (requires ``watermark``) bounds the matrix to the
    retention horizon every real cohort report has (day 0..N): offsets
    beyond it neither emit nor occupy state (state <= max_offset + 1
    ints per user), and once the watermark passes the user's horizon
    day (cohort_day + max_offset) the key can never emit an in-range
    row again and is EVICTED — the closed-window discipline. Summed
    deltas equal the batch matrix restricted to day_offset <=
    max_offset exactly FOR USERS WHO DO NOT RETURN AFTER EVICTION: a
    user re-appearing after their key evicted is indistinguishable
    from a new user and starts a NEW cohort at the return day (one
    extra (return_day, 0, +1) row batch does not have) — the standard
    bounded-state approximation; distinguishing returns from new users
    would require keeping every user key forever, the exact unbounded
    growth max_offset exists to prevent. Cohort reports that must be
    lifetime-exact across arbitrary gaps are the batch operator's job.

    In-order contract: the user's FIRST event must arrive before (or in
    the same micro-batch as) the rest, since it defines the cohort —
    time-ordered sources satisfy this by construction; within-batch
    disorder is sorted away."""
    out_schema = "cohort string, day_offset int, users long"
    state_schema = "cohort_day int, seen array<int>"
    if max_offset is not None and watermark is None:
        raise ValueError("cohort_retention_stream: max_offset requires a watermark")

    def fn(key_tuple, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            cohort_day, seen = state.get
            seen = set(seen)
        else:
            cohort_day, seen = None, set()
        fresh = []
        for pdf in pdfs:
            pdf = pdf.sort_values(ts_col)
            for t in pdf[ts_col]:
                day = int(pd.Timestamp(t).value // 86_400_000_000_000)
                if cohort_day is None:
                    cohort_day = day
                off = day - cohort_day
                if max_offset is not None and off > max_offset:
                    continue  # beyond the horizon: no emission, no state
                if off not in seen:
                    seen.add(off)
                    fresh.append(off)
        state.update((cohort_day, sorted(seen)))
        if max_offset is not None and cohort_day is not None:
            # evict at the first watermark past the horizon day's end
            horizon_ms = (cohort_day + max_offset + 1) * 86_400_000
            state.setTimeoutTimestamp(
                max(horizon_ms, state.getCurrentWatermarkMs() + 1)
            )
        if fresh:
            cohort = pd.Timestamp(cohort_day * 86_400_000_000_000).strftime(
                "%Y-%m-%d"
            )
            yield pd.DataFrame(
                {
                    "cohort": cohort,
                    "day_offset": pd.array(fresh, dtype="int32"),
                    "users": 1,
                }
            )

    src = sdf.select(user_col, ts_col)
    mode = GroupStateTimeout.NoTimeout
    if max_offset is not None:
        src = src.withWatermark(ts_col, watermark)
        mode = GroupStateTimeout.EventTimeTimeout
    return src.groupBy(user_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", mode
    )


def heavy_hitters_stream(
    sdf: DataFrame,
    key_col: str,
    k: int = 100,
    shards: int = 8,
) -> DataFrame:
    """Streaming Misra-Gries heavy hitters — "hot keys right now" over an
    unbounded log stream (the always-on shape of fluent-bit's throttle /
    log_to_metrics filters, plugins/filter_throttle/throttle.c). Keys
    hash into ``shards`` state groups; each group keeps ONE state row
    holding at most k-1 (key, count) MG counters plus its running row
    total — executor/state-store memory is O(k·shards) REGARDLESS of key
    cardinality (assert via the query's stateOperators numRowsTotal ==
    shards, the stream_state_bench discipline).

    Every micro-batch folds its rows into the counters with the same
    weighted per-batch value_counts merge as the batch operator
    (extensions/sketches.py heavy_hitters) and emits the group's FULL
    candidate snapshot (shard, key, count, shard_rows). The batch
    operator's ``exact=False`` contract carries over verbatim: emitted
    counts are MG lower bounds (true - shard_rows/k <= count <= true),
    and because a key's every occurrence lands in ONE shard, any key
    whose true stream count exceeds n/k (n = total rows so far) is
    GUARANTEED present in its shard's next emission — a superset to
    verify downstream, never a miss. No unsound threshold filter is
    applied, for the same reason as batch. NULL keys are dropped (the
    batch op's side-channel count needs a global aggregate a per-shard
    fold can't see).

    The newest snapshot per shard supersedes earlier ones; downstream
    consumers keep the latest emission per (shard, key) — e.g. a
    foreachBatch upsert keyed on shard."""
    if k < 2:
        raise ValueError("k must be >= 2")
    if shards < 1:
        raise ValueError("shards must be >= 1")
    out_schema = "shard int, key string, count long, shard_rows long"
    state_schema = "ks array<string>, cs array<long>, total long"

    def fn(key_tuple, pdfs, state: GroupState):
        if state.exists:
            ks, cs, total = state.get
            counters = dict(zip(ks, cs))
        else:
            counters, total = {}, 0
        for pdf in pdfs:
            vc = pdf["__k"].value_counts()  # dropna: NULL keys documented out
            total += int(vc.sum())
            for key, w in vc.items():
                w = int(w)
                if key in counters:
                    counters[key] += w
                    continue
                if len(counters) < k - 1:
                    counters[key] = w
                    continue
                d = min(w, min(counters.values()))
                dead = []
                for c in counters:
                    counters[c] -= d
                    if counters[c] == 0:
                        dead.append(c)
                for c in dead:
                    del counters[c]
                if w - d > 0:
                    counters[key] = w - d
        state.update((list(counters), [int(v) for v in counters.values()], total))
        if counters:
            yield pd.DataFrame(
                {
                    "shard": int(key_tuple[0]),
                    "key": list(counters),
                    "count": [int(v) for v in counters.values()],
                    "shard_rows": total,
                }
            )

    from pyspark.sql import functions as F

    return (
        sdf.select(
            F.col(key_col).cast("string").alias("__k"),
        )
        .where(F.col("__k").isNotNull())
        .withColumn("__shard", F.pmod(F.xxhash64("__k"), F.lit(shards)).cast("int"))
        .groupBy("__shard")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )


def user_journey_stream(
    sdf: DataFrame,
    steps: list[str],
    window: float | None = None,
    gap: float = 1800.0,
    ts_col: str = TS_COL,
    user_col: str = "user_id",
    type_col: str = "event_type",
    idle_timeout: float | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Funnel fold AND gap sessionization in ONE per-user state pass —
    the single-query form of running funnel_levels_stream and
    session_summaries_stream side by side. Two chained stateful queries
    pay the per-trigger state-commit fixed cost twice (measured ~1.7 s
    per micro-batch per query on local[32], BASELINE.md r7); folding
    both analytics into one applyInPandasWithState operator commits one
    state store per trigger and emits a discriminated union:

      kind='funnel'  -> (user, funnel_level) whenever the level changes
                        (plus the level-0 first-sight row) — identical
                        contract to funnel_levels_stream;
      kind='session' -> (user, session_start, duration_s, n_events,
                        n_event_types) when a later event of the SAME
                        user arrives more than ``gap`` seconds after the
                        session's last event (a far-future closer event
                        per user flushes the tail, the spool-drain
                        idiom; a session with no successor stays open,
                        as in session_summaries_stream).

    State per user = funnel's three scalars + the open session's
    (start, last, count, distinct-type set) — the type set is bounded by
    the event-type alphabet. Same in-order contract as the component
    operators; within-batch disorder sorts away on [ts, type].

    With ``idle_timeout`` (seconds; requires ``watermark``; must be
    >= gap), an idle user's open session is FLUSHED as a final
    kind='session' row and the key evicted (the session could never
    extend past the horizon — see top_session_paths_stream). The
    funnel scalars evict with it: an evicted user re-entering restarts
    at level 0 and re-emits a first-sight row, so funnel rows under
    eviction read as per-active-spell progressions."""
    if not steps:
        raise ValueError("user_journey_stream: steps must be non-empty")
    if idle_timeout is not None and idle_timeout < gap:
        raise ValueError("user_journey_stream: idle_timeout must be >= gap")
    k = len(steps)
    win_us = None if window is None else int(window * 1_000_000)
    gap_us = int(gap * 1_000_000)
    utype = sdf.schema[user_col].dataType.simpleString()
    out_schema = (
        f"kind string, {user_col} {utype}, funnel_level int, "
        "session_start timestamp, duration_s double, n_events long, "
        "n_event_types long"
    )
    state_schema = (
        "lvl int, t1 long, last long, seen boolean, "
        "s_start long, s_last long, s_n long, s_types array<string>"
    )

    def fn(key_tuple, pdfs, state: GroupState):
        if state.hasTimedOut:
            row = None
            if state.exists:
                _, _, _, _, s_start, s_last, s_n, s_types = state.get
                if s_start is not None:
                    row = (
                        "session", key_tuple[0], None,
                        pd.Timestamp(s_start * 1_000, unit="ns"),
                        (s_last - s_start) / 1_000_000.0,
                        s_n, len(s_types or []),
                    )
            state.remove()
            if row is not None:
                yield pd.DataFrame(
                    [row],
                    columns=[
                        "kind", user_col, "funnel_level", "session_start",
                        "duration_s", "n_events", "n_event_types",
                    ],
                )
            return
        if state.exists:
            lvl, t1, last, seen, s_start, s_last, s_n, s_types = state.get
            s_types = set(s_types or [])
        else:
            lvl, t1, last, seen = 0, None, None, False
            s_start, s_last, s_n, s_types = None, None, 0, set()
        first_sight = not seen
        lvl0 = lvl
        closed = []
        for pdf in pdfs:
            pdf = pdf.sort_values([ts_col, type_col])
            for t, e in zip(pdf[ts_col], pdf[type_col]):
                t_us = int(pd.Timestamp(t).value // 1_000)
                e = str(e)
                # --- funnel fold (funnel_levels_stream verbatim) ---
                if lvl < k and e == steps[lvl]:
                    ok = True
                    if lvl > 0:
                        if last is not None and t_us <= last:
                            ok = False
                        elif (
                            win_us is not None
                            and t1 is not None
                            and (t_us - t1) > win_us
                        ):
                            ok = False
                    if ok:
                        if lvl == 0:
                            t1 = t_us
                        last = t_us
                        lvl += 1
                # --- gap sessionization ---
                if s_start is None:
                    s_start, s_last, s_n, s_types = t_us, t_us, 1, {e}
                elif t_us - s_last > gap_us:
                    closed.append((s_start, s_last, s_n, len(s_types)))
                    s_start, s_last, s_n, s_types = t_us, t_us, 1, {e}
                else:
                    s_last = max(s_last, t_us)
                    s_n += 1
                    s_types.add(e)
        state.update(
            (lvl, t1, last, True, s_start, s_last, s_n, sorted(s_types))
        )
        if idle_us is not None:
            _arm_idle_timeout(state, s_last, idle_us)
        rows = []
        if first_sight or lvl != lvl0:
            rows.append(("funnel", key_tuple[0], lvl, None, None, None, None))
        for st, en, n, ntypes in closed:
            rows.append(
                (
                    "session",
                    key_tuple[0],
                    None,
                    pd.Timestamp(st * 1_000, unit="ns"),
                    (en - st) / 1_000_000.0,
                    n,
                    ntypes,
                )
            )
        if rows:
            yield pd.DataFrame(
                rows,
                columns=[
                    "kind", user_col, "funnel_level", "session_start",
                    "duration_s", "n_events", "n_event_types",
                ],
            )

    src, mode, idle_us = _idle_evict_setup(
        sdf.select(user_col, ts_col, type_col), ts_col, idle_timeout,
        watermark, "user_journey_stream",
    )
    return src.groupBy(user_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", mode
    )


def attribution_stream(
    sdf: DataFrame,
    conversion: str = "purchase",
    touch_types: list[str] | None = None,
    lookback: float | None = None,
    model: str = "last_touch",
    ts_col: str = TS_COL,
    user_col: str = "user_id",
    type_col: str = "event_type",
    value_col: str = "value",
    idle_timeout: float | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming attribution: each conversion emits one (channel,
    credit, attributed_value) delta as it arrives, crediting
    ``(direct)`` when no touch qualifies; summed deltas equal the batch
    ``attribution(model=...)`` totals on in-order streams.

    Models and their state:

    - ``last_touch`` — two scalars (latest strictly-earlier qualifying
      touch) plus a PENDING slot for touches sharing the CURRENT
      timestamp: a same-ts touch must not be seen by a same-ts
      conversion (batch requires strictly-earlier), but must not
      clobber the strictly-earlier winner either, so it promotes to
      the scalars only once ts strictly advances.
    - ``first_touch`` with ``lookback=None`` — keep-first two scalars
      (the first touch ever is the first qualifying touch for every
      later conversion; strict ``<`` handles same-ts arrivals).
    - ``first_touch`` with a lookback, and ``linear`` (lookback
      REQUIRED) — a lookback-bounded touch list: touches older than
      ``lookback`` behind the newest event can never qualify for any
      future conversion (conversion ts only grows on in-order
      streams), so the list prunes itself and state is bounded by the
      user's touches-per-lookback-window.

    Tie-breaks replay batch exactly: last_touch picks the channel-desc
    winner at the max qualifying ts (ascending [ts, type] processing
    leaves it in the pending/last slot), first_touch the channel-asc
    winner at the min qualifying ts.

    With ``idle_timeout`` (seconds; requires ``watermark``), a user
    whose newest event falls idle_timeout behind the watermark is
    EVICTED — state tracks active users, not ever-seen users. An
    evicted user re-entering counts as new: their next conversion sees
    no touch history and credits ``(direct)``; choose idle_timeout >=
    lookback so eviction never hides a still-qualifying touch."""
    if model not in ("last_touch", "first_touch", "linear"):
        raise ValueError(f"unknown attribution model {model!r}")
    if model == "linear" and lookback is None:
        raise ValueError(
            "attribution_stream: linear needs a lookback to bound the touch "
            "list; unbounded linear is the batch operator's job"
        )
    gap_us = None if lookback is None else int(lookback * 1_000_000)
    touch_set = None if touch_types is None else {str(t) for t in touch_types}
    out_schema = "channel string, credit double, attributed_value double"
    use_list = model == "linear" or (model == "first_touch" and gap_us is not None)
    if use_list:
        state_schema = "chs array<string>, tss array<long>"
    elif model == "first_touch":
        state_schema = "first_ch string, first_t long"
    else:
        state_schema = "last_ch string, last_t long, pend_ch string, pend_t long"

    def fn(key_tuple, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        if use_list:
            chs, tss = state.get if state.exists else ([], [])
            touches = list(zip(chs, tss))
        elif model == "first_touch":
            first_ch, first_t = state.get if state.exists else (None, None)
        else:
            last_ch, last_t, pend_ch, pend_t = (
                state.get if state.exists else (None, None, None, None)
            )
        deltas: dict = {}
        has_value = None
        newest = None
        for pdf in pdfs:
            if has_value is None:
                has_value = value_col in pdf.columns
            pdf = pdf.sort_values([ts_col, type_col])
            vals = pdf[value_col] if has_value else [0.0] * len(pdf)
            for t, e, v in zip(pdf[ts_col], pdf[type_col], vals):
                t_us = int(pd.Timestamp(t).value // 1_000)
                newest = t_us if newest is None else max(newest, t_us)
                e = str(e)
                if model == "last_touch" and pend_t is not None and t_us > pend_t:
                    last_ch, last_t = pend_ch, pend_t
                    pend_ch = pend_t = None
                if use_list and touches and touches[0][1] < t_us - gap_us:
                    touches = [p for p in touches if t_us - p[1] <= gap_us]
                if e == conversion:
                    if model == "last_touch":
                        ok = (
                            last_ch is not None
                            and last_t < t_us
                            and (gap_us is None or t_us - last_t <= gap_us)
                        )
                        hits = [(last_ch, 1.0)] if ok else []
                    elif use_list:
                        qual = [p for p in touches if p[1] < t_us]
                        if not qual:
                            hits = []
                        elif model == "first_touch":
                            w = min(qual, key=lambda p: (p[1], p[0]))
                            hits = [(w[0], 1.0)]
                        else:
                            n = len(qual)
                            hits = [(ch, 1.0 / n) for ch, _ in qual]
                    else:  # first_touch, no lookback
                        ok = first_ch is not None and first_t < t_us
                        hits = [(first_ch, 1.0)] if ok else []
                    if not hits:
                        hits = [("(direct)", 1.0)]
                    for ch, frac in hits:
                        c, val = deltas.get(ch, (0.0, 0.0))
                        # coalesce like the batch operator: NaN is
                        # truthy, so `v or 0.0` would poison the sum
                        vv = 0.0 if v is None or pd.isna(v) else float(v)
                        deltas[ch] = (c + frac, val + frac * vv)
                # a conversion-type event is ALSO a touch when
                # touch_types lists it explicitly (the batch filter is
                # isin(touch_types)); only the default touch set
                # excludes the conversion type. Recording happens AFTER
                # the attribution above, and the strict `< t_us`
                # comparisons keep an event from touching its own
                # conversion.
                if (e in touch_set) if touch_set is not None else (
                        e != conversion):
                    if use_list:
                        touches.append((e, t_us))
                    elif model == "first_touch":
                        if first_ch is None:
                            first_ch, first_t = e, t_us
                    else:
                        pend_ch, pend_t = e, t_us
        if use_list:
            state.update(([c for c, _ in touches], [t for _, t in touches]))
        elif model == "first_touch":
            state.update((first_ch, first_t))
        else:
            state.update((last_ch, last_t, pend_ch, pend_t))
        if idle_us is not None:
            _arm_idle_timeout(state, newest, idle_us)
        if deltas:
            yield pd.DataFrame(
                {
                    "channel": list(deltas),
                    "credit": [c for c, _ in deltas.values()],
                    "attributed_value": [v for _, v in deltas.values()],
                }
            )

    cols = [user_col, ts_col, type_col]
    if value_col in sdf.columns:
        cols.append(value_col)
    src, mode, idle_us = _idle_evict_setup(
        sdf.select(*cols), ts_col, idle_timeout, watermark, "attribution_stream"
    )
    return src.groupBy(user_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", mode
    )


def top_session_paths_stream(
    sdf: DataFrame,
    gap: float = 1800.0,
    max_steps: int = 5,
    ts_col: str = TS_COL,
    user_col: str = "user_id",
    type_col: str = "event_type",
    idle_timeout: float | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming twin of ``extensions.funnel.top_session_paths``'s path
    extraction: per-user state holds the OPEN session's first
    ``max_steps`` event types (plus its last timestamp); when a later
    event of the same user arrives past ``gap``, the closed session
    emits one (path, sessions=1) delta. Summing deltas per path equals
    the batch per-path session counts over CLOSED sessions (a far-
    future closer event per user flushes the tail; the closer's own
    still-open session never emits — the session_summaries_stream
    contract). The top-k cut itself is a downstream batch aggregate
    over the tiny (path, count) table, where it belongs.

    With ``idle_timeout`` (seconds; requires ``watermark``; must be
    >= gap), an idle user's OPEN session is FLUSHED as closed and the
    key evicted: past the horizon any future event would sit more than
    ``gap`` after the session's last event, so the session could never
    extend — the timeout flush is fluent-bit's multiline/throttle
    aging, and it emits the terminal session batch leaves open (the
    one-session-per-evicted-user delta the closer-event idiom adds in
    tests)."""
    gap_us = int(gap * 1_000_000)
    if idle_timeout is not None and idle_timeout < gap:
        raise ValueError(
            "top_session_paths_stream: idle_timeout must be >= gap, or "
            "eviction could flush a session a within-gap event would extend"
        )
    out_schema = "path string, sessions long"
    state_schema = "steps array<string>, n_steps int, last long"

    def fn(key_tuple, pdfs, state: GroupState):
        if state.hasTimedOut:
            steps = list(state.get[0]) if state.exists else []
            state.remove()
            if steps:
                yield pd.DataFrame({"path": [">".join(steps)], "sessions": [1]})
            return
        if state.exists:
            steps, n_steps, last = state.get
            steps = list(steps)
        else:
            steps, n_steps, last = [], 0, None
        closed: dict = {}
        for pdf in pdfs:
            pdf = pdf.sort_values([ts_col, type_col])
            for t, e in zip(pdf[ts_col], pdf[type_col]):
                t_us = int(pd.Timestamp(t).value // 1_000)
                e = str(e)
                if last is not None and (t_us - last) > gap_us:
                    path = ">".join(steps)
                    closed[path] = closed.get(path, 0) + 1
                    steps, n_steps = [], 0
                if n_steps < max_steps:
                    steps.append(e)
                n_steps += 1
                last = t_us
        state.update((steps, n_steps, last))
        if idle_us is not None:
            _arm_idle_timeout(state, last, idle_us)
        if closed:
            yield pd.DataFrame(
                {"path": list(closed), "sessions": list(closed.values())}
            )

    src, mode, idle_us = _idle_evict_setup(
        sdf.select(user_col, ts_col, type_col), ts_col, idle_timeout,
        watermark, "top_session_paths_stream",
    )
    return src.groupBy(user_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", mode
    )


def active_users_window_stream(
    sdf: DataFrame,
    window_days: int = 7,
    ts_col: str = TS_COL,
    user_col: str = "user_id",
    watermark: str | None = None,
) -> DataFrame:
    """EXACT streaming rolling WAU/MAU — distinct users per
    ``window_days`` ending on each day — via emit-once-per-
    (user, window_end): per-user state is the set of active days; when
    a new day d arrives, the user newly covers exactly the window ends
    in [d, d+window_days-1] that no PREVIOUS active day already
    covered, and each emits one (window_end, users=+1) delta. Summing
    deltas per end is the exact distinct count — countDistinct turned
    into set-membership deltas, the same trick as
    cohort_retention_stream, with fan-out <= window_days per new active
    day. Batch parity (on the ends batch reports — it restricts to
    OBSERVED activity days) is asserted in tests.

    State grows with the user's distinct active days — UNLESS
    ``watermark`` is set, which bounds it to the window: a seen day
    <= watermark_day - window_days can cover no window end any future
    (post-watermark) day can reach, so it PRUNES, and a user whose
    newest day ages past that horizon EVICTS entirely — per-user state
    plateaus at <= window_days ints under continuous activity and
    drops to zero under churn, with emissions unchanged (the pruned
    days were unreachable by every future coverage probe).

    Window ends emit as epoch DAY NUMBERS (timezone-free ints, the
    cross-engine-stable form)."""
    import bisect

    if window_days < 1:
        raise ValueError("window_days must be >= 1")
    out_schema = "window_end_day int, users long"
    state_schema = "seen array<int>"
    day_ms = 86_400_000

    def fn(key_tuple, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        ss = list(state.get[0]) if state.exists else []  # sorted day list
        seen = set(ss)
        fresh: list = []
        for pdf in pdfs:
            pdf = pdf.sort_values(ts_col)
            for t in pdf[ts_col]:
                day = int(pd.Timestamp(t).value // 86_400_000_000_000)
                if day in seen:
                    continue
                for end in range(day, day + window_days):
                    # covered already iff some seen day lies in the
                    # end's window [end - window_days + 1, end]:
                    # the largest seen day <= end decides (O(log n))
                    i = bisect.bisect_right(ss, end)
                    if not (i > 0 and ss[i - 1] > end - window_days):
                        fresh.append(end)
                seen.add(day)
                bisect.insort(ss, day)
        if watermark is not None:
            wm_day = state.getCurrentWatermarkMs() // day_ms
            cut = bisect.bisect_right(ss, wm_day - window_days)
            ss = ss[cut:]  # evictable: can't reach any future end
        if watermark is not None and not ss:
            if state.exists:
                state.remove()
        else:
            state.update((ss,))
            if watermark is not None:
                # the newest day stops mattering once the watermark
                # passes day ss[-1] + window_days; arm eviction there
                state.setTimeoutTimestamp(
                    max((ss[-1] + window_days) * day_ms,
                        state.getCurrentWatermarkMs() + 1)
                )
        if fresh:
            yield pd.DataFrame(
                {"window_end_day": pd.array(fresh, dtype="int32"), "users": 1}
            )

    src = sdf.select(user_col, ts_col)
    mode = GroupStateTimeout.NoTimeout
    if watermark is not None:
        src = src.withWatermark(ts_col, watermark)
        mode = GroupStateTimeout.EventTimeTimeout
    return src.groupBy(user_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", mode
    )


def experiment_stats_stream(
    sdf: DataFrame,
    target: str = "purchase",
    variant_col: str = "variant",
    ts_col: str = TS_COL,
    user_col: str = "user_id",
    type_col: str = "event_type",
    idle_timeout: float | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming twin of ``extensions.funnel.experiment_stats``'s
    counting core: per-user state = (seen, converted) two booleans;
    first sight of a user emits a +1 users delta for their variant,
    first ``target`` event emits a +1 converters delta. The fold keys
    on (variant, user) — exactly the batch groupBy — so a user exposed
    to more than one variant counts once per variant with the
    conversion credited to the variant it happened UNDER, and a null
    variant stays a null group (not the string 'None'). Summing deltas
    per variant gives exactly the batch users/converters columns; the
    derived conv_rate and pooled z-statistic are driver-side arithmetic
    over that tiny per-variant table (compute them in batch with
    experiment_stats semantics — they need the control row, which is a
    cross-variant fact no per-key fold can see).

    With ``idle_timeout`` (seconds; requires ``watermark``), an idle
    user evicts; one who re-enters counts as a NEW user (and may
    convert again) — users/converters become per-active-spell tallies,
    the honest semantics for experiments that outlive a user's
    engagement. Leave unset for lifetime-exact batch parity."""
    out_schema = f"{variant_col} string, users long, converters long"
    state_schema = "seen boolean, conv boolean"

    def fn(key_tuple, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        seen, conv = state.get if state.exists else (False, False)
        du = dc = 0
        variant = key_tuple[0]  # the grouping key, null-preserving
        newest = None
        for pdf in pdfs:
            pdf = pdf.sort_values([ts_col, type_col])
            for e, t in zip(pdf[type_col], pdf[ts_col]):
                t_us = int(pd.Timestamp(t).value // 1_000)
                newest = t_us if newest is None else max(newest, t_us)
                if not seen:
                    seen = True
                    du += 1
                if not conv and str(e) == target:
                    conv = True
                    dc += 1
        state.update((seen, conv))
        if idle_us is not None:
            _arm_idle_timeout(state, newest, idle_us)
        if du or dc:
            yield pd.DataFrame(
                {variant_col: [variant], "users": [du], "converters": [dc]}
            )

    src, mode, idle_us = _idle_evict_setup(
        sdf.select(user_col, variant_col, ts_col, type_col), ts_col,
        idle_timeout, watermark, "experiment_stats_stream",
    )
    return src.groupBy(variant_col, user_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", mode
    )
