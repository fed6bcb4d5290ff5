"""Deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding cosine.

Scale design notes (the part that matters at 100 TB):
- exact dedup shuffles on a 128-bit content hash — uniformly distributed,
  no skew; row_number-free (min(doc_id) per hash group, map-side partial agg).
- MinHash: shingle explode -> per-doc signature via k min-aggregations of
  xxhash64(shingle, seed) — all JVM built-ins, one shuffle on doc_id;
  banding turns O(n^2) candidate generation into a groupBy on
  (band_idx, band_hash) whose keys are uniform by construction.
- SimHash: bit-vote aggregation, one shuffle; hamming-distance candidate
  pairs via band join on bit slices.
- verification joins (exact Jaccard / cosine) run only on LSH candidates.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import versioned_store


# --------------------------------------------------------------------------
# shingling helpers
# --------------------------------------------------------------------------
def normalize_text(col: Column) -> Column:
    """lower + collapse whitespace (canonical form for hashing)."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def word_shingles(col: Column, n: int = 3) -> Column:
    """Array of word n-gram shingles of the normalized text."""
    words = F.split(normalize_text(col), " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)))
    )


def with_shingle_hashes(
    df: DataFrame, text_col: str, out: str, n: int = 3, keep: list[str] | None = None
) -> DataFrame:
    """Project (keep..., out: array<long>) — one 64-bit hash per word
    n-gram shingle, WITHOUT materializing shingle strings: hash each word
    once, then combine n consecutive word hashes with one fixed-width
    xxhash64. Each input byte is hashed exactly once regardless of n — the
    hot-path form for MinHash at scale (string shingles re-hash every word
    n times per shingle and ~k times more across the k permutations).

    Two projection steps on purpose: the word-hash array must be its own
    alias, else the combine lambda inlines it and recomputes the whole
    array per shingle (O(words^2) hashing).
    """
    keep = keep if keep is not None else [c for c in df.columns if c != text_col]
    wh = F.transform(F.split(normalize_text(F.col(text_col)), " "), lambda w: F.xxhash64(w))
    step = df.select(*keep, wh.alias("__wh"))
    idx = F.sequence(F.lit(1), F.greatest(F.size(F.col("__wh")) - (n - 1), F.lit(1)))
    sh = F.array_distinct(
        F.transform(
            idx,
            lambda i: F.xxhash64(*[F.try_element_at(F.col("__wh"), i + j) for j in range(n)]),
        )
    )
    return step.select(*keep, sh.alias(out))


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------
def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per exact normalized-text duplicate
    group: ONE shuffle on the 128-bit content hash (uniform key), min-id
    window instead of groupBy+self-join."""
    keyed = df.withColumn("__h", F.md5(normalize_text(F.col(text_col))))
    w = Window.partitionBy("__h")
    return (
        keyed.withColumn("__min_id", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("__min_id"))
        .drop("__h", "__min_id")
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------
def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
    repartition: int | None = 0,
) -> DataFrame:
    """(id, sig: array<bigint>) — k-permutation MinHash via xxhash64 seeds.

    ZERO-shuffle formulation: the shingle set is a per-row array, so each
    hash's min is a per-row array_min(transform(...)) — no explode, no
    groupBy. Scales embarrassingly: signature cost is pure map-side CPU.

    ``repartition``: pre-spread rows before the CPU-heavy projection
    (default 0 = sparkContext.defaultParallelism; None = keep input
    partitioning — tiny parquet inputs otherwise pin the work to 1-2
    tasks).
    """
    if repartition == 0:
        repartition = df.sparkSession.sparkContext.defaultParallelism
    if repartition:
        df = df.repartition(repartition)
    # words are hashed ONCE on the JVM side (split + xxhash64 transform);
    # shingle combination and the k permutation-minima run as one numpy
    # pass per Arrow batch. MinHash is duplicate-insensitive (min over a
    # multiset == min over its set), so no distinct step is needed.
    # Catalyst higher-order expressions for the k minima measured ~3×
    # slower — per-element interpretation, not codegen.
    from pyspark.sql.functions import pandas_udf

    # deterministic odd multipliers + offsets for the k permutations
    # (universal hashing over Z_2^64; wraparound intended)
    a_k = np.array(
        [int.from_bytes(__import__("hashlib").sha256(f"a:{i}".encode()).digest()[:8], "big") | 1
         for i in range(num_hashes)], dtype="uint64",
    )
    b_k = np.array(
        [int.from_bytes(__import__("hashlib").sha256(f"b:{i}".encode()).digest()[:8], "big")
         for i in range(num_hashes)], dtype="uint64",
    )
    c1, c2, c3 = np.uint64(0x9E3779B97F4A7C15), np.uint64(0xC2B2AE3D27D4EB4F), np.uint64(0x165667B19E3779F9)
    n = shingle_n

    @pandas_udf("array<long>")
    def sigs(harrs: pd.Series) -> pd.Series:
        out = []
        err = np.seterr(over="ignore")
        try:
            for h in harrs:
                # NULL text -> NULL token array from split(); treat as an
                # empty token list (signature of zero-padded shingles)
                # instead of letting np.asarray raise on None.
                if h is None:
                    h = []
                hv = np.asarray(h, dtype="int64").astype("uint64")
                if hv.size < n:
                    hv = np.pad(hv, (0, n - hv.size))
                # combine n consecutive word hashes into one shingle hash
                s = hv[: hv.size - n + 1] * c1
                for j in range(1, n):
                    mult = c2 if j % 2 else c3
                    s = s ^ (hv[j : hv.size - n + 1 + j] * mult)
                # k permutation minima: min over (a_k * s + b_k)
                perms = s[:, None] * a_k[None, :] + b_k[None, :]
                out.append(perms.min(axis=0).astype("int64"))
        finally:
            np.seterr(**err)
        return pd.Series(out)

    harr = F.transform(F.split(normalize_text(F.col(text_col)), " "), lambda t: F.xxhash64(t))
    return df.select(F.col(id_col), sigs(harr).alias("sig"))


def band_buckets(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = 8,
    sig_len: int | None = None,
) -> DataFrame:
    """(id, band, bh): each doc's LSH bucket key per band — the join/shuffle
    key of the banding stage, exposed so skew tests and diagnostics can
    measure bucket-size distributions directly."""
    if sig_len is None:
        sig_len = sig_df.selectExpr("size(sig) AS n").limit(1).collect()[0].n
    if num_bands > sig_len:
        # F.slice past the array end yields [] and xxhash64([]) is one
        # constant, so the excess bands would put EVERY doc in a shared
        # bucket — in the unverified dedup path that silently collapses
        # the corpus to the global min id. Reject, don't corrupt.
        raise ValueError(
            f"band_buckets: num_bands={num_bands} exceeds signature "
            f"length {sig_len} — use num_bands <= num_hashes"
        )
    rows_per_band = max(1, sig_len // num_bands)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            # xxhash64 hashes the array column directly — no serialization
            F.xxhash64(F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)).alias("bh"),
        )
        for b in range(num_bands)
    ]
    return sig_df.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("bx")
    ).select(id_col, "bx.band", "bx.bh")


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = 8,
    sig_len: int | None = None,
) -> DataFrame:
    """Banding: docs sharing any band of their signature become candidate
    pairs (a < b). groupBy key = (band index, band hash) — uniform over
    DISTINCT texts; exact duplicates must be pre-collapsed (see
    minhash_dedup) or a bucket of m identical docs emits m^2/2 pairs."""
    bands = band_buckets(sig_df, id_col, num_bands, sig_len)
    left = bands.alias("l")
    right = bands.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )
    return pairs


def _source_is_cached(df: DataFrame) -> bool:
    """True when the plan reads an InMemoryRelation (a .cache()d source).

    Why it matters: AQE's ReusedExchange dedupes repeated subtrees by
    CANONICAL PLAN EQUALITY, and InMemoryTableScan instances defeat that
    equality — measured on the banded minhash plan, a cached source turns
    6 reused exchanges into ~80 independently-executed stages (every band
    recomputes the signatures). Operators that bet on exchange reuse must
    switch to an explicit persist in this regime."""
    try:
        return "InMemoryRelation" in df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        return False


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    num_bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float | None = None,
    signature_reuse: str = "auto",
    exact_precollapse: bool = True,
) -> DataFrame:
    """Near-dup removal: LSH candidates (optionally verified with exact
    shingle Jaccard) -> each doc joins its smallest candidate neighbor;
    keep docs that are their own group minimum.

    ``exact_precollapse`` (default on) first collapses EXACT normalized
    duplicates to their min-id representative with one uniform content-hash
    shuffle. This is the adversarial-skew guard: a boilerplate page
    repeated m times shares every band hash, so the banding self-join
    would emit m^2/2 pairs in one bucket (10M copies -> 5e13 pairs). The
    keep-set is provably unchanged — identical docs share signatures (LSH
    would collapse them to the same min id) and jaccard(identical)=1
    passes any threshold, so pre-collapsing only reroutes those drops
    through the cheap exact stage.

    The signature subtree appears on both self-join sides and under
    ids / verification / losers. ``signature_reuse`` controls how the
    repeated computation collapses:

    - ``"aqe"``: rely on AQE's ReusedExchange (runtime-guarded in
      tests/test_plans.py). Measured faster than persist on file-scan
      sources — no job barriers.
    - ``"persist"``: cache the signature frame explicitly.
    - ``"auto"`` (default): "aqe" normally, but "persist" when the INPUT
      is itself .cache()d — InMemoryTableScan breaks AQE's canonical
      plan equality, silently re-running the Arrow signature pass once
      per band (measured: 6 reused exchanges -> ~80 live stages).
    """
    work = exact_dedup(df, text_col, id_col) if exact_precollapse else df
    sig = minhash_signatures(work, text_col, id_col, num_hashes, shingle_n)
    if signature_reuse not in ("auto", "aqe", "persist"):
        raise ValueError(f"unknown signature_reuse {signature_reuse!r}")
    if signature_reuse == "persist" or (
        signature_reuse == "auto" and _source_is_cached(df)
    ):
        # EAGER materialization is the point: a lazy persist inside one
        # action lets every band-side reference race the still-empty
        # cache and recompute anyway. localCheckpoint rather than
        # persist(): one job computes the Arrow signature pass exactly
        # once, downstream reads blocks, and the blocks are auto-cleaned
        # when the RDD is garbage-collected — a cacheManager persist
        # would leak one session-lifetime cache entry per call.
        sig = sig.localCheckpoint(eager=True)
    if jaccard_threshold is None:
        # UNVERIFIED path: the keep rule is "dropped iff some smaller-id
        # candidate shares a band", and a candidate c < d in bucket b
        # implies bucket_min(b) <= c < d — so star edges to each bucket's
        # min id give the IDENTICAL keep set as all pairwise candidates,
        # in O(bucket) instead of O(bucket^2). This is the template-
        # cluster skew guard: 10M near-identical pages share buckets even
        # after the exact pre-collapse, and the pairwise self-join would
        # emit 5e13 rows there. groupBy min is map-side combinable and
        # the co-partitioned join back is AQE-skew-splittable.
        bands = band_buckets(sig, id_col, num_bands, sig_len=num_hashes)
        bmin = bands.groupBy("band", "bh").agg(F.min(id_col).alias("__bmin"))
        losers = (
            bands.join(bmin, ["band", "bh"])
            .filter(F.col(id_col) > F.col("__bmin"))
            .select(id_col)
            .distinct()
        )
    else:
        # VERIFIED path: star edges are not equivalent (a doc may fail
        # verification against the bucket min yet pass against another
        # member), so candidates stay pairwise — bounded by the exact
        # pre-collapse for identical docs; template-scale NEAR-dup
        # clusters remain quadratic here by the semantics of pairwise
        # verification itself.
        pairs = lsh_candidate_pairs(sig, id_col, num_bands, sig_len=num_hashes)
        verified = ngram_jaccard_pairs(work, pairs, text_col, id_col, shingle_n)
        pairs = verified.filter(F.col("jaccard") >= jaccard_threshold).select("id_a", "id_b")
        losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    # exact losers (df minus work) were already dropped by the pre-collapse
    return work.join(losers, id_col, "left_anti")


class NearDupHistory(NamedTuple):
    """What one near-dup family (text, image, audio, video) supplies to
    the history mechanism below; the probe, the append and the
    foreachBatch body are written once, for all of them.

    - ``fingerprint(frame)``: the family's fingerprint rows for a frame,
      keyed by the column ``id``. The mechanism pins them, so a frame
      is fingerprinted once per call.
    - ``rows(fingerprint)``: the history rows, ``id`` followed by the
      stored layout in its on-disk column order.
    - ``key``: the layout columns a probe joins the stored rows on.
    - ``verify(hits, fingerprint)``: keeps the verified candidates of
      ``hits`` — the key join of the probe rows (alias ``p``) with the
      stored rows (alias ``s``) — with ``id`` still selectable. None
      means every key hit is a duplicate.
    - ``pairs(fingerprint)``: the verified within-frame near-dup pairs
      ``(id_a < id_b, ...)``, or None when the family has no such stage.
    """

    fingerprint: Callable[[DataFrame], DataFrame]
    rows: Callable[[DataFrame], DataFrame]
    key: tuple[str, ...]
    id: str = "media_id"
    verify: Callable[[DataFrame, DataFrame], DataFrame] | None = None
    pairs: Callable[[DataFrame], DataFrame] | None = None


def _drop_history_hits(
    df: DataFrame, fp: DataFrame, family: NearDupHistory, state_dir: str,
    id_col: str,
) -> DataFrame:
    """The rows of ``df`` whose history rows (from its fingerprint
    ``fp``) hit nothing stored at ``state_dir``, pinned.

    The store is probed through Spark, not the local filesystem:
    ``state_dir`` may be s3a:// or hdfs://, where os.path checks are
    always False and the filter would silently no-op while appends kept
    succeeding. The result is pinned BEFORE any append: it must not
    lazily re-read a store that now holds this frame's own rows."""
    rows = family.rows(fp)
    seen = versioned_store.read(df.sparkSession, state_dir)
    if seen is not None:
        if family.verify is None:
            hits = rows.join(seen, list(family.key), "left_semi")
        else:
            p, s = rows.alias("p"), seen.alias("s")
            on = [F.col(f"p.{k}") == F.col(f"s.{k}") for k in family.key]
            hits = family.verify(p.join(s, on), fp)
        losers = hits.select(F.col(family.id).alias(id_col)).distinct()
        df = df.join(losers, id_col, "left_anti")
    return df.localCheckpoint(eager=True)


def _append_history_rows(
    family: NearDupHistory, fp: DataFrame, state_dir: str,
    kept: DataFrame | None = None, id_col: str | None = None,
) -> None:
    """Append the history rows of ``fp`` — only those of ``kept``'s ids
    when given — to the store at ``state_dir``. The rows are rebalanced
    on ``id`` first, so AQE sizes the files instead of the fingerprint's
    partitioning (a small batch appends one file, not one per input
    partition) and each id's rows stay adjacent, which keeps the
    repeated per-id values compressed."""
    rows = family.rows(fp)
    if kept is not None:
        ids = kept.select(F.col(id_col).alias("__kid"))
        rows = rows.join(ids, rows[family.id].eqNullSafe(ids["__kid"]), "left_semi")
    versioned_store.append(
        rows.hint("rebalance", family.id).drop(family.id), state_dir
    )


def filter_history(
    df: DataFrame, state_dir: str, family: NearDupHistory, id_col: str,
    update_state: bool = False,
) -> DataFrame:
    """The rows of ``df`` that near-duplicate nothing in the history at
    ``state_dir``, pinned; with ``update_state``, the kept rows' history
    rows are appended right away, from the same fingerprint."""
    fp = family.fingerprint(df).localCheckpoint(eager=True)
    kept = _drop_history_hits(df, fp, family, state_dir, id_col)
    if update_state:
        _append_history_rows(family, fp, state_dir, kept, id_col)
    return kept


def append_to_history(df: DataFrame, state_dir: str, family: NearDupHistory) -> None:
    """Append every row's history rows to the history at ``state_dir``."""
    _append_history_rows(family, family.fingerprint(df), state_dir)


def history_foreach_batch(
    sink, state_dir: str, family: NearDupHistory, id_col: str
):
    """The ``writeStream.foreachBatch`` function of every near-dup
    family. Per micro-batch: fingerprint once; drop the within-batch
    losers (the higher id of each ``family.pairs`` pair; the lower id
    survives); probe the history with the survivors' rows;
    ``sink(survivors, batch_id)``; append the survivors' rows.

    The sink write runs BEFORE the append. A crash between them makes
    the replayed batch re-emit its survivors (duplicate delivery, the
    at-least-once foreachBatch contract, so sinks must be idempotent);
    the reverse order would LOSE them, since the replay would drop them
    against their own first-attempt rows. Duplicate history rows from a
    replay do not change membership and compact away."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        fp = family.fingerprint(batch_df).localCheckpoint(eager=True)
        survivors, probe_fp = batch_df, fp
        if family.pairs is not None:
            losers = family.pairs(fp).select(F.col("id_b").alias(family.id)).distinct()
            probe_fp = fp.join(losers, family.id, "left_anti")
            survivors = batch_df.join(
                losers.withColumnRenamed(family.id, id_col), id_col, "left_anti"
            )
        kept = _drop_history_hits(survivors, probe_fp, family, state_dir, id_col)
        sink(kept, batch_id)
        _append_history_rows(family, fp, state_dir, kept, id_col)

    return process


def text_neardup_history(
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    num_bands: int = 8,
    shingle_n: int = 3,
) -> NearDupHistory:
    """The MinHash family: history rows are the (band, bh) LSH buckets
    of each doc, and any shared bucket is a duplicate (no verify)."""

    def fingerprint(df: DataFrame) -> DataFrame:
        sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
        return band_buckets(sig, id_col, num_bands, sig_len=num_hashes)

    return NearDupHistory(fingerprint, lambda bands: bands, ("band", "bh"), id_col)


def dedup_against_history(
    df: DataFrame,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    num_bands: int = 8,
    shingle_n: int = 3,
    update_state: bool = False,
) -> DataFrame:
    """Near-dup filter against everything EVER ingested: drop docs whose
    MinHash signature shares any LSH band bucket with the band-hash
    history table at ``state_dir`` — the incremental-ingest analog of
    minhash_dedup, the shape a daily crawl pipeline runs against its
    accumulated corpus. Returns the surviving rows of ``df``, pinned.

    CRASH ORDERING: state must be appended AFTER the caller persists the
    survivors — call ``append_history`` once your sink write commits
    (``update_state=False``, the default). Passing ``update_state=True``
    appends eagerly, which is convenient for fire-and-forget batch jobs
    but opens a replay-loss window: a crash between this call and your
    sink write makes the rerun drop the docs against their own
    first-attempt bands.

    Scale shape: the history holds num_bands rows of two longs per
    kept doc, far smaller than the corpus text; the membership check is
    a left-semi join on the uniform (band, bh) pair, AQE-skew-splittable.
    Appends are blind parquet writes; duplicate band rows from replayed
    batches do not change membership. The probe and append are
    ``filter_history`` / ``append_to_history`` over
    ``text_neardup_history``, shared with the media families."""
    family = text_neardup_history(text_col, id_col, num_hashes, num_bands, shingle_n)
    return filter_history(df, state_dir, family, id_col, update_state)


def history_data_dir(spark, state_dir: str) -> str:
    """The live data directory of the dedup history at ``state_dir``
    (``versioned_store.live_dir``): the live version once the history
    has been compacted, else ``state_dir`` itself."""
    return versioned_store.live_dir(spark, state_dir)


def append_history(
    df: DataFrame,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    num_bands: int = 8,
    shingle_n: int = 3,
) -> None:
    """Append ``df``'s band hashes to the dedup history table. Split out
    of dedup_against_history so streaming callers can order it AFTER the
    sink write: state-before-sink loses documents on a crash between the
    two (the replay drops them against their own first-attempt bands);
    sink-before-state merely re-emits on replay."""
    family = text_neardup_history(text_col, id_col, num_hashes, num_bands, shingle_n)
    append_to_history(df, state_dir, family)


def compact_history(spark, state_dir: str) -> int:
    """Offline maintenance for the dedup history tables (text, image,
    audio, video): replayed batches and per-batch appends accumulate
    duplicate rows that don't change membership but inflate the probe
    scan. Commits a distinct copy of the live rows as a new version of
    the store (``versioned_store.commit``), then retires every other
    version and the flat files of a never-compacted store
    (``versioned_store.retire``). A crash before the manifest flip
    leaves the old rows live; the next call deletes the half-written
    version and starts over. Run BETWEEN ingest batches: retire is not
    safe against a reader still scanning the old version. Returns the
    compacted row count."""

    def write(live, new):
        spark.read.parquet(live).distinct().write.mode("overwrite").parquet(new)
        return spark.read.parquet(new).count()

    n = versioned_store.commit(spark, state_dir, write)
    versioned_store.retire(spark, state_dir)
    return n


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact shingle-set Jaccard for given (id_a, id_b) pairs.

    Scale shape: candidates ≪ corpus, so (1) semi-join prunes the corpus to
    candidate docs BEFORE shingling, (2) the pair list broadcasts — the
    corpus side never shuffles on text. Set ops run on 64-bit shingle
    hashes, not strings (collision odds ~ |set|^2 / 2^64 — immaterial to a
    0.8-ish threshold decision).
    """
    ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    cand = df.join(F.broadcast(ids), id_col, "left_semi")
    par = df.sparkSession.sparkContext.defaultParallelism
    sh = with_shingle_hashes(cand.repartition(par), text_col, "sh", shingle_n, keep=[id_col])
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    j = F.broadcast(pairs).join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return j.select(
        "id_a", "id_b", F.when(union > 0, inter / union).otherwise(F.lit(0.0)).alias("jaccard")
    )


def ngram_jaccard_dedup(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 32,
    num_bands: int = 16,
) -> DataFrame:
    """LSH-candidates + exact Jaccard verification dedup."""
    return minhash_dedup(
        df, text_col, id_col, num_hashes, num_bands, shingle_n, jaccard_threshold=threshold
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------
def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64) -> DataFrame:
    """64-bit SimHash over word tokens: per-bit weighted vote of token
    hashes. ZERO-shuffle formulation: token hashes are a per-row JVM array
    (split + xxhash64 transform), and the bit votes run as one
    Arrow-batched numpy pass per row-batch — an explode + groupBy(id) with
    64 conditional sums measured ~2× slower and added a full shuffle."""
    from pyspark.sql.functions import pandas_udf

    shifts = np.arange(bits, dtype="uint64")

    @pandas_udf("long")
    def sim(harrs: pd.Series) -> pd.Series:
        out = np.empty(len(harrs), dtype="uint64")
        for i, h in enumerate(harrs):
            # NULL text -> None token array; same fingerprint as empty text
            if h is None:
                h = []
            hv = np.asarray(h, dtype="int64").astype("uint64")
            if hv.size == 0:
                out[i] = 0
                continue
            ones = ((hv[:, None] >> shifts) & 1).sum(axis=0)  # per-bit 1-votes
            # vote = ones - zeros > 0  <=>  2*ones > n
            out[i] = np.bitwise_or.reduce(
                np.where(2 * ones > hv.size, np.uint64(1) << shifts, np.uint64(0))
            )
        return pd.Series(out.astype("int64"))

    harr = F.transform(F.split(normalize_text(F.col(text_col)), " "), lambda t: F.xxhash64(t))
    return df.select(F.col(id_col), sim(harr).alias("simhash"))


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hamming_threshold: int = 3,
    bits: int = 64,
    num_bands: int = 4,
) -> DataFrame:
    """Near-dup removal by SimHash: band the fingerprint into num_bands bit
    slices (pigeonhole: any pair within hamming_threshold < num_bands shares
    a band), join candidates, verify hamming distance."""
    if hamming_threshold >= num_bands:
        # the pigeonhole guarantee needs threshold < num_bands: a pair
        # differing in exactly `num_bands` bits spread one-per-slice
        # shares NO band and is silently never a candidate
        raise ValueError(
            f"simhash_dedup: hamming_threshold={hamming_threshold} must "
            f"be < num_bands={num_bands} (pigeonhole recall guarantee)"
        )
    # pinned: both sides of the slice self-join read it.
    # localCheckpoint, not persist — a persist here leaks one
    # session-lifetime cacheManager entry per call (the minhash_dedup
    # lesson at _source_is_cached's comment)
    sh = simhash(df, text_col, id_col, bits).localCheckpoint(eager=True)
    width = bits // num_bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(F.col("simhash"), b * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("slice"),
        )
        for b in range(num_bands)
    ]
    slices = sh.select(
        id_col, "simhash", F.explode(F.array(*band_structs)).alias("bx")
    ).select(id_col, "simhash", "bx.band", "bx.slice")
    l, r = slices.alias("l"), slices.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.slice") == F.col("r.slice"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= hamming_threshold)
    )
    losers = cand.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# --------------------------------------------------------------------------
# embedding cosine near-dup
# --------------------------------------------------------------------------
def embedding_dedup(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nbits: int = 8,
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """Near-dup by cosine similarity: LSH (random-hyperplane) buckets limit
    the pair space, exact cosine verifies. Deterministic hyperplanes.
    ``dim`` is the embedding dimension (inferred from the first row when
    None) — hyperplanes of the wrong width would NULL out every dot
    product and silently collapse all rows into bucket 0, degrading the
    bucketed join to the full O(n^2) pair space."""
    from fluent_bit_spark.extensions.similarity import cosine, hyperplane_bucket

    if dim is None:
        # probe only non-null vectors: a NULL first row would yield
        # dim=None and fail _hyperplanes with an opaque TypeError
        row = (
            emb.filter(F.col(vec_col).isNotNull())
            .select(F.size(F.col(vec_col)).alias("n"))
            .limit(1)
            .collect()
        )
        n = row[0].n if row else None
        dim = n if n is not None and n > 0 else 64
    # not persisted: the bucket projection is cheap to recompute and
    # caching the vectors measured slower than AQE exchange reuse
    b = emb.withColumn(
        "__bkt",
        hyperplane_bucket(F.col(vec_col), dim=dim, nbits=nbits, seed=seed),
    )
    l, r = b.alias("l"), b.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.__bkt") == F.col("r.__bkt")) & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            cosine(F.col(f"l.{vec_col}"), F.col(f"r.{vec_col}")).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return emb.join(losers, id_col, "left_anti")


def semantic_dedup(
    emb: DataFrame,
    n_clusters: int = 16,
    eps: float = 0.95,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic near-dup
    removal via k-means clustering + within-cluster cosine pruning.

    Each vector joins its nearest centroid's cluster; within a cluster,
    vectors are ordered by (cosine-to-centroid ASC, id) — the paper keeps
    the LOW centroid-similarity member of a duplicate group, preserving
    cluster-edge diversity — and a vector is dropped when any
    earlier-ordered clustermate has cosine >= eps to it (the paper's
    triangular-max scan, expressed as one self-join instead of a loop).

    Scale shape: the centroid table is the only driver state (k x dim —
    model-sized); assignment is a broadcast join; the pair space is
    within-cluster only, so the self-join shuffles on the cluster id and
    costs sum(m_c^2) instead of N^2 — pick n_clusters ~ N/target_cluster
    size exactly as the paper does (they run k ~ 10^4-10^5 at web scale).
    Unbalanced clusters are AQE skew-join territory; the deterministic
    k-means init keeps the layout reproducible run-to-run.

    Returns the KEPT rows of ``emb`` (same schema).
    """
    from fluent_bit_spark.extensions.similarity import cosine, kmeans_centroids

    cents = kmeans_centroids(emb, n_clusters, iters, id_col, vec_col)
    spark = emb.sparkSession
    cdf = F.broadcast(
        spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
            ["cid", "cvec"],
        )
    )
    from pyspark.sql import Window

    assigned = (
        emb.crossJoin(cdf)
        .select(
            id_col, vec_col, "cid",
            cosine(F.col(vec_col), F.col("cvec")).alias("ccos"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy(F.col("ccos").desc(), F.col("cid"))
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    l, r = assigned.alias("l"), assigned.alias("r")
    earlier = (F.col("l.ccos") < F.col("r.ccos")) | (
        (F.col("l.ccos") == F.col("r.ccos")) & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
    )
    dropped = (
        l.join(r, (F.col("l.cid") == F.col("r.cid")) & earlier)
        .filter(cosine(F.col(f"l.{vec_col}"), F.col(f"r.{vec_col}")) >= eps)
        .select(F.col(f"r.{id_col}").alias(id_col))
        .distinct()
    )
    return emb.join(dropped, id_col, "left_anti")
