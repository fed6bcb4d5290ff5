"""Lexical retrieval: exact BM25 top-k over the corpus.

The search-engine side of similarity: embeddings cover semantic ANN
(extensions/similarity.py); BM25 (Robertson & Spärck Jones probabilistic
relevance framework, the Okapi BM25 formulation) covers the lexical
match a RAG or eval-harness pipeline needs. Everything is exact Catalyst
arithmetic — no sampling, no UDFs — so the DuckDB oracle replays scores
bit-for-bit (after the usual round()).

Scale shape (100 TB):
- the document-term frame is ONE explode + map-side-combinable
  groupBy(doc_id, term) — the same shape as unigram_counts;
- document frequencies reduce to a vocab-sized table; only QUERY terms
  are kept (semi-join against the broadcast query vocabulary) so the
  df/idf table is query-vocabulary-sized, then broadcast;
- scoring joins doc terms to the broadcast query-term/idf table (no
  corpus shuffle) and aggregates per (query, doc) — one shuffle keyed by
  (query_id, doc_id), uniform;
- top-k per query is a rank over each query's candidate set (docs
  sharing >= 1 term), partitioned by query_id — never a global sort.

Reference parity note: fluent-bit has no retrieval surface; this module
belongs to the training-data/eval extension family (like dedup/DSIR),
implementing the published BM25 formula (k1/b defaults from the Okapi
literature).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import versioned_store
from .dedup import normalize_text

__all__ = [
    "doc_term_freqs", "bm25_topk", "bm25_index", "bm25_topk_indexed",
    "bm25_index_save", "bm25_index_load", "bm25_index_append",
    "bm25_compact_index",
]


def doc_term_freqs(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """(id, term, tf, dl): term frequencies and document length (token
    count) per document. dl is the filtered token-array SIZE carried
    from the scan (identical to the former sum-of-tf: both count the
    doc's non-empty tokens), so the whole frame is ONE explode + ONE
    combinable shuffle — the old dl-aggregate + join-back shape paid two
    more exchanges."""
    toks = F.split(normalize_text(F.col(text_col)), " ")
    base = df.select(
        F.col(id_col), F.filter(toks, lambda t: t != "").alias("__ws")
    )
    return (
        base.select(
            F.col(id_col),
            F.size("__ws").alias("dl"),
            F.explode("__ws").alias("term"),
        )
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
        .select(id_col, "term", "tf", "dl")
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    prune_top_c: int | None = None,
) -> DataFrame:
    """Top-k documents per query under BM25:

        score(q, d) = sum_{t in q∩d} idf(t) * tf * (k1+1)
                      / (tf + k1 * (1 - b + b * dl/avgdl))
        idf(t) = ln( (N - df + 0.5) / (df + 0.5) + 1 )   [Lucene form,
                 always positive]

    Repeated query terms count once (set semantics — the standard
    formulation). Returns (query_id, doc_id, score, rank), rank 1..<=k,
    ties broken by ascending doc id so results are deterministic.

    ``queries`` is expected to be eval/query-set-sized (thousands):
    its distinct term set broadcasts; the corpus never shuffles on text.

    ``prune_top_c`` enables the block-max-style candidate prune — EXACT
    results, certificate-verified (see _bm25_pruned): per query-vocab
    term only the top-C docs by that term's contribution become
    candidates; a per-query upper bound on any non-candidate's score is
    compared against the k-th candidate score, and only the (typically
    few) queries whose certificate fails re-run on the dense path. On
    Zipfian vocabularies this cuts the scoring join from
    sum_t df(t)·q(t) rows to ~C·|terms| per query. C must be >= k
    (C ~ 3-10x k is the usual block-max operating point).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    # ONE setup job for all three driver scalars (N, avgdl, and the
    # query count the dense-shape guard needs): dl is computable
    # per-row from the token split, so a single scan-only aggregate
    # replaces the former count() + distinct+avg pair of jobs, and the
    # query-side count rides the same job as a unioned single-row
    # aggregate instead of a job of its own
    toks = F.split(normalize_text(F.col(text_col)), " ")
    dl0 = F.size(F.filter(toks, lambda t: t != ""))
    stats_rows = (
        docs.agg(
            F.lit("d").alias("side"),
            F.count(F.lit(1)).alias("n"),
            F.avg(F.when(dl0 > 0, dl0)).alias("avgdl"),
        )
        .unionByName(
            queries.agg(
                F.lit("q").alias("side"),
                F.count(F.lit(1)).alias("n"),
                F.lit(None).cast("double").alias("avgdl"),
            )
        )
        .collect()
    )
    by_side = {r["side"]: r for r in stats_rows}
    n_docs, avgdl = by_side["d"]["n"], by_side["d"]["avgdl"]
    n_queries = by_side["q"]["n"]
    if n_docs == 0:
        raise ValueError("empty corpus")
    if avgdl is None:
        raise ValueError("corpus has no tokens")

    dtf = doc_term_freqs(docs, text_col, id_col)

    qterms = (
        queries.select(
            F.col(query_id_col),
            F.explode(
                F.array_distinct(
                    F.split(normalize_text(F.col(query_text_col)), " ")
                )
            ).alias("term"),
        )
        .filter(F.col("term") != "")
        .distinct()
    )
    # df only for the query vocabulary: semi-join prunes the vocab-sized
    # count to query-vocab-sized before it broadcasts
    qvocab = qterms.select("term").distinct()
    dfreq = (
        dtf.join(F.broadcast(qvocab), "term", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    idf = dfreq.select(
        "term",
        F.log(
            (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
        ).alias("idf"),
    )
    qmodel = qterms.join(idf, "term")  # query-vocab-sized

    norm = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(float(avgdl))
    )
    contrib = F.col("idf") * F.col("tf") * F.lit(k1 + 1.0) / norm
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col)
    )

    # degenerate-vocabulary guard, same floor as the indexed serve: the
    # join shape below replicates each (term, doc) row once per query
    # containing the term — super-linear when the query count grows with
    # a flat-vocabulary corpus (measured alpha 1.2, 138.8 s at 30x rows)
    # — so above the pair floor the dense re-score of ``nq`` queries runs
    # the pivot shape (one contribution-table shuffle + Arrow matmul
    # selection + exact Catalyst re-score; row-identical, see
    # _dense_topk_pivot). Below the floor the plan stays the pure-JVM
    # join shape.
    def dense(qm: DataFrame, nq: int) -> DataFrame:
        if int(n_docs) * nq >= _DENSE_PIVOT_MIN_PAIRS:
            return _dense_topk_pivot(
                dtf.join(
                    F.broadcast(qm.select("term", "idf").distinct()), "term"
                ).select("term", id_col, contrib.alias("c")),
                qm.select(query_id_col, "term"),
                w, k, id_col, query_id_col,
            )
        return _topk_bounded(
            dtf.join(F.broadcast(qm), "term"), contrib, w, k, id_col,
            query_id_col,
        )

    if prune_top_c is None:
        return dense(qmodel, int(n_queries))
    if prune_top_c < k:
        raise ValueError("prune_top_c must be >= k (candidates per term)")
    return _bm25_pruned(
        dtf, qterms, idf, dense, contrib, w, k, prune_top_c,
        id_col, query_id_col,
    )


def _bm25_pruned(
    dtf: DataFrame,
    qterms: DataFrame,
    idf: DataFrame,
    dense,
    contrib,
    w: Window,
    k: int,
    c: int,
    id_col: str,
    query_id_col: str,
) -> DataFrame:
    """One-shot form of the block-max prune: build the impact ordering
    for THIS call's query vocabulary, then run the shared candidate /
    certificate machinery (_indexed_topk). The index build costs about
    one dense scoring pass, so this form only pays off when certificate
    hit rates are high AND the query set is large; the amortized form —
    bm25_index built once, bm25_topk_indexed per query batch — is the
    deployment shape (measured in BASELINE.md)."""
    ranked = _rank_contributions(
        dtf.join(F.broadcast(idf), "term").select(
            "term", id_col, contrib.alias("c")
        ),
        id_col,
    ).localCheckpoint(eager=True)  # ONE materialized pass; every consumer
    # (re-score tc, kept, cutoffs) filters/projects it — the former
    # tc-checkpoint shape re-ran the per-term rank window once per consumer
    tc = ranked.drop("rn")
    kept, cutoffs = _impact_order_ranked(ranked, c, id_col)

    def dense_for(failing: list) -> DataFrame:
        return dense(
            _filter_failing(qterms.join(idf, "term"), query_id_col, failing),
            len(failing),
        )

    return _indexed_topk(
        tc, kept, cutoffs, qterms, w, k, id_col, query_id_col, dense_for
    )


# Work-volume floor (|failing queries| x n_docs candidate pairs) above
# which the dense fallback switches from the postings-join shape to the
# pivot shape (_dense_topk_pivot). The join shape replicates every
# posting row once per failing query containing its term, so its volume
# is sum_q sum_{t in q} df(t) — on degenerate flat vocabularies (where
# certificate failure is the common case and df ~ n_docs) that is
# ~|Q| x |terms| x n_docs rows through one exchange, the measured
# super-linear stage of the sf3 scaling run (alpha 1.35). Below the
# floor the join shape's single-pass simplicity wins (fixed cost of the
# pivot's extra Arrow stage dominates); above it the pivot's one
# tc-sized shuffle + per-partition matmul wins by orders of magnitude.
# The value is the measured local crossover (BASELINE.md round 13).
_DENSE_PIVOT_MIN_PAIRS = 8_000_000


def _dense_topk_pivot(
    tc: DataFrame,
    qf: DataFrame,
    w: Window,
    k: int,
    id_col: str,
    query_id_col: str,
) -> DataFrame:
    """Exact dense re-score of the certificate-failing queries WITHOUT
    replicating postings per query (guide §2.3: shuffle fewer bytes —
    the join shape's sum_q sum_t df(t) rows collapse to one tc-sized
    shuffle):

    1. pivot the qv-filtered contribution table into per-doc
       term->contribution maps — ONE combinable shuffle of
       sum_{t in qv} df(t) rows, independent of the query count;
    2. one Arrow pass over the doc maps scores every (doc, query) pair
       by matmul and keeps, per query per batch, every matched doc whose
       UNROUNDED score reaches the batch's k-th best minus a 4e-6
       margin. The margin makes the selection provably lossless: final
       ranking compares round(score, 6) values, and rounding moves each
       score by <= 5e-7, so a doc more than 4e-6 below k better docs can
       neither beat nor tie any of them after rounding (ties broken by
       id can only matter at exactly equal rounded scores);
    3. the surviving pairs (eval-bounded: ~k + ties per query per batch)
       are re-scored EXACTLY in Catalyst — element_at over the doc map,
       Spark's own round — so emitted scores carry no numpy rounding
       semantics, and ranked by the same window as the join shape.

    Results are row-identical to the join shape: same candidate set
    (docs sharing >= 1 term with the query — the matched mask), same
    rounded scores (same contribution doubles, Spark round), same
    deterministic tie-break."""
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    spark = tc.sparkSession
    # failing query term sets: eval-bounded (the failing id list itself
    # was just collected), one tiny job over the checkpointed qterms
    qrows = (
        qf.groupBy(query_id_col)
        .agg(F.collect_set("term").alias("__ts"))
        .collect()
    )
    qv = sorted({t for r in qrows for t in r["__ts"]})
    qid_field = qf.schema[query_id_col]
    id_field = tc.schema[id_col]
    qv_df = spark.createDataFrame(
        [(t,) for t in qv], StructType([StructField("term", StringType())])
    )
    # (id, term->contribution) over the failing-query vocabulary: the
    # one corpus-sized shuffle of this path; consumed by the Arrow
    # selection AND the exact re-score join, so pinned once
    docvec = (
        tc.join(F.broadcast(qv_df), "term", "left_semi")
        .groupBy(id_col)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("term", "c"))
            ).alias("__tmap")
        )
        .localCheckpoint(eager=True)
    )

    import numpy as np

    term_ix = {t: i for i, t in enumerate(qv)}
    nq = len(qrows)
    qids = [r[query_id_col] for r in qrows]
    Q = np.zeros((len(qv), nq), dtype=np.float64)
    for j, r in enumerate(qrows):
        for t in r["__ts"]:
            Q[term_ix[t], j] = 1.0
    margin = 4e-6
    qblock = 512  # bound the (batch x queries) score matrix memory

    out_schema = StructType(
        [
            StructField(query_id_col, qid_field.dataType),
            StructField(id_col, id_field.dataType),
        ]
    )

    def select_candidates(batches):
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            ids = pdf[id_col].to_numpy()
            M = np.zeros((n, len(qv)), dtype=np.float64)
            for i, m in enumerate(pdf["__tmap"]):
                items = m.items() if isinstance(m, dict) else m
                for t, c in items:
                    M[i, term_ix[t]] = c
            P = (M != 0.0).astype(np.float64)  # presence (c > 0 always)
            out_q, out_d = [], []
            for j0 in range(0, nq, qblock):
                j1 = min(j0 + qblock, nq)
                S = M @ Q[:, j0:j1]
                matched = (P @ Q[:, j0:j1]) > 0.0
                for j in range(j0, j1):
                    col = j - j0
                    sj = np.where(matched[:, col], S[:, col], -np.inf)
                    nm = int(matched[:, col].sum())
                    if nm == 0:
                        continue
                    if nm > k:
                        kth = -np.partition(-sj, k - 1)[k - 1]
                        keep = sj >= (kth - margin)
                    else:
                        keep = matched[:, col]
                    for d in ids[keep]:
                        out_q.append(qids[j])
                        out_d.append(d)
            yield pd.DataFrame({query_id_col: out_q, id_col: out_d})

    pairs = docvec.mapInPandas(select_candidates, schema=out_schema)
    qsets_df = spark.createDataFrame(
        [(r[query_id_col], sorted(r["__ts"])) for r in qrows],
        StructType(
            [
                StructField(query_id_col, qid_field.dataType),
                StructField("__qts", ArrayType(StringType())),
            ]
        ),
    )
    scored = (
        pairs.join(docvec, id_col)
        .join(F.broadcast(qsets_df), query_id_col)
        .select(
            query_id_col,
            id_col,
            F.round(
                F.aggregate(
                    F.col("__qts"),
                    F.lit(0.0),
                    lambda acc, t: acc
                    + F.coalesce(F.element_at(F.col("__tmap"), t), F.lit(0.0)),
                ),
                6,
            ).alias("score"),
        )
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _filter_failing(df: DataFrame, col: str, failing: list, negate=False):
    """Filter ``df`` on membership of ``col`` in the certificate-failing
    query-id list. The list is eval-bounded and usually tiny, so an
    IN-literal is the cheapest plan; on degenerate flat vocabularies
    (where certificate failure is common) a huge query set would inline
    thousands of literals into the plan, so past a threshold the set
    becomes a broadcast semi/anti join instead. A null ``col`` matches
    nothing: the IN-literal drops its row for both ``negate`` values, so
    the join side drops null keys first (an anti join would keep them)."""
    if len(failing) <= 1024:
        cond = F.col(col).isin(failing)
        return df.filter(~cond if negate else cond)
    fdf = df.sparkSession.createDataFrame(
        [(x,) for x in failing],
        df.select(col).schema,
    )
    return df.filter(F.col(col).isNotNull()).join(
        F.broadcast(fdf), col, "left_anti" if negate else "left_semi"
    )


def _topk_bounded(
    joined: DataFrame,
    contrib_col,
    w: Window,
    k: int,
    id_col: str,
    query_id_col: str,
) -> DataFrame:
    """Exact top-k per query WITHOUT per-query concentration. The former
    shape (repartition(query_id) shared by the score aggregate and the
    rank window) put each query's ENTIRE candidate set — corpus-sized on
    the dense path — into one partition (guide §2.2/§2.5). Here the score
    aggregate keys on (query, salt, id) with salt a deterministic hash of
    the doc id (same groups, same sums: salt is a function of id), so ONE
    uniform exchange serves both the aggregate and a per-(query, salt)
    partial rank that keeps k rows per bucket. The partial pass is
    provably lossless: a global top-k row has <= k-1 rows ranked above it
    under the total order (score desc, id asc), hence <= k-1 above it
    within its own bucket, hence partial rank <= k. The global rank then
    runs over <= k * nsalt survivors per query — bounded regardless of
    corpus size."""
    spark = joined.sparkSession
    nsalt = min(4096, max(32, 4 * spark.sparkContext.defaultParallelism))
    salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(nsalt))
    scored = (
        joined.withColumn("__salt", salt)
        .repartition(query_id_col, "__salt")  # shared: agg + partial rank
        .groupBy(query_id_col, "__salt", id_col)
        .agg(F.round(F.sum(contrib_col), 6).alias("score"))
    )
    wp = Window.partitionBy(query_id_col, "__salt").orderBy(
        F.col("score").desc(), F.col(id_col)
    )
    pruned = (
        scored.withColumn("__prn", F.row_number().over(wp))
        .filter(F.col("__prn") <= k)
        .drop("__salt", "__prn")
    )
    return pruned.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _rank_contributions(tc: DataFrame, id_col: str) -> DataFrame:
    """(term, id, c, rn): the contribution table with each term's impact
    rank attached — ONE window pass whose result every consumer (tc
    re-score, kept candidates, cutoff bounds) derives from by filter/
    projection, so the rank is computed and materialized once instead of
    once per derived frame."""
    wt = Window.partitionBy("term").orderBy(F.col("c").desc(), F.col(id_col))
    return tc.withColumn("rn", F.row_number().over(wt))


def _impact_order_ranked(ranked: DataFrame, c: int, id_col: str):
    """(kept, cutoffs) as cheap filters over a _rank_contributions frame:
    kept holds each term's top-C docs by contribution and cutoffs the
    (C+1)-th contribution — the hard upper bound any non-kept doc of
    that term can add to a score."""
    kept = ranked.filter(F.col("rn") <= c).select("term", id_col)
    cutoffs = ranked.filter(F.col("rn") == c + 1).select(
        "term", F.col("c").alias("cutoff")
    )
    return kept, cutoffs


def _indexed_topk(
    tc: DataFrame,
    kept: DataFrame,
    cutoffs: DataFrame,
    qterms: DataFrame,
    w: Window,
    k: int,
    id_col: str,
    query_id_col: str,
    dense,
) -> DataFrame:
    """Candidate generation + exactness certificate over an impact-ordered
    contribution table.

    A term's BM25 contribution to a doc is query-independent, so each
    term's posting list is impact-ordered ONCE: only its top-C docs by
    contribution become candidates (the distributed analog of a block-max
    index's impact-sorted prefix). For every query,
    bound(q) = sum over q's terms of the (C+1)-th best contribution is a
    hard upper bound on any NON-candidate doc's score; if
    bound(q) < score of the q's k-th candidate, the pruned top-k is
    provably the exact top-k. Queries whose certificate fails (rare on
    Zipfian vocabularies, common on degenerate flat ones) re-run dense.

    Scale shape: the contribution table is scanned ONCE and never
    shuffled — query terms and the candidate pair set (~C x
    terms-per-query per query) both broadcast, and only the surviving
    candidate contributions (query-bounded) cross one exchange keyed by
    query id, which the aggregation and the rank window share. The
    certificate collect is one boolean per query — eval-sized.
    """
    # candidate (query, doc) pairs: ~C x query-vocab-terms rows — an
    # eval-bounded table, used as a broadcast SEMI filter (duplicates
    # from multi-term hits are harmless to a semi join, so the former
    # distinct exchange + its checkpoint disappear outright)
    cand = qterms.join(kept, "term").select(query_id_col, id_col)
    # candidate DOCS (the distinct doc side of cand, <= C x |query
    # vocabulary| ids): semi-filter tc on the doc id BEFORE the term
    # join. The term join emits one row per (posting, query sharing
    # that term) pair, so running it over the full table costs
    # sum_t df(t) x queries_containing(t) — measured 1.4B joined rows
    # at 30x scale on a flat vocabulary (the 95 s serve stage) — while
    # over the candidate-doc subset it is bounded by the candidate set
    # itself. Row-identical by construction: every row the (query, doc)
    # semi join below keeps has its doc in the candidate-doc set.
    cand_ids = cand.select(id_col).distinct()
    # ONE exchange keyed by query id serves both the (query, doc) score
    # aggregation and the top-k rank window (hash partitioning by
    # query_id satisfies the clustering both require); the former
    # cand-distinct -> groupBy(query, doc) -> window(query) shape paid
    # three
    scored = (
        tc.join(F.broadcast(cand_ids), id_col, "left_semi")
        .join(F.broadcast(qterms), "term")
        .join(F.broadcast(cand), [query_id_col, id_col], "left_semi")
        .repartition(query_id_col)
        .groupBy(query_id_col, id_col)
        .agg(F.round(F.sum("c"), 6).alias("score"))
    )
    topk = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    topk = topk.localCheckpoint(eager=True)  # reused: theta + output

    theta = topk.filter(F.col("rank") == k).select(
        query_id_col, F.col("score").alias("theta")
    )
    bounds = (
        # INNER join with the QUERY terms broadcast (eval-sized; an
        # outer join cannot broadcast its preserved side — the planner
        # ignores the hint and falls back to a sort-merge of the
        # vocab-sized cutoffs): queries whose terms have no cutoff row
        # drop out here, which is exactly the bound == 0 "trivially ok"
        # case of the former outer-join form — the failing list below is
        # identical, and exact_part keeps those queries via the anti
        # filter on that list
        cutoffs.join(F.broadcast(qterms), "term")
        .groupBy(query_id_col)
        .agg(F.sum("cutoff").alias("bound"))
    )
    cert = bounds.join(theta, query_id_col, "left").select(
        query_id_col,
        (
            (F.col("bound") == 0.0)
            | (F.col("theta").isNotNull() & (F.col("bound") < F.col("theta")))
        ).alias("ok"),
    )
    failing = [r[0] for r in cert.filter(~F.col("ok")).collect()]
    if not failing:
        return topk
    exact_part = _filter_failing(topk, query_id_col, failing, negate=True)
    dense_part = dense(failing)
    return exact_part.unionByName(dense_part)


def bm25_index(
    docs: DataFrame,
    c: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> dict:
    """Offline BM25 impact index over the FULL corpus vocabulary — the
    build-once/query-many deployment shape of a retrieval system. Returns
    a dict of eagerly persisted frames + scalars consumed by
    bm25_topk_indexed:

    - ``tc``: (term, id, c) per-posting contribution (query-independent);
    - ``kept``: each term's top-``c`` docs by contribution;
    - ``cutoffs``: each term's (c+1)-th contribution (score upper bound
      for any non-kept doc);
    - ``n_docs``/``avgdl``/``k1``/``b``/``c``/``id_col``: scalars.

    Scale shape: one explode + combinable groupBy for tf/dl, one
    vocab-keyed shuffle for df, one per-term rank for the impact order —
    all linear in corpus tokens, built once. On a cluster these frames
    would be written as bucketed tables (storage.py) instead of
    localCheckpoint; the query-side plan is identical."""
    if c < 1:
        raise ValueError("c must be >= 1")
    from concurrent.futures import ThreadPoolExecutor

    toks = F.split(normalize_text(F.col(text_col)), " ")
    dl0 = F.size(F.filter(toks, lambda t: t != ""))
    # the global-stats aggregate and the postings checkpoint are two
    # independent scans of the corpus: overlap them (guide: concurrent
    # driver jobs). postings (term, id, tf, dl) checkpoint once: tc
    # derives from it here, and persisted it makes the index APPENDABLE
    # without the original corpus (bm25_index_append re-derives
    # tc/kept/cutoffs from postings + the new docs' tokens only)
    with ThreadPoolExecutor(max_workers=2) as pool:
        fstats = pool.submit(
            lambda: docs.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(dl0 > 0, dl0)).alias("sum_dl"),
                F.count(F.when(dl0 > 0, F.lit(1))).alias("n_nonempty"),
            ).collect()[0]
        )
        fpost = pool.submit(
            lambda: doc_term_freqs(docs, text_col, id_col).localCheckpoint(
                eager=True
            )
        )
        stats, postings = fstats.result(), fpost.result()
    n_docs = stats["n"]
    if n_docs == 0:
        raise ValueError("empty corpus")
    if not stats["n_nonempty"]:
        raise ValueError("corpus has no tokens")
    # dl are integers, so the double sum is EXACT (< 2^53) regardless of
    # order: avgdl recomputed from (sum_dl, n_nonempty) at append time is
    # bit-identical to this build's — the fact bm25_index_append rests on
    sum_dl, n_nonempty = int(stats["sum_dl"]), int(stats["n_nonempty"])
    avgdl = sum_dl / n_nonempty
    _, ranked, dfreq = _contributions(postings, n_docs, avgdl, k1, b, id_col)
    ranked = ranked.localCheckpoint(eager=True)
    tc = ranked.drop("rn")
    kept, cutoffs = _impact_order_ranked(ranked, c, id_col)
    return {
        "tc": tc,
        "kept": kept,
        "cutoffs": cutoffs,
        "ranked": ranked,
        "dfreq": dfreq,
        "postings": postings,
        "n_docs": n_docs,
        "avgdl": float(avgdl),
        "sum_dl": sum_dl,
        "n_nonempty": n_nonempty,
        "k1": k1,
        "b": b,
        "c": c,
        "id_col": id_col,
    }


def _contrib_frame(
    postings: DataFrame, dfreq: DataFrame, n_docs: int, avgdl: float,
    k1: float, b: float, id_col: str,
) -> DataFrame:
    """(term, id, c) lazy BM25 per-posting contribution frame from a
    postings frame plus a (term, df) document-frequency table — the one
    expression tree every tc consumer (write, serve, append re-derive)
    shares, so recomputed values are bit-identical doubles wherever it
    is evaluated."""
    idf = dfreq.select(
        "term",
        F.log(
            (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
        ).alias("idf"),
    )
    norm = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(float(avgdl))
    )
    contrib = F.col("idf") * F.col("tf") * F.lit(k1 + 1.0) / norm
    return postings.join(idf, "term").select(
        "term", id_col, contrib.alias("c")
    )


def _contributions(
    postings: DataFrame, n_docs: int, avgdl: float, k1: float, b: float,
    id_col: str,
):
    """(contrib, ranked, dfreq): the lazy (term, id, c) contribution
    frame, the same frame with the per-term impact rank attached (LAZY —
    the build path checkpoints it because tc/kept/cutoffs all read it
    repeatedly; the append path leaves it lazy because its only
    consumers are single-pass concurrent table writes, where a
    corpus-sized checkpoint would be a wasted extra materialization),
    and the eagerly persisted vocab-sized (term, df) table (persisted
    with the index so appends can grow df incrementally instead of
    re-aggregating the merged postings)."""
    dfreq = (
        postings.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .localCheckpoint(eager=True)
    )
    contrib = _contrib_frame(postings, dfreq, n_docs, avgdl, k1, b, id_col)
    return contrib, _rank_contributions(contrib, id_col), dfreq


def bm25_topk_indexed(
    index: dict,
    queries: DataFrame,
    k: int = 10,
    query_id_col: str = "query_id",
    query_text_col: str = "text",
) -> DataFrame:
    """Exact top-k per query against a prebuilt bm25_index — the serving
    path: no corpus scan, no posting rank, only the candidate join +
    certificate (+ a tc-based dense pass for certificate failures).
    Results are identical to bm25_topk on the same corpus/queries."""
    if k < 1:
        raise ValueError("k must be >= 1")
    if index["c"] < k:
        raise ValueError(
            f"index was built with c={index['c']} < k={k}; rebuild with c >= k"
        )
    id_col = index["id_col"]
    tc, kept, cutoffs = index["tc"], index["kept"], index["cutoffs"]
    qterms = (
        queries.select(
            F.col(query_id_col),
            F.explode(
                F.array_distinct(
                    F.split(normalize_text(F.col(query_text_col)), " ")
                )
            ).alias("term"),
        )
        .filter(F.col("term") != "")
        .distinct()
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col)
    )

    def dense(failing: list) -> DataFrame:
        qf = _filter_failing(qterms, query_id_col, failing)
        # degenerate-vocabulary guard: when the candidate pair space
        # (failing queries x corpus) is large, the postings-join shape
        # replicates df(t) rows per failing query — the measured
        # super-linear stage at scale (alpha 1.35 at sf3, BASELINE.md
        # r13) — so switch to the pivot shape, which shuffles the
        # contribution table once regardless of query count
        if int(index["n_docs"]) * len(failing) >= _DENSE_PIVOT_MIN_PAIRS:
            return _dense_topk_pivot(tc, qf, w, k, id_col, query_id_col)
        return _topk_bounded(
            tc.join(F.broadcast(qf), "term"), F.col("c"), w, k, id_col,
            query_id_col,
        )

    return _indexed_topk(
        tc, kept, cutoffs, qterms, w, k, id_col, query_id_col, dense
    )


_META_SCHEMA = (
    "n_docs long, avgdl double, sum_dl long, n_nonempty long, "
    "k1 double, b double, c int, id_col string, "
    "schemas map<string,string>"
)
# kept (rn <= c) and cutoffs (rn == c+1) ride ONE small topc table: a
# serving job scans only these (c+1)-per-term rows, never all of tc.
# postings (term, id, tf, dl) and the vocab-sized dfreq (term, df) make
# the index appendable without the corpus
_TABLES = {"tc": None, "topc": None, "postings": None, "dfreq": None}


def _index_tables(index: dict) -> dict:
    """The table set bm25_index_save persists for ``index``."""
    return {
        "tc": index["tc"],
        "topc": index["ranked"].filter(F.col("rn") <= int(index["c"]) + 1),
        "postings": index["postings"],
        "dfreq": index["dfreq"],
    }


def bm25_index_save(index: dict, path: str) -> None:
    """Persist a bm25_index to ``path`` as parquet tables (tc, topc,
    postings, dfreq, meta) — the durable half of build-once/serve-many:
    the builder job writes once, any number of later serving jobs
    bm25_index_load and query without touching the corpus, and
    bm25_index_append grows it without the corpus either (the postings
    table carries the raw (term, id, tf, dl) facts every global-stat
    recompute needs). The tables become the next version of the store at
    ``path`` and every other copy is retired (versioned_store.save_tables),
    so a save replaces whatever index was there, appended or not, and a
    crash mid-save leaves that index live. All-parquet (scalars ride a
    one-row meta table), so the layout works unchanged on any Hadoop
    filesystem (file://, s3a://, hdfs://)."""
    versioned_store.save_tables(path, _index_tables(index), index, _META_SCHEMA)


def bm25_index_load(spark, path: str) -> dict:
    """Reload a bm25_index_save'd (and possibly appended) index from the
    live version. The returned frames are plain parquet scans
    (term-pruned by predicate pushdown at serve time), so a serving
    job's cost is the candidate join only — no corpus scan, no rebuild.
    Drop-in wherever bm25_topk_indexed takes an index, and saveable
    again with bm25_index_save."""
    meta, t = versioned_store.read_tables(spark, path, _META_SCHEMA, _TABLES)
    kept, cutoffs = _impact_order_ranked(t["topc"], meta["c"], meta["id_col"])
    return {
        "tc": t["tc"],
        "kept": kept,
        "cutoffs": cutoffs,
        "ranked": t["topc"],
        "postings": t["postings"],
        "dfreq": t["dfreq"],
        **{k: meta[k] for k in (
            "n_docs", "avgdl", "sum_dl", "n_nonempty", "k1", "b", "c", "id_col"
        )},
    }


def bm25_index_append(
    spark, path: str, new_docs: DataFrame, text_col: str = "text"
) -> int:
    """Absorb new documents into a persisted BM25 index WITHOUT the
    original corpus — the serving-freshness half of build-once/serve-many
    (ivf_index_append's lexical sibling). BM25's global statistics
    (n_docs, avgdl, every term's idf) all move when documents arrive, so
    an exact append cannot just add postings: it re-derives tc/kept/
    cutoffs from the persisted postings table plus the new docs' tokens.
    What it never needs is the original corpus — no re-tokenize, no
    re-shuffle of old text — and the result is HASH-EQUAL to a full
    rebuild on the union (integer tf/dl/df make the recomputed stats
    bit-identical; tested).

    The union tables are committed as a new version of the store
    (versioned_store.commit): a crash before the manifest flip leaves
    the old version live and complete. New doc ids must not collide
    with indexed ids (a rebuild would merge them into one document):
    the id-clash probe is the commit's check, so a clash raises and
    never flips, even when the version write failed too.

    Returns the number of appended documents."""
    idx = bm25_index_load(spark, path)
    from concurrent.futures import ThreadPoolExecutor

    id_col = idx["id_col"]
    toks = F.split(normalize_text(F.col(text_col)), " ")
    dl0 = F.size(F.filter(toks, lambda t: t != ""))
    # stats aggregate and new-postings checkpoint: two independent scans
    # of the (typically small) append batch — overlap them
    with ThreadPoolExecutor(max_workers=2) as pool:
        fstats = pool.submit(
            lambda: new_docs.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(dl0 > 0, dl0)).alias("sum_dl"),
                F.count(F.when(dl0 > 0, F.lit(1))).alias("n_nonempty"),
            ).collect()[0]
        )
        fpost = pool.submit(
            lambda: doc_term_freqs(new_docs, text_col, id_col).localCheckpoint(
                eager=True
            )
        )
        stats, new_postings = fstats.result(), fpost.result()
    n_new = int(stats["n"])
    if n_new == 0:
        return 0
    new_ids = new_postings.select(id_col).distinct()
    n_docs = int(idx["n_docs"]) + n_new
    sum_dl = int(idx["sum_dl"]) + int(stats["sum_dl"] or 0)
    n_nonempty = int(idx["n_nonempty"]) + int(stats["n_nonempty"])
    if n_nonempty == 0:
        raise ValueError("corpus has no tokens")
    avgdl = sum_dl / n_nonempty
    postings = idx["postings"].unionByName(new_postings)
    # document frequencies grow INCREMENTALLY: old df + append-batch df
    # (exact — the clash guard enforces disjoint doc ids, so a term's
    # postings from the two sides are distinct documents), replacing a
    # full re-aggregate of the merged corpus-sized postings with a
    # vocab-sized outer join
    dfreq_new = new_postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    dfreq = (
        idx["dfreq"].withColumnRenamed("df", "__df_old")
        .join(
            dfreq_new.withColumnRenamed("df", "__df_new"),
            "term",
            "full_outer",
        )
        .select(
            "term",
            (
                F.coalesce("__df_old", F.lit(0))
                + F.coalesce("__df_new", F.lit(0))
            ).alias("df"),
        )
        .localCheckpoint(eager=True)
    )
    # the grown frames stay LAZY: their only consumers are the
    # single-pass concurrent table writes below, so the former
    # corpus-sized ranked localCheckpoint was a pure extra
    # materialization — and the tc write in particular never needed the
    # rank window at all (tc is the un-ranked contribution projection)
    contrib = _contrib_frame(
        postings, dfreq, n_docs, avgdl, idx["k1"], idx["b"], id_col
    )
    ranked = _rank_contributions(contrib, id_col)
    grown = {
        "tc": contrib,
        "ranked": ranked,
        "dfreq": dfreq,
        "postings": postings,
        "n_docs": n_docs,
        "avgdl": avgdl,
        "sum_dl": sum_dl,
        "n_nonempty": n_nonempty,
        "k1": idx["k1"],
        "b": idx["b"],
        "c": idx["c"],
        "id_col": id_col,
    }

    def check():
        # the id-clash existence probe (no distinct on the INDEXED side —
        # a corpus-sized dedup shuffle buys nothing for a limit(1)
        # broadcast probe) overlaps the version-dir writes: both only read
        if idx["postings"].select(id_col).join(
            F.broadcast(new_ids), id_col
        ).limit(1).count():
            raise ValueError(
                "new_docs reuse document ids already in the index; a "
                "rebuild would merge them — dedupe or re-id before appending"
            )

    versioned_store.commit(
        spark, path,
        lambda live, new: versioned_store.write_tables(
            new, _index_tables(grown), grown, _META_SCHEMA
        ),
        check,
    )
    return n_new


def bm25_compact_index(spark, path: str) -> int:
    """Delete what no reader of the live BM25 index needs: each
    bm25_index_append commits a COMPLETE copy of every table (postings
    included) as a new version, so a daily append job would otherwise
    hold every historical full copy (and, for an index saved flat by an
    older build, the pre-append tables at the root). This is
    versioned_store.retire: everything except the pointer and the live
    version goes. NOT safe against a concurrent reader still holding a
    plan over an old version — run between serving batches. Returns the
    number of version dirs deleted; a flat store is left as it is."""
    return versioned_store.retire(spark, path)
