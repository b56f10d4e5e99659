"""BM25 top-k query engine (reference search/ role), set-oriented.

The reference merges posting iterators document-at-a-time
(search/postmerge.c) and scores each union docID in a callback
(search/search.c:167-278). Spark has no iterators — the union merge becomes
a broadcast join of the (tiny) query-term frame against the posting table
followed by a hash aggregation per doc_id; the AND merge becomes a HAVING
count == n_terms predicate; the bounded top-k heap becomes
``ORDER BY score DESC, doc_id LIMIT k`` which Catalyst plans as
TakeOrderedAndProject (per-partition heaps + driver merge — the reference's
minheap, distributed for free).

Block-max WAND (north rule; reference skip lists mem-index/skippy.h +
score-threshold pruning search/search-utils.c:322-335) runs INSIDE the
doc-sharded serving kernel (plans/serve.py): each shard seeds its own
threshold from its densest block, sweeps its block metadata into elementary
doc intervals, and never varbyte-decodes a block that provably cannot hold
a local top-k doc — zero driver round-trips. Pruned-vs-full equality is
asserted in tests/test_wand.py. (An earlier driver-side metadata sweep with
``toPandas()`` round-trips was retired: with the doc-sharded layout the
in-kernel sweep strictly dominates — same pruning decision, no collect.)
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import DoubleType

from ..functions.tokenizer import tokenize_text
from ..operators import scoring as S
from ..operators.blocks import unpack_blocks
from .build import InvertedIndex

MAX_TERM_KEYWORDS = 20  # searchd/config.h:24 MAX_ACCEPTED_NON_MATH_KEYWORDS


def digest_query(qtext: str) -> list[str]:
    """Query text -> deduped, lowercased keyword list (reference Q2/Q4).

    The reference re-lexes query keywords with the indexing lexer
    (search/query.c:81-113) and drops duplicate post_ids keeping the first
    occurrence (search/query.c:151-221). The library does NOT cap the list:
    the 20-term limit is a DAEMON admission rule (searchd/run/searchd.c:69-73
    rejects with ret_code 7, it never truncates) — enforced in
    engine.query_json / searchd.py, like the reference.
    """
    seen: dict[str, None] = {}
    for t in tokenize_text(qtext):
        if t not in seen:
            seen[t] = None
    return list(seen)


@F.pandas_udf(DoubleType())
def _prox_udf(pos_structs: pd.Series) -> pd.Series:
    """array<struct<kw_idx,positions>> per doc -> prox score (float64).

    Retained for the WAND path's small candidate sets; the main path uses
    the JVM lag-window formulation (_prox_frame) instead.
    """

    def one(entries: object) -> float:
        if entries is None:
            return float(S.prox_score(S.MAX_DIST))
        lists = [np.asarray(e["positions"]) for e in entries]
        return float(S.prox_score(S.prox_min_dist(lists)))

    return pos_structs.map(one).astype("float64")


@dataclass
class QueryResult:
    df: DataFrame
    n_terms: int
    idfs: dict[str, float]


def _qterms_idf_df(
    spark: SparkSession, index: InvertedIndex, qterms: list[tuple[str, int, str]]
) -> DataFrame:
    """(qid, kw_idx, term) rows -> + idf column, computed in-plan.

    The df lookup is a broadcast join of the tiny keyword frame against
    term_stats filtered by term (predicate pushdown / dictionary skipping
    does the posting-dictionary seek the reference does via Indri's
    term_lookup, search/search.c:48-60). One plan, no driver round-trip.
    """
    kw = spark.createDataFrame(qterms, "qid string, kw_idx int, term string")
    ts = index.term_stats.filter(
        F.col("term").isin([t for _, _, t in qterms])
    ).select("term", "df")
    joined = kw.join(F.broadcast(ts), "term", "left")
    docN = float(index.docN)
    return joined.select(
        "qid",
        "kw_idx",
        "term",
        F.log(
            (F.lit(docN) - F.coalesce(F.col("df"), F.lit(0)).cast("double") + F.lit(0.5))
            / (F.coalesce(F.col("df"), F.lit(0)).cast("double") + F.lit(0.5))
        ).alias("idf"),
    )


def _candidate_rows(index: InvertedIndex, terms: list[str], use_blocks: bool, with_positions: bool) -> DataFrame:
    if use_blocks:
        blk = index.blocks.filter(F.col("term").isin(terms))
        return unpack_blocks(blk, with_positions=with_positions)
    return index.postings.filter(F.col("term").isin(terms))


def _score_frame(
    index: InvertedIndex,
    rows: DataFrame,
    kw: DataFrame,
    mode: str,
    with_prox: bool,
    n_terms_by_qid: dict[str, int],
    grouped_by_qid: bool = False,
) -> DataFrame:
    """Per-candidate-doc total score (reference Q7/Q8/Q9/Q11/Q12).

    ``kw``: (qid, kw_idx, term, idf) frame — broadcast-joined onto the
    candidate posting rows; the per-doc hash aggregate IS the OR merge
    (postmerge.c:75-101), the n_matched predicate IS the AND merge
    (postmerge.c:103-140).
    """
    joined = rows.join(F.broadcast(kw), "term")
    scored = joined.withColumn(
        "term_score", F.col("idf") * S.tf_norm_col(F.col("tf"), F.col("doclen"), index.avgdl)
    )
    keys = ["qid", "doc_id"] if grouped_by_qid else ["doc_id"]
    agg_cols = [
        (F.lit(1.0) + F.sum(F.when(F.col("term_score") != 0.0, F.col("term_score")).otherwise(0.0))).alias("bm25"),
        F.sum(F.when(F.col("term_score") != 0.0, 1.0).otherwise(0.0)).alias("match_dim"),
        F.count(F.lit(1)).alias("n_matched_terms"),
    ]
    if with_prox:
        agg_cols.append(
            F.collect_list(F.struct(F.col("kw_idx"), F.col("positions"))).alias("pos_in")
        )
    per_doc = scored.groupBy(*keys).agg(*agg_cols)
    if mode == "and":
        if grouped_by_qid:
            nmap = F.create_map(
                *[x for qid, n in n_terms_by_qid.items() for x in (F.lit(qid), F.lit(n))]
            )
            per_doc = per_doc.filter(F.col("n_matched_terms") == nmap[F.col("qid")])
        else:
            per_doc = per_doc.filter(
                F.col("n_matched_terms") == next(iter(n_terms_by_qid.values()))
            )
    if with_prox:
        per_doc = per_doc.withColumn("prox", _prox_udf(F.col("pos_in"))).drop("pos_in")
    else:
        per_doc = per_doc.withColumn("prox", F.lit(float(S.prox_score(S.MAX_DIST))))
    # term-only query: math factor = (1+0)/2 = 0.5 (search/search.c:253-263)
    return per_doc.withColumn(
        "score",
        F.col("prox")
        + F.lit(0.5) * F.col("bm25")
        + F.lit(S.MATCH_DIM_WEIGHT) * F.col("match_dim"),
    )


_LN03 = float(math.log(0.3))


def _prox_frame(pos_rows: DataFrame, keys: list[str]) -> DataFrame:
    """Positions -> (keys..., min_dist) entirely JVM-side.

    This IS the reference's n-way merge (proximity.c:23-71) as a window:
    explode every keyword's positions, sort them per doc (the merge), and
    take the minimum gap between ADJACENT entries from DIFFERENT keywords
    (lag window). No position arrays are reified or shuffled as arrays and
    no Python runs — at web scale the position stream stays inside
    whole-stage codegen.
    """
    tok = pos_rows.select(*keys, "kw_idx", F.explode("positions").alias("pos"))
    w = Window.partitionBy(*keys).orderBy("pos")
    gaps = tok.select(
        *keys,
        F.when(
            F.lag("kw_idx").over(w) != F.col("kw_idx"),
            F.col("pos") - F.lag("pos").over(w),
        ).alias("gap"),
    )
    return gaps.groupBy(*keys).agg(F.min("gap").alias("min_dist"))


def _prox_col() -> F.Column:
    """ln(0.3 + e^-minDist); NULL min_dist (no cross-keyword pair) -> ln 0.3
    (e^-UINT_MAX underflows to 0 in the reference, proximity.c:75-80)."""
    return F.when(
        F.col("min_dist").isNull(), F.lit(_LN03)
    ).otherwise(F.log(F.lit(0.3) + F.exp(-F.col("min_dist").cast("double"))))


def _scored_topk_pruned(
    spark: SparkSession,
    index: InvertedIndex,
    kw: DataFrame,
    all_terms: list[str],
    and_required: dict[str, int],
    k: int,
    use_blocks: bool,
    with_prox: bool,
    grouped: bool,
) -> DataFrame:
    """Score + top-k in one action: positionless BM25 aggregate joined with
    the JVM prox aggregate (both shuffle on the same doc keys), then the
    rank window / TakeOrderedAndProject."""
    keys = ["qid", "doc_id"] if grouped else ["doc_id"]
    light = _candidate_rows(index, all_terms, use_blocks, with_positions=False)
    joined = light.join(F.broadcast(kw), "term")
    scored = joined.withColumn(
        "term_score", F.col("idf") * S.tf_norm_col(F.col("tf"), F.col("doclen"), index.avgdl)
    )
    base = scored.groupBy(*keys).agg(
        (F.lit(1.0) + F.sum(F.when(F.col("term_score") != 0.0, F.col("term_score")).otherwise(0.0))).alias("bm25"),
        F.sum(F.when(F.col("term_score") != 0.0, 1.0).otherwise(0.0)).alias("match_dim"),
        F.count(F.lit(1)).alias("n_matched_terms"),
    )
    if and_required:
        if grouped:
            nmap = F.create_map(
                *[x for qid, n in and_required.items() for x in (F.lit(qid), F.lit(n))]
            )
            base = base.filter(
                (~F.col("qid").isin(list(and_required)))
                | (F.col("n_matched_terms") == nmap[F.col("qid")])
            )
        else:
            base = base.filter(
                F.col("n_matched_terms") == next(iter(and_required.values()))
            )
    base = base.withColumn(
        "base",
        F.lit(0.5) * F.col("bm25") + F.lit(S.MATCH_DIM_WEIGHT) * F.col("match_dim"),
    )
    if with_prox:
        pos_rows = _candidate_rows(index, all_terms, use_blocks, with_positions=True).join(
            F.broadcast(kw.select("qid", "term", "kw_idx") if grouped else kw.select("term", "kw_idx")),
            "term",
        )
        prox_df = _prox_frame(pos_rows, keys)
        final = base.join(prox_df, keys, "left").withColumn("prox", _prox_col())
    else:
        final = base.withColumn("prox", F.lit(_LN03))
    final = final.withColumn("score", F.col("prox") + F.col("base"))
    return _rank_limit(final, k, grouped)


def _rank_limit(final: DataFrame, k: int, grouped: bool) -> DataFrame:
    """Top-k of scored rows under (score DESC, doc_id ASC): one query's as
    a TakeOrderedAndProject, or each qid's (with a rank column) as a window.
    The one rank step of both scorers (the shard kernel's per-shard rows
    and the set-oriented aggregate)."""
    cols = ["doc_id", "bm25", "match_dim", "n_matched_terms", "prox", "score"]
    if grouped:
        w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            final.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("qid", "rank", *cols)
        )
    return final.orderBy(F.desc("score"), F.asc("doc_id")).limit(k).select(*cols)


def top_k(per_doc: DataFrame, k: int = S.RANK_K) -> DataFrame:
    """Bounded top-k (reference Q13/Q14): TakeOrderedAndProject.

    Reference heap order is unstable on ties; we fix (score DESC, doc_id ASC).
    """
    return per_doc.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def search(
    spark: SparkSession,
    index: InvertedIndex,
    qtext: str,
    mode: str = "or",
    k: int = S.RANK_K,
    use_blocks: bool = True,
    with_prox: bool = True,
    wand: bool = False,
    serving: str = "auto",
) -> DataFrame:
    """Full query: digest -> candidates -> score -> top-k.

    Returns (doc_id, bm25, match_dim, prox, score) ordered by
    (score DESC, doc_id ASC), limited to k.

    ``serving``: "shard" = doc-sharded per-partition DAAT kernel (zero
    shuffle, plans/serve.py); "shuffle" = set-oriented join+aggregate plan;
    "auto" = shard when the index carries doc-sharded blocks.
    ``wand``: in-kernel block-max pruning on the shard path (ignored on the
    shuffle path, whose hash aggregate has no per-doc-range skip to feed).
    """
    terms = digest_query(qtext)
    if not terms:
        return spark.createDataFrame(
            [], "doc_id long, bm25 double, match_dim double, n_matched_terms long, prox double, score double"
        )

    if serving == "auto":
        serving = "shard" if (index.doc_blocks is not None and use_blocks) else "shuffle"
    if serving == "shard":
        from .serve import resolve_keywords, shard_search

        # wand=True turns on in-kernel block-max pruning (each shard seeds
        # its own threshold; zero extra driver round-trips)
        kws = resolve_keywords(spark, index, {"q": (qtext, mode)})
        local = shard_search(spark, index, kws, k=k, with_prox=with_prox, prune=wand)
        return _rank_limit(local, k, grouped=False)

    kw = _qterms_idf_df(spark, index, [("q", i, t) for i, t in enumerate(terms)])
    return _scored_topk_pruned(
        spark, index, kw, terms,
        and_required={"q": len(terms)} if mode == "and" else {},
        k=k, use_blocks=use_blocks, with_prox=with_prox, grouped=False,
    )


def search_many(
    spark: SparkSession,
    index: InvertedIndex,
    queries: dict[str, tuple[str, str]],
    k: int = S.RANK_K,
    use_blocks: bool = True,
    with_prox: bool = True,
    serving: str = "auto",
    prune: bool = False,
) -> DataFrame:
    """Batch query execution: score N queries in ONE plan.

    ``queries``: qid -> (qtext, mode). Returns
    (qid, rank, doc_id, bm25, match_dim, n_matched_terms, prox, score).

    ``prune=True`` (shard serving only): batch block-max WAND — one
    in-kernel sweep with per-qid thresholds, each surviving block decoded
    once for the whole workload (plans/serve.py _batch_wand_shard).

    This is the throughput-serving shape: the keyword frame carries a qid
    column, candidates fan out per (qid, term), one hash aggregate scores
    every (qid, doc), and a qid-partitioned window takes each query's
    top-k. Amortizes job/scan overhead across the whole workload — the
    Spark analogue of the reference daemon handling concurrent requests
    (searchd/run/searchd.c) — while per-query results stay identical to
    ``search()`` (asserted in tests).
    """
    if serving == "auto":
        serving = "shard" if (index.doc_blocks is not None and use_blocks) else "shuffle"
    if serving == "shard":
        from .serve import resolve_keywords, shard_search

        kws = resolve_keywords(spark, index, queries)
        local = shard_search(spark, index, kws, k=k, with_prox=with_prox, prune=prune)
        return _rank_limit(local, k, grouped=True)

    digested = {qid: digest_query(qtext) for qid, (qtext, _) in queries.items()}
    modes = {qid: mode for qid, (_, mode) in queries.items()}
    kw_rows = [
        (qid, i, t) for qid, terms in digested.items() for i, t in enumerate(terms)
    ]
    if not kw_rows:
        return spark.createDataFrame(
            [],
            "qid string, rank int, doc_id long, bm25 double, match_dim double, "
            "n_matched_terms long, prox double, score double",
        )
    all_terms = sorted({t for _, _, t in kw_rows})
    kw = _qterms_idf_df(spark, index, kw_rows)
    and_required = {
        qid: len(digested[qid]) for qid, m in modes.items() if m == "and"
    }
    return _scored_topk_pruned(
        spark, index, kw, all_terms, and_required,
        k=k, use_blocks=use_blocks, with_prox=with_prox, grouped=True,
    )


