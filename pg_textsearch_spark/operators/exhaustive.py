"""Exhaustive BM25 scoring — the join/groupBy reference path (operator Q9).

This is the engine's self-check oracle: score every matching document with
pure DataFrame ops (tokenize UDF → filter to query terms → broadcast-join
term stats → groupBy(doc) sum), exactly like the reference's standalone
``text <@> bm25query`` projection (reference: src/types/query.c:665-1118)
and its SQL validation oracle (test/sql/validation.sql:1-212).

Formula (SURVEY.md §1.4):
    score(q,d) = Σ_t qfreq(t)·idf(t)·tf·(k1+1) / (tf + k1·(1-b+b·qdl/avgdl))
    idf(t)     = ln(1 + (N - df(t) + 0.5)/(df(t) + 0.5))
with qdl = fieldnorm-quantized doc length and avgdl from raw lengths by
default (opts.avgdl_mode).

Everything after the tokenizer UDF is JVM-side built-ins: the per-posting
contribution is a codegen'd expression, the (term → idf, qfreq) map is a
broadcast join, the final top-k is TakeOrderedAndProject.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import Bm25Options
from ..functions.tokenizer import tokenize_query
from ..spark_utils import doc_postings, quantize_len_col


def idf_value(n_docs: int, df_t: int) -> float:
    """reference: src/scoring/bm25.c:28-35 (always >= 0)."""
    return math.log(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))


def contribution_col(tf_col, qdl_col, idf_col, qfreq_col, opts: Bm25Options, avgdl: float):
    k1, b = float(opts.k1), float(opts.b)
    denom = tf_col + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * qdl_col / F.lit(avgdl))
    return qfreq_col * idf_col * (tf_col * F.lit(k1 + 1.0)) / denom


def score_exhaustive(
    spark: SparkSession,
    docs: DataFrame,
    text_col: str,
    id_col: str,
    query: str,
    opts: Bm25Options | None = None,
    k: int | None = None,
    mode: str = "or",
    round_to: int = 4,
) -> DataFrame:
    """Score docs for ``query``; returns (doc_id, score) ordered by
    (score DESC, doc_id ASC), optionally limited to top-k.

    mode: 'or' (reference semantics — any matching term scores),
          'and' (all distinct query terms required),
          'phrase' (query terms consecutive; requires opts.store_positions).
    """
    opts = opts or Bm25Options()
    qterms = tokenize_query(query, opts.text_config)
    if not qterms:
        return spark.createDataFrame([], "doc_id long, score double")

    postings = doc_postings(docs, text_col, id_col, opts)
    postings.persist()
    try:
        # one job for both corpus stats (every doc has >=1 postings row —
        # empty docs carry a NULL-term marker — so countDistinct is N)
        row = postings.agg(F.countDistinct("doc_id").alias("n"),
                           F.sum("tf").alias("tl")).collect()[0]
        n_docs = int(row["n"] or 0)
        total_len = int(row["tl"] or 0)
        if opts.avgdl_mode == "quantized":
            dls = postings.groupBy("doc_id").agg(F.first("doc_len").alias("dl"))
            qrow = dls.agg(F.sum(quantize_len_col(F.col("dl"))).alias("ql")).collect()[0]
            avgdl = (int(qrow["ql"] or 0)) / max(n_docs, 1)
        else:
            avgdl = total_len / max(n_docs, 1)
        if avgdl <= 0:
            avgdl = 1.0

        term_list = [t for t, _ in qterms]
        matched = postings.filter(F.col("term").isin(term_list))

        dfreq = {r["term"]: r["df"] for r in
                 matched.groupBy("term").agg(F.countDistinct("doc_id").alias("df")).collect()}
        qdf = spark.createDataFrame(
            [(t, float(qf), idf_value(n_docs, dfreq.get(t, 0))) for t, qf in qterms],
            "term string, qfreq double, idf double",
        )
        scored_rows = matched.join(F.broadcast(qdf), "term")

        qdl = quantize_len_col(F.col("doc_len")).cast("double")
        contrib = contribution_col(
            F.col("tf").cast("double"), qdl, F.col("idf"), F.col("qfreq"), opts, avgdl)

        per_doc = scored_rows.groupBy("doc_id").agg(
            F.sum(contrib).alias("raw_score"),
            F.countDistinct("term").alias("n_terms"),
        )
        if mode == "and":
            per_doc = per_doc.filter(F.col("n_terms") == len(set(term_list)))
        elif mode == "phrase":
            match_ids = phrase_match_ids(spark, docs, text_col, id_col, query, opts)
            per_doc = per_doc.join(match_ids, "doc_id")

        result = per_doc.select(
            "doc_id", F.round(F.col("raw_score"), round_to).alias("score")
        ).orderBy(F.desc("score"), F.asc("doc_id"))
        if k is not None:
            result = result.limit(k)
        return result
    finally:
        # lazily unpersist: callers usually collect immediately; blocking=False
        postings.unpersist(False)


def phrase_match_ids(
    spark: SparkSession,
    docs: DataFrame,
    text_col: str,
    id_col: str,
    query: str,
    opts: Bm25Options,
) -> DataFrame:
    """doc_ids whose kept-token stream contains the query's token sequence at
    consecutive positions (positions sidecar; stopword positions count as
    gaps, like tsquery's <N> distance operator)."""
    import numpy as np
    import pandas as pd
    from ..spark_utils import _tokenize_with_positions

    pos_opts = Bm25Options(**{**opts.to_dict(), "store_positions": True})
    cache: dict = {}
    q = _tokenize_with_positions(query, opts.text_config, cache)
    qterms, _, _, qpos = q
    # flatten query occurrences to (lexeme, offset) pairs
    occs: list[tuple[str, int]] = []
    for t, plist in zip(qterms, qpos):
        occs.extend((t, p) for p in plist)
    if not occs:
        return spark.createDataFrame([], "doc_id long")
    base = min(p for _, p in occs)
    occs = [(t, p - base) for t, p in occs]

    postings = doc_postings(docs, text_col, id_col, pos_opts)
    sub = postings.filter(F.col("term").isin([t for t, _ in occs]))

    occs_b = occs

    def check(key, pdf):
        posmap = {t: np.asarray(p) for t, p in zip(pdf["term"], pdf["positions"])}
        first_t, first_off = occs_b[0]
        starts = posmap.get(first_t)
        if starts is None:
            return pd.DataFrame({"doc_id": []}).astype({"doc_id": "int64"})
        anchors = starts - first_off
        ok = np.ones(anchors.shape, dtype=bool)
        for t, off in occs_b[1:]:
            arr = posmap.get(t)
            if arr is None:
                return pd.DataFrame({"doc_id": []}).astype({"doc_id": "int64"})
            ok &= np.isin(anchors + off, arr)
        if ok.any():
            return pd.DataFrame({"doc_id": [int(key[0])]})
        return pd.DataFrame({"doc_id": []}).astype({"doc_id": "int64"})

    return sub.groupBy("doc_id").applyInPandas(check, "doc_id long")
