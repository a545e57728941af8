"""``more_like_this``: find documents similar to given text or docs.

The Lucene MoreLikeThis flow, re-expressed on the existing BM25
machinery (public semantics — MoreLikeThisQuery / the OpenSearch MLT
query):

1. gather the "like" term frequencies (free text analyzed by the one
   shared analyzer, or the stored tokens of the named docs);
2. keep interesting terms: ``min_term_freq`` within the like text,
   ``min_doc_freq``/``max_doc_freq`` against the corpus dictionary;
3. rank by tf·idf and keep the top ``max_query_terms`` (25 default,
   deterministic term-asc tie-break);
4. run ONE disjunctive BM25 query over the selected bag with
   ``minimum_should_match`` (default "30%" of the selected terms) as
   a matched-distinct-term count, excluding the like docs themselves.

Both target shapes: analyzed DataFrame (brute) and IndexReader (the
dictionary df lookup is ``IndexReader.term_dfs``; the msm count is the
matched-term floor of ``bm25_scores_indexed``, which reads only the
selected terms' postings).
"""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..localdf import local_df

from ..functions.tokenizer import tokenize_query

__all__ = ["more_like_this_topk", "parse_msm"]


def parse_msm(spec: str | int, n_terms: int) -> int:
    """minimum_should_match count from an int or "N%" (floor, like
    the reference's percentage rule)."""
    if isinstance(spec, int):
        v = spec if spec >= 0 else n_terms + spec
    elif isinstance(spec, str) and spec.endswith("%"):
        v = int(float(spec[:-1]) * n_terms / 100.0)
    else:
        raise ValueError(
            f"minimum_should_match must be an int or 'N%': {spec!r}")
    return max(0, min(v, n_terms))


def _like_counts_and_ids(target, like, text_field: str,
                         is_index: bool) -> tuple[Counter, list[int]]:
    """Per-term frequency of the like material + the docids to
    exclude from results."""
    tf: Counter = Counter()
    ids: list[int] = []
    items = like if isinstance(like, list) else [like]
    texts: list[str] = []
    for item in items:
        if isinstance(item, str):
            texts.append(item)
        elif isinstance(item, dict) and "_id" in item:
            ids.append(int(item["_id"]))
        else:
            raise ValueError(
                f"like items must be strings or {{'_id': n}}: {item!r}")
    for t in texts:
        tf.update(tokenize_query(t))
    if ids:
        if is_index:
            raise ValueError(
                "more_like_this by _id needs the document tokens — an "
                "inverted index stores no forward index.  Pass the "
                "like text directly, or use an analyzed-docs target")
        rows = (target.filter(F.col("docid").isin(ids))
                .select("tokens").collect())
        if len(rows) != len(set(ids)):
            raise ValueError(
                f"more_like_this: {len(set(ids)) - len(rows)} of the "
                f"like ids not found")
        for r in rows:
            tf.update(r["tokens"])
    return tf, ids


def more_like_this_topk(
    target,
    like,
    k: int = 10,
    text_field: str = "text",
    max_query_terms: int = 25,
    min_term_freq: int = 2,
    min_doc_freq: int = 5,
    max_doc_freq: int | None = None,
    minimum_should_match: str | int = "30%",
    include: bool = False,
) -> DataFrame:
    """Top-k (docid, score) similar documents.  See module docstring;
    parameter defaults mirror the reference's MLT defaults."""
    from .brute_force import bm25_scores, term_doc_freqs
    from .index_search import IndexReader, bm25_scores_indexed

    is_index = isinstance(target, IndexReader)
    spark = target.spark if is_index else target.sparkSession
    empty = local_df(spark, [], "docid long, score double")

    tf, like_ids = _like_counts_and_ids(target, like, text_field, is_index)
    cand = sorted(t for t, c in tf.items() if c >= min_term_freq)
    if not cand:
        return empty

    if is_index:
        n_docs = target.meta.n_docs
        dfreq = target.term_dfs(cand)
    else:
        n_docs = target.count()
        dfreq = {r["term"]: r["df"]
                 for r in term_doc_freqs(target, cand).collect()}
    hi = max_doc_freq if max_doc_freq is not None else n_docs
    kept = [t for t in cand
            if min_doc_freq <= dfreq.get(t, 0) <= hi]
    if not kept:
        return empty
    # tf·idf interestingness (MoreLikeThis.createQueue shape), top-N,
    # deterministic tie-break on the term itself
    scored_terms = sorted(
        kept,
        key=lambda t: (-tf[t] * math.log(n_docs / (dfreq[t] + 1.0)), t))
    sel = sorted(scored_terms[:max_query_terms])
    msm = parse_msm(minimum_should_match, len(sel))
    qtext = " ".join(sel)

    scores = bm25_scores_indexed if is_index else bm25_scores
    out = scores(target, qtext, min_match=msm)
    if like_ids and not include:
        out = out.filter(~F.col("docid").isin(like_ids))
    return out.orderBy(F.desc("score"), F.asc("docid")).limit(k)
