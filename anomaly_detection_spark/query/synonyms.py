"""Query-time synonym expansion with Lucene ``SynonymQuery`` blended
scoring.

Reference semantics (Lucene ``SynonymQuery`` — the query OpenSearch
builds when a query-time ``synonym``/``synonym_graph`` token filter
emits variants at one analysis position): all terms of a group score
as ONE pseudo-term.  Per doc the group's term frequencies are SUMMED
BEFORE the BM25 saturation — a doc holding three variants is NOT
triple-boosted the way a bool-should of three matches would be — and
the idf uses the group's BLENDED document frequency = max docFreq over
its terms.  The engine owns no analyzer-config state, so the expansion
table is an explicit ``{query token: [synonyms...]}`` argument.

Two score-identical paths (locked by test):

- brute: one tokens explode, term→group broadcast map join, per-(doc,
  group) counts, saturate, weighted sum.
- index: a group-tf kernel on the segment-scan executor
  (``index_search._segment_scan``): posting decode of ONLY the group
  terms' blocks, per segment against the compact norms side, the same
  sum-then-saturate scoring in numpy.

Multi-token synonyms (phrase synonyms) are out of subset and raise by
name.  A group whose every member is absent from the corpus
contributes nothing (its pseudo-term has df 0), like Lucene.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..localdf import local_df

from ..functions.bm25 import B_DEFAULT, K1_DEFAULT, bm25_idf
from ..functions.tokenizer import tokenize_query
from .brute_force import CorpusStats, corpus_stats, term_doc_freqs
from .index_search import (
    _HITS,
    BLOB_DECODERS,
    IndexReader,
    _saturate,
    _segment_scan,
    codec_name,
)


def expand_groups(query_text: str,
                  synonyms: dict[str, list[str]]) -> list[tuple[str, ...]]:
    """Analyzed query tokens → synonym groups (token first, then its
    analyzed single-token synonyms, deduped, order-stable).  The same
    group appearing twice in the query scores twice (one SHOULD clause
    per occurrence, like a repeated term)."""
    groups = []
    for tok in tokenize_query(query_text):
        members = [tok]
        for s in synonyms.get(tok, []):
            sts = tokenize_query(s)
            if len(sts) != 1:
                raise ValueError(
                    f"multi-token synonym {s!r} for {tok!r} is "
                    f"unsupported (phrase synonyms are out of subset)")
            if sts[0] not in members:
                members.append(sts[0])
        groups.append(tuple(members))
    return groups


def _group_weights(groups: list[tuple[str, ...]],
                   dfs: dict[str, int], n_docs: int) -> tuple[
                       dict[int, float], list[tuple[str, int]]]:
    """(gid → idf·multiplicity, (term, gid) map rows).  Blended df =
    max over the group's present terms; all-absent groups drop."""
    keyed = Counter(groups)
    weights, rows = {}, []
    for gid, (g, mult) in enumerate(sorted(keyed.items())):
        df_g = max((dfs.get(t, 0) for t in g), default=0)
        if df_g <= 0:
            continue
        weights[gid] = float(bm25_idf(df_g, n_docs)) * mult
        rows += [(t, gid) for t in g]
    return weights, rows


def synonym_bm25_scores(
    analyzed: DataFrame,
    query_text: str,
    synonyms: dict[str, list[str]],
    filter_cond=None,
    stats: CorpusStats | None = None,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    id_col: str = "docid",
) -> DataFrame:
    """Per-doc blended synonym-match scores, no top-k cut (the brute
    building block; ``analyzed`` carries ``tokens``/``doc_len``)."""
    spark = analyzed.sparkSession
    empty = analyzed.select(F.col(id_col),
                            F.lit(0.0).alias("score")).limit(0)
    groups = expand_groups(query_text, synonyms)
    if not groups:
        return empty
    stats = stats or corpus_stats(analyzed)
    all_terms = sorted({t for g in groups for t in g})
    dfs = {r["term"]: r["df"]
           for r in term_doc_freqs(analyzed, all_terms).collect()}
    weights, rows = _group_weights(groups, dfs, stats.n_docs)
    if not rows:
        return empty
    gmap = F.broadcast(local_df(spark, rows, "term string, gid int"))
    wmap = F.broadcast(local_df(
        spark, sorted(weights.items()), "gid int, w double"))
    cand = analyzed if filter_cond is None else analyzed.filter(filter_cond)
    tf = (cand.select(id_col, "doc_len", F.explode("tokens").alias("term"))
          .join(gmap, "term")
          .groupBy(id_col, "doc_len", "gid")
          .agg(F.count("*").alias("tf")))          # summed group tf
    avgdl = max(stats.avgdl, 1e-12)
    contrib = tf.join(wmap, "gid").withColumn(
        "wc", F.col("w") * (F.col("tf") * (k1 + 1.0))
        / (F.col("tf")
           + k1 * (1.0 - b + b * F.col("doc_len") / F.lit(avgdl))))
    return contrib.groupBy(id_col).agg(F.sum("wc").alias("score"))


def synonym_match_topk(
    analyzed: DataFrame,
    query_text: str,
    synonyms: dict[str, list[str]],
    k: int = 10,
    **kw,
) -> DataFrame:
    """Brute top-k: (docid, score) by (score desc, docid asc)."""
    id_col = kw.get("id_col", "docid")
    return (synonym_bm25_scores(analyzed, query_text, synonyms, **kw)
            .orderBy(F.desc("score"), F.asc(id_col)).limit(k))


def synonym_match_topk_indexed(
    reader: IndexReader,
    query_text: str,
    synonyms: dict[str, list[str]],
    k: int = 10,
    filter_cond=None,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
) -> DataFrame:
    """Index-path twin: reads ONLY the group terms' posting blocks,
    scores segment-locally against the norms side, identical scores to
    :func:`synonym_match_topk` (test-locked)."""
    meta = reader.meta
    empty = local_df(reader.spark, [], _HITS)
    groups = expand_groups(query_text, synonyms)
    if not groups:
        return empty
    dfs = reader.term_dfs(sorted({t for g in groups for t in g}))
    weights, rows = _group_weights(groups, dfs, meta.n_docs)
    if not rows:
        return empty
    term2gids: dict[str, list[int]] = {}
    for t, gid in rows:
        term2gids.setdefault(t, []).append(gid)
    avgdl = meta.avgdl
    dec = BLOB_DECODERS[codec_name(meta.codec)]
    gids_sorted = sorted(weights)
    gid_slot = {g: i for i, g in enumerate(gids_sorted)}
    w_arr = np.array([weights[g] for g in gids_sorted])

    def kernel(p, dl: np.ndarray, seg_base: int):
        # per group: the SUM of its terms' tfs, saturated once
        acc = np.zeros((len(gids_sorted), len(dl)))
        for t, first, gaps, tfs in zip(p["term"], p["first_docid"],
                                       p["gaps"], p["tfs"]):
            loc = (np.cumsum(dec(bytes(gaps))).astype(np.int64)
                   + int(first)) - seg_base
            tf = dec(bytes(tfs)).astype(np.float64)
            for gid in term2gids[t]:
                np.add.at(acc[gid_slot[gid]], loc, tf)
        ok = dl >= 0
        score = np.zeros(len(dl))
        for i in range(len(gids_sorted)):
            tfv = acc[i]
            m = (tfv > 0) & ok
            score[m] += _saturate(w_arr[i], tfv[m], dl[m], k1, b, avgdl)
        hit = np.flatnonzero(score > 0)
        return hit, score[hit]

    return _segment_scan(reader, sorted(term2gids),
                         ("first_docid", "gaps", "tfs"), kernel,
                         filter_cond, k)
