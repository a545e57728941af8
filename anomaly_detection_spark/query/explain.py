"""``_explain`` analog: the per-term BM25 score breakdown for a match
query — one row per (docid, matched term) carrying every piece of the
Lucene BM25 formula, summing exactly to the engine's score.

Reference surface: the _explain REST endpoint / Explanation tree
Lucene's BM25Similarity emits (``boost * idf * tf/(tf + k1*(1-b+b*
dl/avgdl))`` with the idf and tf-norm sub-explanations).  Here the
tree is a flat DataFrame — (docid, term, tf, df, doc_len, query_mult,
idf, tf_norm, weight) — so it stays queryable and distributed; a
driver-side dict rendering is ``explain_doc``.

Both target shapes: an analyzed docs frame (corpus scan bounded by
the docid filter) or an IndexReader (only the query terms' posting
blocks are read, never a corpus re-analysis).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..localdf import local_df

from ..functions.bm25 import B_DEFAULT, K1_DEFAULT
from ..functions.tokenizer import tokenize_query
from .index_search import IndexReader


def explain_match(target, query_text: str, docids: list[int] | None = None,
                  text_field: str = "text", k1: float = K1_DEFAULT,
                  b: float = B_DEFAULT) -> DataFrame:
    """Per-(docid, term) BM25 breakdown for ``match`` on the analyzed
    text field.  ``sum(weight) grouped by docid`` equals the score
    ``bm25_scores`` / ``bm25_scores_indexed`` assigns — locked by
    tests.  ``docids`` narrows the explanation to specific hits (the
    _explain endpoint shape); None explains every matching doc."""
    qcounts = Counter(tokenize_query(query_text))
    uniq = sorted(qcounts)
    spark = (target.spark if isinstance(target, IndexReader)
             else target.sparkSession)
    schema = ("docid long, term string, tf long, df long, "
              "doc_len long, query_mult long, idf double, "
              "tf_norm double, weight double")
    if not uniq:
        return local_df(spark, [], schema)

    if isinstance(target, IndexReader):
        from .index_search import term_doc_tfs

        meta = target.meta
        n_docs, avgdl = meta.n_docs, meta.avgdl
        dfs = target.term_dfs(uniq)
        tf = (term_doc_tfs(target, [t for t in uniq if t in dfs])
              .join(target.doc_stats().select("docid", "doc_len"),
                    "docid"))
    else:
        from .brute_force import corpus_stats, term_doc_freqs

        stats = corpus_stats(target)
        n_docs, avgdl = stats.n_docs, stats.avgdl
        dfs = {r["term"]: r["df"]
               for r in term_doc_freqs(target, uniq).collect()}
        tf = (target.select("docid", "doc_len",
                            F.explode("tokens").alias("term"))
              .filter(F.col("term").isin(uniq))
              .groupBy("docid", "doc_len", "term")
              .agg(F.count("*").alias("tf")))

    if docids is not None:
        tf = tf.filter(F.col("docid").isin([int(d) for d in docids]))
    side = local_df(
        spark, [(t, int(dfs[t]), int(qcounts[t])) for t in uniq if t in dfs],
        "term string, df long, query_mult long")
    idf = F.log(1.0 + (F.lit(float(n_docs)) - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    tf_norm = (F.col("tf") * (k1 + 1.0)
               / (F.col("tf") + k1 * (1.0 - b + b * F.col("doc_len")
                                      / F.lit(max(avgdl, 1e-12)))))
    return (tf.join(F.broadcast(side), "term")
            .withColumn("idf", idf)
            .withColumn("tf_norm", tf_norm)
            .withColumn("weight",
                        F.col("idf") * F.col("tf_norm")
                        * F.col("query_mult"))
            .select("docid", "term", "tf", "df", "doc_len",
                    "query_mult", "idf", "tf_norm", "weight"))


def explain_doc(target, query_text: str, docid: int,
                text_field: str = "text", k1: float = K1_DEFAULT,
                b: float = B_DEFAULT) -> dict:
    """The _explain endpoint's nested-tree rendering for ONE doc: a
    dict with the total and one child explanation per matched term."""
    rows = explain_match(target, query_text, docids=[docid],
                         text_field=text_field, k1=k1, b=b).collect()
    details = [{
        "description": (f"weight({r['term']} in {docid}) "
                        f"[BM25, k1={k1}, b={b}]"),
        "value": r["weight"],
        "details": [
            {"description": (f"idf, computed as ln(1 + (N - n + 0.5) "
                             f"/ (n + 0.5)) with n={r['df']}"),
             "value": r["idf"]},
            {"description": (f"tf, computed as freq*(k1+1) / (freq + "
                             f"k1*(1-b+b*dl/avgdl)) with freq="
                             f"{r['tf']}, dl={r['doc_len']}"),
             "value": r["tf_norm"]},
            {"description": "query term multiplicity",
             "value": r["query_mult"]},
        ],
    } for r in sorted(rows, key=lambda r: r["term"])]
    return {
        "matched": bool(details),
        "value": sum(d["value"] for d in details),
        "description": f"sum of [{query_text!r} clause weights]",
        "details": details,
    }
