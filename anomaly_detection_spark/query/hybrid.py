"""``hybrid`` query — the OpenSearch neural-search score-normalization
pipeline (HybridQueryBuilder + the normalization-processor formulas,
public docs): N independently-scored sub-queries, per-sub-query score
normalization onto [0, 1] (``min_max``) or unit norm (``l2``), then a
weighted ``arithmetic_mean`` / ``geometric_mean`` / ``harmonic_mean``
combination, top-k over the combined score.

Engine-exact choice, documented: normalization statistics are computed
over each sub-query's FULL matching score set by default — the
reference normalizes over the per-shard retrieval window, which makes
scores depend on shard count and pagination depth; pass ``window=`` to
reproduce that bounded-window behavior deterministically (one global
top-``window`` per sub-query instead of per-shard windows).

Combination semantics (the reference's ScoreCombination techniques):
``arithmetic_mean`` treats a doc missing from a sub-query as score 0
with the full weight sum in the denominator; ``geometric_mean`` and
``harmonic_mean`` average over the sub-queries where the doc scored
> 0 only (a zero would collapse the product / blow up the reciprocal
— the reference skips them the same way).

Scale shape: per sub-query one distributed agg for the normalization
statistics (two doubles to the driver), one codegen transform, one
union + groupBy(docid) — map-side combinable — and one TakeOrdered.
"""

from __future__ import annotations

import math
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..localdf import local_df


def _knn_scores(df: DataFrame, spec: dict[str, Any]) -> DataFrame:
    """Full (docid, score) set for a knn sub-query — the planner's knn
    rows without the top-k cut."""
    from .planner import _knn_rows

    return _knn_rows(df, spec).select("docid", "score")


def _sub_scores(target, query: dict[str, Any],
                text_field: str) -> DataFrame:
    from .compound import compound_scores

    if set(query) == {"knn"}:
        from .index_search import IndexReader

        if isinstance(target, IndexReader):
            raise ValueError(
                "knn sub-queries run over a DataFrame with a vector "
                "column, not a postings index")
        return _knn_scores(target, query["knn"])
    return compound_scores(target, query, text_field=text_field)


def hybrid_search(
    target,
    queries: list[dict[str, Any]],
    k: int = 10,
    normalization: str = "min_max",
    combination: str = "arithmetic_mean",
    weights: list[float] | None = None,
    window: int | None = None,
    text_field: str = "text",
) -> DataFrame:
    """Top-``k`` (docid, score) under normalization + combination of
    the sub-queries' score sets.  ``weights`` defaults to equal."""
    if not queries:
        raise ValueError("hybrid requires at least one sub-query")
    if normalization not in ("min_max", "l2"):
        raise ValueError(f"unsupported normalization {normalization!r}")
    if combination not in ("arithmetic_mean", "geometric_mean",
                           "harmonic_mean"):
        raise ValueError(f"unsupported combination {combination!r}")
    if weights is None:
        weights = [1.0] * len(queries)
    if len(weights) != len(queries):
        raise ValueError(
            f"{len(queries)} sub-queries but {len(weights)} weights")
    if any(w < 0 for w in weights):
        raise ValueError("weights must be >= 0")
    total_w = float(sum(weights))
    if total_w == 0:
        raise ValueError("weights sum to 0")

    frames: list[DataFrame] = []
    for q, w in zip(queries, weights):
        fr = _sub_scores(target, q, text_field)
        if window is not None:
            fr = (fr.orderBy(F.desc("score"), F.asc("docid"))
                  .limit(int(window)))
        # materialize the (docid, score) set once: the normalization
        # stats collect below AND the final union both read it — without
        # truncation the whole sub-query (tokenize + score) re-executes
        # for the union (guide §5: cache only what is reused; these are
        # two-column frames)
        fr = fr.localCheckpoint()
        if normalization == "min_max":
            row = fr.agg(F.min("score").alias("lo"),
                         F.max("score").alias("hi")).collect()[0]
            if row["lo"] is None:
                continue  # empty sub-result: contributes nothing
            lo, hi = float(row["lo"]), float(row["hi"])
            if hi == lo:
                norm = F.lit(1.0)
            else:
                norm = (F.col("score") - F.lit(lo)) / F.lit(hi - lo)
        else:  # l2
            row = fr.agg(F.sum(F.col("score") * F.col("score"))
                         .alias("ss")).collect()[0]
            if row["ss"] is None or float(row["ss"]) == 0.0:
                continue
            norm = F.col("score") / F.lit(math.sqrt(float(row["ss"])))
        frames.append(fr.select(
            "docid", norm.cast("double").alias("n"),
            F.lit(float(w)).alias("w")))

    if not frames:
        spark = (target.sparkSession if isinstance(target, DataFrame)
                 else target.spark)
        return local_df(spark, [], "docid long, score double")

    union = frames[0]
    for fr in frames[1:]:
        union = union.unionByName(fr)

    g = union.groupBy("docid")
    if combination == "arithmetic_mean":
        combined = g.agg((F.sum(F.col("n") * F.col("w"))
                          / F.lit(total_w)).alias("score"))
    elif combination == "geometric_mean":
        pos = union.filter(F.col("n") > 0)
        combined = (pos.groupBy("docid")
                    .agg(F.exp(F.sum(F.col("w") * F.log(F.col("n")))
                               / F.sum("w")).alias("score")))
    else:  # harmonic_mean
        pos = union.filter(F.col("n") > 0)
        combined = (pos.groupBy("docid")
                    .agg((F.sum("w")
                          / F.sum(F.col("w") / F.col("n")))
                         .alias("score")))
    return (combined.orderBy(F.desc("score"), F.asc("docid"))
            .limit(int(k)))
