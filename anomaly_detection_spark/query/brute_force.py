"""Brute-force (index-free) BM25 top-k over a document DataFrame.

This is the rank-truth every indexed path must match (SURVEY.md §7
step 3): tokenize → explode → per-(doc,term) tf → join per-term idf →
sum contributions → global top-k.  All scoring arithmetic is JVM-side
(whole-stage codegen); Python appears only in the Arrow tokenizer.

Semantics match OpenSearch ``match`` inside a ``bool`` with filters
(reference: ``SearchFeatureDao.java:295-302``, ``ParseUtils.java:321``):
filters restrict candidate docs but never change corpus statistics
(N, avgdl, df are index-wide, like Lucene); multi-term match = SHOULD,
scores summed; ties break (score desc, docid asc).
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from ..localdf import local_df

from ..functions.bm25 import B_DEFAULT, K1_DEFAULT, quantize_doc_len
from ..functions.tokenizer import tokenize_column, tokenize_query


@dataclass(frozen=True)
class CorpusStats:
    n_docs: int
    avgdl: float


def analyze_docs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``tokens`` (analyzed text) and ``doc_len`` columns."""
    return docs.withColumn("tokens", tokenize_column(text_col)).withColumn(
        "doc_len", F.size("tokens")
    )


def _quantized_dl(col: Column) -> Column:
    """Lucene SmallFloat 1-byte norm round-trip as a Column (SURVEY.md §7
    R1 fidelity mode) — Arrow-batched, shared numpy implementation."""

    @F.pandas_udf("int")
    def _q(dl: pd.Series) -> pd.Series:
        return pd.Series(quantize_doc_len(dl.to_numpy()))

    return _q(col)


def corpus_stats(analyzed: DataFrame) -> CorpusStats:
    row = analyzed.agg(
        F.count("*").alias("n"), F.avg("doc_len").alias("avgdl")
    ).collect()[0]
    return CorpusStats(n_docs=row["n"], avgdl=float(row["avgdl"] or 0.0))


def term_doc_freqs(analyzed: DataFrame, terms: list[str]) -> DataFrame:
    """Corpus-wide df per query term: (term, df).  Distinct terms per doc
    first so a term repeated in one doc counts once."""
    return (
        analyzed.select(F.explode(F.array_distinct("tokens")).alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )


def _idf_expr(n_docs: int) -> Column:
    return F.log(1.0 + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5))


def bm25_scores(
    analyzed: DataFrame,
    query_text: str,
    filter_cond: Column | None = None,
    stats: CorpusStats | None = None,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    id_col: str = "docid",
    quantize_norms: bool = False,
    conjunctive: bool = False,
    min_match: int | None = None,
) -> DataFrame:
    """Per-doc BM25 ``match`` scores — every matching doc, no top-k cut
    (the building block :func:`bm25_topk_bruteforce` and multi-field
    scoring both rank over).  Returns (id_col, score), unordered."""
    terms = tokenize_query(query_text)
    if not terms:
        return analyzed.select(
            F.col(id_col), F.lit(0.0).alias("score")
        ).limit(0)
    stats = stats or corpus_stats(analyzed)  # exact avgdl, like Lucene
    if quantize_norms:
        analyzed = analyzed.withColumn("doc_len", _quantized_dl(F.col("doc_len")))

    # per-term idf × query multiplicity (a term repeated in the query is
    # a repeated SHOULD clause in Lucene — it scores once per repeat).
    from collections import Counter

    mult = local_df(analyzed.sparkSession,
                    list(Counter(terms).items()), "term string, mult long")
    uniq = sorted(set(terms))
    idf = F.broadcast(
        term_doc_freqs(analyzed, uniq)
        .join(mult, "term")
        .withColumn("idf", _idf_expr(stats.n_docs) * F.col("mult"))
    )

    cand = analyzed
    if filter_cond is not None:
        cand = cand.filter(filter_cond)

    tf = (
        cand.select(id_col, "doc_len", F.explode("tokens").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy(id_col, "doc_len", "term")
        .agg(F.count("*").alias("tf"))
    )
    contrib = tf.join(idf, "term").withColumn(
        "w",
        F.col("idf")
        * (F.col("tf") * (k1 + 1.0))
        / (
            F.col("tf")
            + k1 * (1.0 - b + b * F.col("doc_len") / F.lit(max(stats.avgdl, 1e-12)))
        ),
    )
    scored = contrib.groupBy(id_col).agg(
        F.sum("w").alias("score"),
        F.count("*").alias("_nt"))  # distinct matched terms (one row each)
    # the matched-distinct-term floor: operator:and needs every query
    # term (one absent from the whole corpus ⇒ no doc can match),
    # minimum_should_match a count of them
    need = len(set(terms)) if conjunctive else (min_match or 0)
    if need > 1:
        scored = scored.filter(F.col("_nt") >= need)
    return scored.select(id_col, "score")


def bm25_topk_bruteforce(
    analyzed: DataFrame,
    query_text: str,
    k: int = 10,
    filter_cond: Column | None = None,
    stats: CorpusStats | None = None,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    id_col: str = "docid",
    quantize_norms: bool = False,
    conjunctive: bool = False,
) -> DataFrame:
    """Top-k (docid, score) for an analyzed ``match`` query.

    ``analyzed`` must carry ``tokens``, ``doc_len`` and ``id_col``.
    Returns columns (docid, score) ordered by (score desc, docid asc).
    ``quantize_norms`` scores with Lucene's 1-byte doc-length norms
    (avgdl stays exact, as in Lucene).  ``conjunctive`` = match
    ``operator: and``: only docs containing every query term score
    (scores identical to OR for those docs, like Lucene).
    """
    scored = bm25_scores(analyzed, query_text, filter_cond=filter_cond,
                         stats=stats, k1=k1, b=b, id_col=id_col,
                         quantize_norms=quantize_norms,
                         conjunctive=conjunctive)
    # orderBy+limit → TakeOrderedAndProject (per-partition top-k, no
    # global sort shuffle)
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def sloppy_phrase_freq(toks: Column, terms: list[str],
                       slop: int) -> Column:
    """Sloppy-phrase frequency as a PURE CODEGEN expression over the
    analyzed token array (no UDF) — the engine's ``slop > 0`` phrase
    semantics, shared by the scored path, the filter-context planner,
    and the DuckDB oracle (same formula in list-lambda SQL).

    Anchor-nearest semantics: with adjusted position sets
    ``A_j = {p − j : tokens[p] = term_j}``, each anchor ``a ∈ A_0``
    has matchLength ``Σ_{j≥1} min_{x∈A_j} |x − a|``; it matches when
    matchLength ≤ slop and contributes ``1/(1 + matchLength)`` — the
    Lucene SloppyPhraseScorer freq shape.  For two-term phrases the
    distances coincide with Lucene's documented behavior ("a ? b"
    needs slop 1, a transposed pair needs slop 2,
    PhraseQuery#setSlop docs); for longer phrases Lucene's greedy
    repositioning can assign a different matchLength to the same
    occurrence set — this anchor-nearest form is the documented,
    oracle-checkable semantics here.  ``slop=0`` degenerates to the
    exact-phrase occurrence count.  A doc missing any phrase term
    yields 0 (``array_min`` of an empty set propagates null into the
    match test)."""
    def _adj(t: str, j: int) -> Column:
        return F.filter(
            F.transform(toks,
                        lambda x, i: F.when(x == F.lit(t), i - F.lit(j))),
            lambda v: v.isNotNull())

    A = [_adj(t, j) for j, t in enumerate(terms)]

    def match_len(a: Column) -> Column:
        total = None
        for j in range(1, len(terms)):
            dj = F.array_min(F.transform(A[j], lambda x: F.abs(x - a)))
            total = dj if total is None else total + dj
        return F.lit(0) if total is None else total

    # materialize matchLengths once (Spark does not reliably CSE the
    # Σ-of-nearest-neighbor chain across `when` branches), then weight
    mls = F.transform(A[0], lambda a: match_len(a))
    weights = F.transform(
        mls, lambda m: F.when(m <= F.lit(int(slop)),
                              1.0 / (1.0 + m)).otherwise(F.lit(0.0)))
    return F.aggregate(weights, F.lit(0.0), lambda acc, x: acc + x)


def lucene_sloppy_freq_col(toks: Column, terms: list[str],
                           slop: int) -> Column:
    """Reference-exact sloppy frequency (``slop_semantics="lucene"``):
    the SloppyPhraseScorer sweep of :mod:`..query.sloppy` as an
    Arrow-batched pandas UDF over the analyzed token array.  The inner
    per-row sweep is O(phrase-term occurrences log m) — the same
    per-doc cost Lucene pays — and only rows surviving the codegen
    all-terms-present prefilter the callers install reach it.
    Distinct phrase terms only (repeats reject by name)."""
    import pandas as pd
    from pyspark.sql import types as T

    from .sloppy import build_plists, lucene_sloppy_freq, require_distinct

    require_distinct(terms)
    terms_l, slop_i = list(terms), int(slop)

    @F.pandas_udf(T.DoubleType())
    def _pf(tok_s: pd.Series) -> pd.Series:
        out = [0.0] * len(tok_s)
        for r, toks_arr in enumerate(tok_s):
            if toks_arr is None:
                continue
            pls = build_plists(toks_arr, terms_l)
            if pls is not None:
                out[r] = lucene_sloppy_freq(pls, slop_i)
        return pd.Series(out)

    return _pf(toks)


def _all_terms_present(toks: Column, terms: list[str]) -> Column:
    """Codegen prefilter: every phrase term occurs in the doc."""
    arr = F.array(*[F.lit(t) for t in sorted(set(terms))])
    return F.forall(arr, lambda t: F.array_contains(toks, t))


def phrase_prefix_expansions(analyzed: DataFrame, prefix: str,
                             max_expansions: int = 50) -> list[str]:
    """The terms a trailing-prefix expands to: the first
    ``max_expansions`` corpus terms starting with ``prefix`` in term-
    dictionary (lexicographic) order — Lucene MultiPhraseQuery's
    expansion rule (maxExpansions=50 default)."""
    rows = (analyzed.select(F.explode(F.array_distinct("tokens"))
                            .alias("term"))
            .filter(F.col("term").startswith(prefix))
            .select("term").distinct()
            .orderBy("term").limit(max_expansions).collect())
    return [r["term"] for r in rows]


def match_phrase_prefix_topk(
    analyzed: DataFrame,
    phrase: str,
    k: int = 10,
    filter_cond: Column | None = None,
    stats: CorpusStats | None = None,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    id_col: str = "docid",
    max_expansions: int = 50,
) -> DataFrame:
    """Scored ``match_phrase_prefix``: the analyzed phrase whose LAST
    term is a prefix, expanded to the first ``max_expansions``
    dictionary terms (Lucene MultiPhraseQuery posture).  tf = count of
    positions where the m−1 exact terms are followed by ANY expansion;
    weight = Σ idf(exact terms) + idf(max df among expansions) — the
    SynonymQuery blended-df shape for the expanded slot.  Engine-
    defined but deterministic, and score-identical to the index twin
    ``match_phrase_prefix_topk_indexed``."""
    terms = tokenize_query(phrase)
    if not terms:
        return analyzed.select(
            F.col(id_col), F.lit(0.0).alias("score")).limit(0)
    first, prefix = terms[:-1], terms[-1]
    m = len(terms)
    stats = stats or corpus_stats(analyzed)
    exps = phrase_prefix_expansions(analyzed, prefix, max_expansions)
    if not exps:
        return analyzed.select(
            F.col(id_col), F.lit(0.0).alias("score")).limit(0)
    import math

    dfs = {r["term"]: r["df"] for r in term_doc_freqs(
        analyzed, sorted(set(first) | set(exps))).collect()}

    def _idf(df: int) -> float:
        return math.log(1.0 + (stats.n_docs - df + 0.5) / (df + 0.5))

    idf_sum = sum(_idf(dfs.get(t, 0)) for t in first) \
        + _idf(max(dfs.get(t, 0) for t in exps))

    cand = analyzed if filter_cond is None else analyzed.filter(filter_cond)
    toks = F.col("tokens")
    exp_arr = F.array(*[F.lit(t) for t in exps])
    if m == 1:
        pf = F.size(F.filter(toks, lambda t: F.array_contains(exp_arr, t)))
    else:
        head = F.array(*[F.lit(t) for t in first])
        pf = F.when(F.size(toks) < m, F.lit(0)).otherwise(
            F.size(F.filter(
                F.sequence(F.lit(1), F.size(toks) - m + 1),
                lambda i: (F.slice(toks, i, m - 1) == head)
                & F.array_contains(exp_arr,
                                   F.element_at(toks, i + m - 1)))))
    scored = (cand.withColumn("_pf", pf)
              .filter(F.col("_pf") > 0)
              .withColumn(
                  "score",
                  F.lit(idf_sum) * (F.col("_pf") * (k1 + 1.0))
                  / (F.col("_pf") + k1 * (1.0 - b + b * F.col("doc_len")
                     / F.lit(max(stats.avgdl, 1e-12))))))
    return (scored.select(id_col, "score")
            .orderBy(F.desc("score"), F.asc(id_col)).limit(k))


def match_phrase_topk(
    analyzed: DataFrame,
    phrase: str,
    k: int = 10,
    filter_cond: Column | None = None,
    stats: CorpusStats | None = None,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    id_col: str = "docid",
    slop: int = 0,
    slop_semantics: str = "anchor",
) -> DataFrame:
    """Scored ``match_phrase`` (Lucene PhraseQuery): tf = the number of
    positions where the analyzed doc contains the full phrase
    (overlapping occurrences count, like Lucene's position
    enumeration), weight = Σ idf over the phrase's term positions
    (duplicates counted per position), BM25 saturation over that tf.
    With ``slop > 0``, tf is the sloppy frequency from
    :func:`sloppy_phrase_freq` (weighted 1/(1+matchLength) matches);
    ``slop_semantics="lucene"`` switches to the reference-exact
    SloppyPhraseScorer sweep (:func:`lucene_sloppy_freq_col` —
    distinct terms only, not SQL-oracle-checkable, pytest-locked).

    The occurrence count is a pure codegen expression — ``filter`` +
    ``slice`` higher-order functions over the token array — so the
    scan stays JVM-side; only matching docs reach the top-k.
    """
    if slop_semantics not in ("anchor", "lucene"):
        raise ValueError(
            f"slop_semantics must be 'anchor' or 'lucene': "
            f"{slop_semantics!r}")
    terms = tokenize_query(phrase)
    if not terms:
        return analyzed.select(
            F.col(id_col), F.lit(0.0).alias("score")).limit(0)
    m = len(terms)
    stats = stats or corpus_stats(analyzed)
    # Σ idf over phrase positions: df per UNIQUE term, summed with
    # multiplicity.  The phrase has ≤ a handful of terms, so this is a
    # scalar computed once (same posture as corpus_stats).
    dfs = {r["term"]: r["df"]
           for r in term_doc_freqs(analyzed, sorted(set(terms))).collect()}
    import math

    idf_sum = sum(
        math.log(1.0 + (stats.n_docs - dfs.get(t, 0) + 0.5)
                 / (dfs.get(t, 0) + 0.5))
        for t in terms)

    cand = analyzed if filter_cond is None else analyzed.filter(filter_cond)
    toks = F.col("tokens")
    if slop > 0 and slop_semantics == "lucene":
        # codegen all-terms prefilter keeps the Arrow sweep off docs
        # that cannot match
        cand = cand.filter(_all_terms_present(toks, terms))
        pf = lucene_sloppy_freq_col(toks, terms, slop)
    elif slop > 0:
        pf = sloppy_phrase_freq(toks, terms, slop)
    else:
        arr = F.array(*[F.lit(t) for t in terms])
        pf = F.when(
            F.size(toks) < m, F.lit(0)
        ).otherwise(F.size(F.filter(
            F.sequence(F.lit(1), F.size(toks) - m + 1),
            lambda i: F.slice(toks, i, m) == arr)))
    scored = (cand.withColumn("_pf", pf)
              .filter(F.col("_pf") > 0)
              .withColumn(
                  "score",
                  F.lit(idf_sum) * (F.col("_pf") * (k1 + 1.0))
                  / (F.col("_pf") + k1 * (1.0 - b + b * F.col("doc_len")
                     / F.lit(max(stats.avgdl, 1e-12))))))
    return (scored.select(id_col, "score")
            .orderBy(F.desc("score"), F.asc(id_col)).limit(k))


def multi_match_topk(
    docs: DataFrame,
    query_text: str,
    fields: list[str],
    k: int = 10,
    match_type: str = "best_fields",
    tie_breaker: float = 0.0,
    filter_cond: Column | None = None,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    id_col: str = "docid",
) -> DataFrame:
    """OpenSearch ``multi_match`` over N analyzed fields
    (MultiMatchQueryBuilder semantics, types ``best_fields`` /
    ``most_fields``).

    Each field is scored independently with its OWN corpus statistics
    (per-field df / avgdl / doc length, exactly like one Lucene match
    query per field), then combined per doc:

    - ``best_fields``: max field score + tie_breaker × (other fields)
      — Lucene DisjunctionMaxQuery with tieBreaker
    - ``most_fields``: sum of field scores

    ``docs`` carries the RAW field columns; analysis happens here
    per field.  Per-field score frames are tiny relative to the corpus
    (only matching docs) and combine through one full outer join on
    ``id_col``; the final top-k is orderBy+limit (TakeOrderedAndProject,
    no global sort).
    """
    if not fields:
        raise ValueError("multi_match requires at least one field")
    frames = []
    for fld in fields:
        an = analyze_docs(docs, text_col=fld)
        frames.append(bm25_scores(an, query_text, filter_cond=filter_cond,
                                  k1=k1, b=b, id_col=id_col))
    return combine_field_scores(frames, match_type, tie_breaker,
                                id_col=id_col, k=k)


def combine_field_scores(
    frames: list[DataFrame],
    match_type: str,
    tie_breaker: float,
    id_col: str = "docid",
    k: int = 10,
) -> DataFrame:
    """Combine per-field (id, score) frames the MultiMatchQuery way:
    ``best_fields`` = max + tie_breaker × rest (DisjunctionMaxQuery),
    ``most_fields`` = sum.  Shared by the brute-force and index paths.
    Per-field frames hold only matching docs (tiny vs the corpus) and
    combine through full outer joins on ``id_col``; the final top-k is
    orderBy+limit (TakeOrderedAndProject, no global sort)."""
    if match_type not in ("best_fields", "most_fields"):
        raise ValueError(
            f"multi_match type {match_type!r} unsupported; "
            "best_fields / most_fields are implemented")
    joined: DataFrame | None = None
    score_cols = []
    for i, sc in enumerate(frames):
        col = f"_s{i}"
        sc = sc.withColumnRenamed("score", col)
        score_cols.append(col)
        joined = sc if joined is None else joined.join(sc, id_col, "full")
    filled = [F.coalesce(F.col(c), F.lit(0.0)) for c in score_cols]
    total = filled[0]
    for c in filled[1:]:
        total = total + c
    if match_type == "most_fields":
        score = total
    else:
        mx = filled[0] if len(filled) == 1 else F.greatest(*filled)
        score = mx + F.lit(float(tie_breaker)) * (total - mx)
    return (joined.select(F.col(id_col), score.alias("score"))
            .orderBy(F.desc("score"), F.asc(id_col))
            .limit(k))
