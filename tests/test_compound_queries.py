"""Compound scored queries (round 5 extra ring): dis_max,
constant_score, boosting, function_score — exact score combination
over full per-doc score sets, brute ≡ index identity, filter-context
compilation."""

import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from anomaly_detection_spark.index import build_index
from anomaly_detection_spark.query import IndexReader, analyze_docs
from anomaly_detection_spark.query.brute_force import bm25_scores
from anomaly_detection_spark.query.compound import compound_scores
from anomaly_detection_spark.query.planner import compile_filter, search


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "user", 5.0, "the quick brown fox jumps"),
        (1, "tool", 2.0, "quick query data"),
        (2, "user", 8.0, "slow query engine"),
        (3, "user", None, "nothing relevant here"),
        (4, "tool", 1.0, "quick quick query"),
    ]
    df = spark.createDataFrame(rows, ["docid", "role", "pri", "text"])
    return analyze_docs(df).persist()


def _scores(docs, q):
    return {r["docid"]: r["score"]
            for r in compound_scores(docs, q).collect()}


# ------------------------------------------------------------- dis_max

def test_dis_max_max_plus_tiebreaker(docs):
    a = {r["docid"]: r["score"]
         for r in bm25_scores(docs, "quick").collect()}
    b = {r["docid"]: r["score"]
         for r in bm25_scores(docs, "engine").collect()}
    got = _scores(docs, {"dis_max": {
        "queries": [{"match": {"text": "quick"}},
                    {"match": {"text": "engine"}}],
        "tie_breaker": 0.3}})
    assert set(got) == set(a) | set(b)
    for d in got:
        subs = [s[d] for s in (a, b) if d in s]
        want = max(subs) + 0.3 * (sum(subs) - max(subs))
        assert got[d] == pytest.approx(want), d


def test_dis_max_mixes_scored_and_filter_clauses(docs):
    # a term clause inside dis_max scores as constant 1.0
    a = {r["docid"]: r["score"]
         for r in bm25_scores(docs, "engine").collect()}
    got = _scores(docs, {"dis_max": {
        "queries": [{"match": {"text": "engine"}},
                    {"term": {"role": "tool"}}]}})
    for d, s in got.items():
        subs = ([a[d]] if d in a else []) + \
            ([1.0] if d in (1, 4) else [])
        assert s == pytest.approx(max(subs)), d


# ------------------------------------------------------ constant_score

def test_constant_score_boost(docs):
    got = _scores(docs, {"constant_score": {
        "filter": {"term": {"role": "user"}}, "boost": 2.5}})
    assert got == {0: 2.5, 2: 2.5, 3: 2.5}


# ------------------------------------------------------------ boosting

def test_boosting_discounts_negative_matches(docs):
    base = {r["docid"]: r["score"]
            for r in bm25_scores(docs, "quick query").collect()}
    got = _scores(docs, {"boosting": {
        "positive": {"match": {"text": "quick query"}},
        "negative": {"term": {"role": "tool"}},
        "negative_boost": 0.25}})
    assert set(got) == set(base)
    for d in got:
        want = base[d] * (0.25 if d in (1, 4) else 1.0)
        assert got[d] == pytest.approx(want), d


# ------------------------------------------------------ function_score

def test_function_score_field_value_factor(docs):
    base = {r["docid"]: r["score"]
            for r in bm25_scores(docs, "query").collect()}
    got = _scores(docs, {"function_score": {
        "query": {"match": {"text": "query"}},
        "field_value_factor": {"field": "pri", "factor": 2.0,
                               "modifier": "log1p", "missing": 1.0},
        "boost_mode": "multiply"}})
    assert set(got) == set(base)
    pri = {0: 5.0, 1: 2.0, 2: 8.0, 3: 1.0, 4: 1.0}
    for d in got:
        assert got[d] == pytest.approx(
            base[d] * np.log1p(2.0 * pri[d])), d


def test_function_score_weight_filters_and_modes(docs):
    base = {r["docid"]: r["score"]
            for r in bm25_scores(docs, "query").collect()}
    got = _scores(docs, {"function_score": {
        "query": {"match": {"text": "query"}},
        "functions": [
            {"filter": {"term": {"role": "tool"}}, "weight": 3.0},
            {"filter": {"term": {"role": "user"}}, "weight": 0.5},
        ],
        "score_mode": "sum", "boost_mode": "sum"}})
    for d in got:
        fval = 3.0 if d in (1, 4) else 0.5
        assert got[d] == pytest.approx(base[d] + fval), d
    # replace mode drops the query score entirely
    rep = _scores(docs, {"function_score": {
        "query": {"match": {"text": "query"}},
        "functions": [{"weight": 7.0}], "boost_mode": "replace"}})
    assert all(v == pytest.approx(7.0) for v in rep.values())
    assert set(rep) == set(base)     # matching still the query's


def test_function_score_min_score_and_max_boost(docs):
    got = _scores(docs, {"function_score": {
        "query": {"match": {"text": "query"}},
        "field_value_factor": {"field": "pri", "missing": 1.0},
        "max_boost": 3.0,
        "boost_mode": "replace",
        "min_score": 2.5}})
    # fval = min(pri, 3.0); min_score 2.5 keeps only pri >= 2.5 docs
    assert got == {2: pytest.approx(3.0)}


# ---------------------------------------------------- search() routing

def test_search_routes_compounds_with_ranked_output(docs):
    out = search(docs, {"query": {"dis_max": {
        "queries": [{"match": {"text": "quick"}},
                    {"match": {"text": "engine"}}]}},
        "size": 3}).toPandas()
    assert len(out) == 3
    assert list(out.score) == sorted(out.score, reverse=True)


@pytest.mark.parametrize("first_clause", [
    {"match": {"text": "spark query"}},
    # operator:and — the matched-term floor of the index scoring path
    {"match": {"text": {"query": "spark query", "operator": "and"}}},
], ids=["or", "and"])
def test_compound_brute_equals_index(spark, tiny_transcripts, first_clause):
    tmp = tempfile.mkdtemp(prefix="adspark_cmp_")
    try:
        paths = build_index(tiny_transcripts, f"{tmp}/idx", seg_size=512,
                            block_size=64, segments_per_batch=2)
        reader = IndexReader(spark, paths.root)
        analyzed = analyze_docs(tiny_transcripts).persist()
        q = {"function_score": {
            "query": {"dis_max": {
                "queries": [first_clause,
                            {"match": {"text": "data pipeline"}}],
                "tie_breaker": 0.4}},
            "functions": [{"filter": {"term": {"role": "user"}},
                           "weight": 1.5}],
            "boost_mode": "multiply"}}
        want = search(analyzed, {"query": q, "size": 10}).toPandas()
        got = search(reader, {"query": q, "size": 10}).toPandas()
        assert list(got.docid) == list(want.docid)
        assert np.allclose(
            got.score.to_numpy(dtype=float),
            want.score.to_numpy(dtype=float))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------- filter context

def test_compound_filter_context(docs):
    ids = lambda q: sorted(  # noqa: E731
        r["docid"]
        for r in docs.filter(compile_filter(docs, q)).collect())
    assert ids({"dis_max": {"queries": [
        {"term": {"role": "tool"}},
        {"match": {"text": "engine"}}]}}) == [1, 2, 4]
    assert ids({"constant_score": {
        "filter": {"term": {"role": "tool"}}}}) == [1, 4]
    # boosting: negative never excludes
    assert ids({"boosting": {
        "positive": {"match": {"text": "quick"}},
        "negative": {"term": {"role": "tool"}},
        "negative_boost": 0.1}}) == [0, 1, 4]
    assert ids({"function_score": {
        "query": {"term": {"role": "user"}},
        "functions": [{"weight": 2.0}]}}) == [0, 2, 3]
    with pytest.raises(ValueError, match="min_score"):
        compile_filter(docs, {"function_score": {
            "query": {"match_all": {}}, "min_score": 1.0}})
