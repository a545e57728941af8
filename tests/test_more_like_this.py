"""more_like_this (round 5 continuation): term selection, msm
semantics, id exclusion, brute ≡ index identity."""

import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from anomaly_detection_spark.index import build_index
from anomaly_detection_spark.query import IndexReader, analyze_docs
from anomaly_detection_spark.query.mlt import more_like_this_topk, parse_msm
from anomaly_detection_spark.query.planner import search


def test_parse_msm():
    assert parse_msm("30%", 10) == 3
    assert parse_msm("100%", 7) == 7
    assert parse_msm(2, 10) == 2
    assert parse_msm(50, 10) == 10          # clamped
    with pytest.raises(ValueError, match="minimum_should_match"):
        parse_msm("abc", 5)


@pytest.fixture(scope="module")
def corpus(spark):
    base = "alpha beta gamma delta epsilon"
    rows = [(0, f"{base} {base} zeta")]            # the like doc
    rows += [(i, f"alpha beta gamma delta epsilon eta doc{i} "
                 f"alpha beta") for i in range(1, 8)]   # similar
    rows += [(i, f"omega psi chi phi upsilon tau doc{i}")
             for i in range(8, 20)]                 # dissimilar
    df = spark.createDataFrame(rows, ["docid", "text"])
    return analyze_docs(df).persist()


def test_mlt_finds_similar_and_excludes_self(corpus):
    out = more_like_this_topk(
        corpus, [{"_id": 0}], k=10, min_term_freq=2, min_doc_freq=2,
        minimum_should_match="30%").toPandas()
    assert 0 not in set(out.docid)              # self excluded
    assert set(out.docid) <= set(range(1, 8))   # only the similar block
    assert len(out) == 7
    inc = more_like_this_topk(
        corpus, [{"_id": 0}], k=10, min_term_freq=2, min_doc_freq=2,
        include=True).toPandas()
    assert 0 in set(inc.docid)


def test_mlt_free_text_and_msm(corpus):
    # like text with 5 repeated terms -> all selected; 100% msm needs
    # docs containing every one (the similar block only)
    like = "alpha alpha beta beta gamma gamma delta delta " \
           "epsilon epsilon"
    strict = more_like_this_topk(
        corpus, like, k=20, min_term_freq=2, min_doc_freq=2,
        minimum_should_match="100%").toPandas()
    assert set(strict.docid) == set(range(0, 8))
    # loose msm keeps the same set here; absent terms keep empty result
    none = more_like_this_topk(
        corpus, "nonexistent tokens only", k=5, min_term_freq=1,
        min_doc_freq=1).toPandas()
    assert len(none) == 0


def test_mlt_negative_percent_msm_is_all_but(spark):
    # "-25%" over the 4 selected terms is Lucene's "all but 25%" = 3
    docs = analyze_docs(spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma x"),
         (3, "alpha beta y z"), (4, "alpha w v u"), (5, "q r s t")],
        ["docid", "text"]))
    like = "alpha alpha beta beta gamma gamma delta delta"
    kw = dict(k=10, min_term_freq=2, min_doc_freq=1)
    neg = more_like_this_topk(docs, like, minimum_should_match="-25%",
                              **kw).collect()
    three = more_like_this_topk(docs, like, minimum_should_match=3,
                                **kw).collect()
    assert [tuple(r) for r in neg] == [tuple(r) for r in three]
    assert sorted(r["docid"] for r in neg) == [1, 2]


def test_mlt_search_routing_and_id_on_index_raises(corpus):
    out = search(corpus, {"query": {"more_like_this": {
        "fields": ["text"], "like": [{"_id": 0}],
        "min_term_freq": 2, "min_doc_freq": 2}}, "size": 5}).toPandas()
    assert len(out) == 5
    assert list(out.score) == sorted(out.score, reverse=True)


def test_mlt_brute_equals_index(spark, tiny_transcripts):
    tmp = tempfile.mkdtemp(prefix="adspark_mlt_")
    try:
        paths = build_index(tiny_transcripts, f"{tmp}/idx", seg_size=512,
                            block_size=64, segments_per_batch=2)
        reader = IndexReader(spark, paths.root)
        analyzed = analyze_docs(tiny_transcripts).persist()
        like = (" ".join(analyzed.orderBy("docid").limit(1)
                         .collect()[0]["tokens"]))
        kw = dict(k=10, min_term_freq=1, min_doc_freq=2,
                  minimum_should_match="30%")
        want = more_like_this_topk(analyzed, like, **kw).toPandas()
        got = more_like_this_topk(reader, like, **kw).toPandas()
        assert list(got.docid) == list(want.docid)
        assert np.allclose(got.score, want.score)
        assert len(got) == 10
        with pytest.raises(ValueError, match="forward index"):
            more_like_this_topk(reader, [{"_id": 3}], **kw)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
