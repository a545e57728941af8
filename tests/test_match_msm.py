"""One ``match`` clause model: ``minimum_should_match`` on a match is
honoured wherever the clause sits in the query tree (top level,
bool filter / must, inside a compound, the detector's compile_filter),
on the brute-force frame and on a posting index alike."""

import shutil
import tempfile

import pytest

from anomaly_detection_spark.index import build_index
from anomaly_detection_spark.query import IndexReader
from anomaly_detection_spark.query.index_search import doc_frame
from anomaly_detection_spark.query.planner import compile_filter, search

MSM3 = {"match": {"text": {"query": "spark query data",
                           "minimum_should_match": 3}}}

# expected docids by hand: 3 of the 3 query terms → docs 1 and 4;
# role user narrows to doc 1
CONTEXTS = {
    "top_level": (MSM3, [1, 4]),
    "bool_filter": ({"bool": {"filter": [MSM3]}}, [1, 4]),
    "bool_must_term_filter": ({"bool": {
        "must": [MSM3], "filter": [{"term": {"role": "user"}}]}}, [1]),
    "dis_max": ({"dis_max": {"queries": [MSM3]}}, [1, 4]),
    "compile_filter": (MSM3, [1, 4]),
    # fuzzy terms count toward the floor like exact ones
    "bool_filter_fuzzy": ({"bool": {"filter": [{"match": {"text": {
        "query": "spark qurey data", "fuzziness": 1,
        "minimum_should_match": 3}}}]}}, [1, 4]),
}


@pytest.fixture(scope="module")
def targets(spark):
    docs = spark.createDataFrame(
        [(0, "unrelated words only", "user"),
         (1, "spark query data", "user"),
         (2, "spark query", "user"),
         (3, "spark", "user"),
         (4, "spark query data", "assistant")],
        "docid long, text string, role string")
    tmp = tempfile.mkdtemp(prefix="adspark_msm_")
    paths = build_index(docs, f"{tmp}/idx", seg_size=4, block_size=4,
                        keep_cols=("role", "text"))
    yield {"brute": docs, "index": IndexReader(spark, paths.root)}
    shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.parametrize("target_kind", ["brute", "index"])
@pytest.mark.parametrize("context", list(CONTEXTS))
def test_match_msm_every_context(targets, context, target_kind):
    target = targets[target_kind]
    query, want = CONTEXTS[context]
    if context == "compile_filter":
        df = doc_frame(target)
        got = df.filter(compile_filter(df, query)).select("docid").collect()
    else:
        got = search(target, {"query": query, "size": 10}).collect()
    assert sorted(r["docid"] for r in got) == want


SYN_MSM2 = {"match": {"text": {"query": "spark query data",
                               "minimum_should_match": 2,
                               "synonyms": {"spark": ["flink"]}}}}


@pytest.mark.parametrize("query", [SYN_MSM2, {"bool": {"must": [SYN_MSM2]}}],
                         ids=["top_level", "bool_must"])
def test_match_msm_with_synonyms_scored_raises(targets, query):
    # group-conjunctive blended scoring is out of subset: a scored
    # synonyms match with a floor of two or more terms raises rather
    # than drop the floor
    with pytest.raises(ValueError, match="minimum_should_match >= 2"):
        search(targets["brute"], {"query": query}).collect()


def _plain(**opts):
    return {"match": {"text": {"query": "spark query data", **opts}}}


@pytest.mark.parametrize("leaf", [
    SYN_MSM2, _plain(synonyms={"spark": ["flink"]}), _plain(fuzziness=1)],
    ids=["synonyms_msm", "synonyms_or", "fuzziness_or"])
def test_compound_match_synonyms_or_fuzziness_raises(targets, leaf):
    # a compound scores its match leaves as plain BM25, which would
    # silently drop synonyms or fuzziness whatever the floor, so any
    # such leaf raises (also with no minimum_should_match)
    with pytest.raises(ValueError, match="inside a compound"):
        search(targets["brute"],
               {"query": {"dis_max": {"queries": [leaf]}}}).collect()
