"""Span queries (round 5 continuation): kernel correctness vs a naive
oracle, Lucene-documented examples, filter-context planner wiring,
brute ≡ index docid identity over a real positional index."""

import itertools
import random
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from anomaly_detection_spark.functions.spans import (parse_span_tree,
                                                     span_tree_match)
from anomaly_detection_spark.index import build_index
from anomaly_detection_spark.query import IndexReader, analyze_docs
from anomaly_detection_spark.query.index_search import (
    span_near_docs_indexed,
)
from anomaly_detection_spark.query.planner import compile_filter


def _near_match(tokens, terms, slop, in_order, end=None):
    """The span_near (span_first when ``end`` is given) body over
    ``terms``, parsed and matched by the one span kernel."""
    near = {"span_near": {
        "clauses": [{"span_term": {"text": t}} for t in terms],
        "slop": slop, "in_order": in_order}}
    q = near if end is None else {"span_first": {"match": near,
                                                 "end": end}}
    (kind, body), = q.items()
    return span_tree_match(tokens, parse_span_tree(kind, body)[1])


def _naive(tokens, terms, slop, in_order, end=None):
    """Exhaustive oracle: try every assignment of one occurrence per
    clause (distinct positions; clause-ordered when in_order)."""
    pos = {t: [i for i, x in enumerate(tokens) if x == t]
           for t in set(terms)}
    m = len(terms)
    for combo in itertools.product(*[pos[t] for t in terms]):
        if len(set(combo)) != m:
            continue
        if in_order and any(combo[i] >= combo[i + 1]
                            for i in range(m - 1)):
            continue
        if (max(combo) - min(combo) + 1) - m > slop:
            continue
        if end is not None and max(combo) + 1 > end:
            continue
        return True
    return False


def test_span_kernels_match_naive_oracle():
    rng = random.Random(5)
    vocab = list("abcd")
    for trial in range(300):
        tokens = [rng.choice(vocab) for _ in range(rng.randint(0, 14))]
        m = rng.randint(1, 3)
        terms = [rng.choice(vocab) for _ in range(m)]
        slop = rng.randint(0, 4)
        in_order = rng.random() < 0.5
        end = rng.choice([None, rng.randint(1, 12)])
        got = _near_match(tokens, terms, slop, in_order, end)
        want = _naive(tokens, terms, slop, in_order, end)
        assert got == want, (tokens, terms, slop, in_order, end)


def test_span_lucene_documented_cases():
    toks = "the quick brown fox jumps over the lazy dog".split()
    # adjacent ordered pair: slop 0
    assert _near_match(toks, ["quick", "brown"], 0, True)
    # one word between: needs slop 1 ordered
    assert not _near_match(toks, ["quick", "fox"], 0, True)
    assert _near_match(toks, ["quick", "fox"], 1, True)
    # reversed order fails ordered at any slop here, matches unordered
    assert not _near_match(toks, ["fox", "quick"], 5, True)
    assert _near_match(toks, ["fox", "quick"], 1, False)
    # same term twice needs two distinct occurrences
    assert _near_match(toks, ["the", "the"], 10, False)
    assert not _near_match(["the"], ["the", "the"], 10, False)
    # span_first: "the" ends at 1 (≤ 2); "brown" ends at 3 (> 2)
    assert _near_match(toks, ["the"], 0, True, end=2)
    assert not _near_match(toks, ["brown"], 0, True, end=2)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "alpha beta gamma"),
        (1, "beta alpha delta"),
        (2, "alpha x y beta"),
        (3, "gamma delta"),
    ]
    df = spark.createDataFrame(rows, ["docid", "text"])
    return analyze_docs(df).persist()


def test_span_filter_context_plans(docs):
    ids = lambda q: sorted(  # noqa: E731
        r["docid"]
        for r in docs.filter(compile_filter(docs, q)).collect())
    near = {"span_near": {"clauses": [
        {"span_term": {"text": "alpha"}},
        {"span_term": {"text": "beta"}}], "slop": 0, "in_order": True}}
    assert ids(near) == [0]
    near2 = {"span_near": {**near["span_near"], "slop": 2}}
    assert ids(near2) == [0, 2]
    near3 = {"span_near": {**near["span_near"], "in_order": False,
                           "slop": 0}}
    assert ids(near3) == [0, 1]
    assert ids({"span_term": {"text": "delta"}}) == [1, 3]
    assert ids({"span_first": {"match": {"span_term": {"text": "beta"}},
                               "end": 1}}) == [1]
    # non-span clause: the span parser rejects it
    with pytest.raises(ValueError, match="not a span query"):
        compile_filter(docs, {"span_near": {
            "clauses": [{"term": {"text": "x"}}]}})


def test_span_brute_equals_index(spark, tiny_transcripts):
    tmp = tempfile.mkdtemp(prefix="adspark_span_")
    try:
        paths = build_index(tiny_transcripts, f"{tmp}/idx", seg_size=512,
                            block_size=64, segments_per_batch=2,
                            positions=True)
        reader = IndexReader(spark, paths.root)
        analyzed = analyze_docs(tiny_transcripts).persist()
        cases = [
            (["the", "data"], 3, True, None),
            (["data", "the"], 2, False, None),
            (["spark", "query"], 5, True, None),
            (["the", "the"], 4, False, None),
            (["merge", "data"], 6, False, 12),
        ]
        for terms, slop, in_order, end in cases:
            q = {"span_near": {
                "clauses": [{"span_term": {"text": t}} for t in terms],
                "slop": slop, "in_order": in_order}}
            if end is not None:
                q = {"span_first": {"match": q, "end": end}}
            want = sorted(
                r["docid"] for r in analyzed.filter(
                    compile_filter(analyzed, q)).collect())
            got = [r["docid"] for r in span_near_docs_indexed(
                reader, terms, slop=slop, in_order=in_order,
                end=end).collect()]
            assert got == want, (terms, slop, in_order, end)
            assert len(want) > 0, ("vacuous case", terms)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
