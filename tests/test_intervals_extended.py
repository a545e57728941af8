"""Intervals extensions: prefix/wildcard/fuzzy sources + filter rules
(containing / contained_by / overlapping and negations) via the span
enumeration kernel."""

import pytest

from anomaly_detection_spark.query.planner import compile_filter


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "my favorite food is cold porridge"),
        (1, "when it's cold my favorite food is porridge"),
        (2, "hot porridge is the best food"),
        (3, "my favourite meal is soup"),
    ]
    return spark.createDataFrame(rows, "docid long, text string") \
        .persist()


def _ids(docs, q):
    return sorted(r["docid"] for r in
                  docs.filter(compile_filter(docs, q)).collect())


def test_intervals_prefix_wildcard_fuzzy_sources(docs):
    q = {"intervals": {"text": {"prefix": {"prefix": "favo"}}}}
    assert _ids(docs, q) == [0, 1, 3]   # favorite / favourite
    q = {"intervals": {"text": {"wildcard": {"pattern": "po*ge"}}}}
    assert _ids(docs, q) == [0, 1, 2]
    q = {"intervals": {"text": {"fuzzy": {"term": "fod",
                                          "fuzziness": 1}}}}
    assert _ids(docs, q) == [0, 1, 2]   # food within 1 edit


def test_intervals_filter_containing(docs):
    # the documented example: "favorite food" within max_gaps 10,
    # FILTERED to windows containing "cold" — doc 0's minimal window
    # [favorite..food] does NOT contain cold; doc 1's window spans
    # [favorite food] directly (gap 0) and also excludes cold.
    q = {"intervals": {"text": {"match": {
        "query": "my food", "max_gaps": 10, "ordered": True,
        "filter": {"containing": {"match": {"query": "favorite"}}}}}}}
    # doc 0: window my..food = [0, 5) contains favorite@1 -> hit
    # doc 1: minimal my..food window [3,6) contains favorite@4 -> hit
    # doc 3: no "food"
    assert _ids(docs, q) == [0, 1]
    # not_containing flips within the matching windows
    q_not = {"intervals": {"text": {"match": {
        "query": "my food", "max_gaps": 10, "ordered": True,
        "filter": {"not_containing": {"match": {"query": "favorite"}}}}}}}
    assert _ids(docs, q_not) == []


def test_intervals_filter_contained_by_and_overlap(docs):
    # "porridge" contained by a "cold ... porridge" window
    q = {"intervals": {"text": {"match": {
        "query": "porridge",
        "filter": {"contained_by": {"match": {
            "query": "cold porridge", "max_gaps": 5,
            "ordered": True}}}}}}}
    assert _ids(docs, q) == [0, 1]
    q = {"intervals": {"text": {"match": {
        "query": "cold porridge", "max_gaps": 0, "ordered": True,
        "filter": {"overlapping": {"match": {"query": "porridge"}}}}}}}
    assert _ids(docs, q) == [0]         # adjacent only in doc 0
    q = {"intervals": {"text": {"match": {
        "query": "porridge",
        "filter": {"not_overlapping": {"match": {"query": "cold"}}}}}}}
    assert _ids(docs, q) == [0, 1, 2]   # porridge never overlaps cold


def test_intervals_any_of_with_pred_and_filter(docs):
    q = {"intervals": {"text": {"any_of": {"intervals": [
        {"fuzzy": {"term": "soap", "fuzziness": 1}},
        {"prefix": {"prefix": "porr"}}]}}}}
    assert _ids(docs, q) == [0, 1, 2, 3]
    # all_of over unit preds composes into a near
    q = {"intervals": {"text": {"all_of": {
        "intervals": [{"prefix": {"prefix": "favo"}},
                      {"match": {"query": "food"}}],
        "ordered": True, "max_gaps": 1}}}}
    assert _ids(docs, q) == [0, 1]
    with pytest.raises(ValueError, match="filter rule"):
        _ids(docs, {"intervals": {"text": {"match": {
            "query": "food",
            "filter": {"before": {"match": {"query": "cold"}}}}}}})


def test_intervals_repeated_terms_need_distinct_positions(spark):
    # a repeated term takes one position per occurrence in every form
    # of the source (Lucene's unordered source counts repeats) — plain
    # match included, not only its filtered / gapped / any_of forms
    df = spark.createDataFrame([(0, "slow engine"),
                                (1, "slow slow engine")],
                               "docid long, text string")
    match = {"query": "slow slow"}
    for src in (
            {"match": match},
            {"match": {**match, "filter": {"not_containing": {
                "match": {"query": "zzz"}}}}},
            {"match": {**match, "max_gaps": 100}},
            {"any_of": {"intervals": [{"match": match},
                                      {"prefix": {"prefix": "zzz"}}]}}):
        assert _ids(df, {"intervals": {"text": src}}) == [1], src


def test_ifilter_enum_fuzz():
    """Fuzz the ifilter kernel vs a direct set-algebra oracle over
    random position maps (no Spark)."""
    import random

    import numpy as np

    from anomaly_detection_spark.functions.spans import enum_spans

    rng = random.Random(20260817)
    vocab = list("abcde")
    for _ in range(300):
        toks = [rng.choice(vocab) for _ in range(rng.randint(0, 14))]
        positions = {}
        for i, t in enumerate(toks):
            positions.setdefault(t, []).append(i)
        positions = {t: np.asarray(v, dtype=np.int64)
                     for t, v in positions.items()}

        def mknode():
            if rng.random() < 0.5:
                return {"k": "term", "t": rng.choice(vocab)}
            return {"k": "near",
                    "cl": [{"k": "term", "t": rng.choice(vocab)}
                           for _ in range(2)],
                    "slop": rng.randint(0, 3),
                    "ord": rng.random() < 0.5}

        src, flt = mknode(), mknode()
        for rule in ("containing", "not_containing", "contained_by",
                     "not_contained_by", "overlapping",
                     "not_overlapping"):
            node = {"k": "ifilter", "rule": rule, "src": src,
                    "flt": flt}
            got = {(int(s), int(e))
                   for s, e in enum_spans(positions, node)}
            ss = [(int(a), int(b))
                  for a, b in enum_spans(positions, src)]
            ff = [(int(a), int(b))
                  for a, b in enum_spans(positions, flt)]
            base = rule.removeprefix("not_")
            neg = rule.startswith("not_")

            def rel(s, f):
                if base == "containing":
                    return f[0] >= s[0] and f[1] <= s[1]
                if base == "contained_by":
                    return f[0] <= s[0] and f[1] >= s[1]
                return f[0] < s[1] and f[1] > s[0]

            want = {s for s in ss
                    if any(rel(s, f) for f in ff) != neg}
            assert got == want, (rule, toks, src, flt)


def test_intervals_filter_sees_minimal_windows_only(spark):
    # unordered "a b" over "a c a b" has one minimal window, [a@2, b@3];
    # the wider [a@0 .. b@3] holds "c" but is not an interval of the
    # source, so a containing filter must not match through it
    df = spark.createDataFrame([(0, "a c a b"), (1, "a c b")],
                               "docid long, text string")
    q = {"intervals": {"text": {"match": {
        "query": "a b", "filter": {"containing": {"match": {"query": "c"}}}}}}}
    assert _ids(df, q) == [1]
