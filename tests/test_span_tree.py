"""Compound span queries (span_or / span_not / span_containing /
span_within): enum_spans kernel vs an independent exhaustive
itertools oracle, Lucene-documented examples, planner wiring,
brute ≡ index identity over a real positional index."""

import itertools
import random
import shutil
import tempfile

import numpy as np
import pytest

from anomaly_detection_spark.functions.spans import (
    enum_spans, parse_span_tree, span_tree_match, tree_terms)


def _pos(tokens):
    out = {}
    for i, t in enumerate(tokens):
        out.setdefault(t, []).append(i)
    return {t: np.asarray(v, dtype=np.int64) for t, v in out.items()}


def _oracle(positions, node):
    """Independent exhaustive formulation of the documented span
    enumeration semantics (all-combos for near, set algebra above)."""
    k = node["k"]
    if k == "term":
        return {(int(p), int(p) + 1)
                for p in positions.get(node["t"], [])}
    if k == "or":
        return set().union(*(_oracle(positions, c) for c in node["cl"]))
    if k == "near":
        subs = [sorted(_oracle(positions, c)) for c in node["cl"]]
        if any(not s for s in subs):
            return set()
        out = set()
        if node["ord"]:
            # all ordered non-overlapping combos; per distinct first
            # start the minimal end (greedy-minimal = Lucene posture)
            best = {}
            for combo in itertools.product(*subs):
                if any(combo[i + 1][0] < combo[i][1]
                       for i in range(len(combo) - 1)):
                    continue
                s, e = combo[0][0], combo[-1][1]
                tot = sum(c[1] - c[0] for c in combo)
                if (e - s) - tot <= node["slop"]:
                    if s not in best or e < best[s]:
                        best[s] = e
            out = set(best.items())
        else:
            # all combos of DISTINCT positions; per distinct end the
            # maximal start (the minimal covering window per right end)
            best = {}
            for combo in itertools.product(*subs):
                pos_used = [c[0] for c in combo]
                if len(set(pos_used)) != len(pos_used):
                    continue
                s, e = min(pos_used), max(pos_used) + 1
                if (e - s) - len(combo) <= node["slop"]:
                    if e not in best or s > best[e]:
                        best[e] = s
            out = {(s, e) for e, s in best.items()}
        return out
    if k == "first":
        return {(s, e) for s, e in _oracle(positions, node["inner"])
                if e <= node["end"]}
    if k == "not":
        inc = _oracle(positions, node["inc"])
        exc = _oracle(positions, node["exc"])
        return {(s, e) for s, e in inc
                if not any(xs < e + node["post"] and xe > s - node["pre"]
                           for xs, xe in exc)}
    little = _oracle(positions, node["little"])
    big = _oracle(positions, node["big"])
    if k == "containing":
        return {(s, e) for s, e in big
                if any(ls >= s and le <= e for ls, le in little)}
    return {(s, e) for s, e in little
            if any(bs <= s and be >= e for bs, be in big)}


def _spans_set(arr):
    return {(int(s), int(e)) for s, e in arr}


# ------------------------------------------------- documented examples

def test_span_or_union():
    toks = "a b c a".split()
    node = {"k": "or", "cl": [{"k": "term", "t": "a"},
                              {"k": "term", "t": "c"}]}
    assert _spans_set(enum_spans(_pos(toks), node)) == {
        (0, 1), (2, 3), (3, 4)}


def test_span_not_pre_post():
    # include "a" spans not within pre/post of an "x" span
    toks = "a x a b a".split()  # a at 0,2,4; x at 1
    mk = lambda pre, post: {  # noqa: E731
        "k": "not", "inc": {"k": "term", "t": "a"},
        "exc": {"k": "term", "t": "x"}, "pre": pre, "post": post}
    assert _spans_set(enum_spans(_pos(toks), mk(0, 0))) == {
        (0, 1), (2, 3), (4, 5)}  # no direct overlap anywhere
    # post=1: exclude x spans overlapping [s-0, e+1) -> kills a@0
    assert _spans_set(enum_spans(_pos(toks), mk(0, 1))) == {
        (2, 3), (4, 5)}
    # pre=1: overlap [s-1, e) -> kills a@2
    assert _spans_set(enum_spans(_pos(toks), mk(1, 0))) == {
        (0, 1), (4, 5)}


def test_span_containing_and_within():
    toks = "a b c b a c".split()
    near = {"k": "near", "cl": [{"k": "term", "t": "a"},
                                {"k": "term", "t": "c"}],
            "slop": 3, "ord": True}  # spans (0,3) [a..c], (4,6) [a c]
    little = {"k": "term", "t": "b"}
    pos = _pos(toks)
    assert _spans_set(enum_spans(pos, near)) == {(0, 3), (4, 6)}
    cont = {"k": "containing", "big": near, "little": little}
    assert _spans_set(enum_spans(pos, cont)) == {(0, 3)}
    within = {"k": "within", "little": little, "big": near}
    assert _spans_set(enum_spans(pos, within)) == {(1, 2)}


def test_or_inside_near_clause():
    toks = "x q y p z".split()
    node = {"k": "near",
            "cl": [{"k": "or", "cl": [{"k": "term", "t": "p"},
                                      {"k": "term", "t": "q"}]},
                   {"k": "term", "t": "z"}],
            "slop": 2, "ord": True}
    # q@1..z@4 window 4 gap 2 ok; p@3..z@4 gap 0 ok
    assert _spans_set(enum_spans(_pos(toks), node)) == {(1, 5), (3, 5)}


# --------------------------------------------------------------- fuzz

def _rand_leaf(rng, vocab):
    if rng.random() < 0.7:
        return {"k": "term", "t": rng.choice(vocab)}
    return {"k": "or", "cl": [{"k": "term", "t": rng.choice(vocab)}
                              for _ in range(rng.randint(1, 3))]}


def _rand_node(rng, vocab, depth=0):
    r = rng.random()
    if depth >= 2 or r < 0.25:
        return _rand_leaf(rng, vocab)
    if r < 0.5:
        return {"k": "near",
                "cl": [_rand_leaf(rng, vocab)
                       for _ in range(rng.randint(2, 3))],
                "slop": rng.randint(0, 3),
                "ord": rng.random() < 0.7}
    if r < 0.6:
        return {"k": "first",
                "inner": _rand_node(rng, vocab, depth + 1),
                "end": rng.randint(1, 8)}
    if r < 0.75:
        return {"k": "not", "inc": _rand_node(rng, vocab, depth + 1),
                "exc": _rand_node(rng, vocab, depth + 1),
                "pre": rng.randint(0, 2), "post": rng.randint(0, 2)}
    kind = "containing" if r < 0.875 else "within"
    return {"k": kind, "little": _rand_node(rng, vocab, depth + 1),
            "big": _rand_node(rng, vocab, depth + 1)}


def test_enum_spans_fuzz_vs_exhaustive():
    vocab = list("abcd")
    for seed, trials in ((42, 400), (3, 20_000)):
        rng = random.Random(seed)
        checked = 0
        for _ in range(trials):
            toks = [rng.choice(vocab) for _ in range(rng.randint(0, 12))]
            node = _rand_node(rng, vocab)
            pos = _pos(toks)
            want = _oracle(pos, node)
            assert _spans_set(enum_spans(pos, node)) == want, (toks, node)
            checked += bool(want)
        assert checked > 60  # fuzz actually hit matching cases


def test_unordered_near_needs_distinct_positions_for_every_clause_pair():
    # the one "a" cannot serve both clauses, whatever else the doc holds
    _, node = parse_span_tree("span_near", {"clauses": [
        {"span_or": {"clauses": [{"span_term": {"text": "a"}},
                                 {"span_term": {"text": "b"}}]}},
        {"span_term": {"text": "a"}}], "slop": 0, "in_order": False})
    docs = ["a", "a c c b", "a b", "b a"]
    assert [span_tree_match(d.split(), node) for d in docs] == [
        False, False, True, True]


# ---------------------------------------------------- parse + planner

def test_parse_span_tree_shapes():
    fld, node = parse_span_tree("span_or", {"clauses": [
        {"span_term": {"text": "Quick"}},
        {"span_term": {"text": "fast"}}]})
    assert fld == "text" and node["k"] == "or"
    assert tree_terms(node) == {"quick", "fast"}
    with pytest.raises(ValueError, match="share one field"):
        parse_span_tree("span_not", {
            "include": {"span_term": {"text": "a"}},
            "exclude": {"span_term": {"other": "b"}}})
    with pytest.raises(ValueError, match="unit-length"):
        parse_span_tree("span_near", {"clauses": [
            {"span_near": {"clauses": [{"span_term": {"text": "a"}},
                                       {"span_term": {"text": "b"}}]}},
            {"span_term": {"text": "c"}}]})


def test_planner_filter_context(spark):
    from anomaly_detection_spark.query.planner import compile_filter

    rows = [(0, "alpha x beta"), (1, "alpha beta"), (2, "beta alpha")]
    df = spark.createDataFrame(rows, ["docid", "text"])
    q = {"span_not": {
        "include": {"span_near": {"clauses": [
            {"span_term": {"text": "alpha"}},
            {"span_term": {"text": "beta"}}], "slop": 1,
            "in_order": True}},
        "exclude": {"span_term": {"text": "x"}}}}
    got = sorted(r["docid"] for r in
                 df.filter(compile_filter(df, q)).collect())
    assert got == [1]  # doc 0's only span contains x; doc 2 unordered
    q_or = {"span_or": {"clauses": [{"span_term": {"text": "x"}},
                                    {"span_term": {"text": "beta"}}]}}
    got = sorted(r["docid"] for r in
                 df.filter(compile_filter(df, q_or)).collect())
    assert got == [0, 1, 2]


def test_span_tree_brute_equals_index(spark, tiny_transcripts):
    from anomaly_detection_spark.index import build_index
    from anomaly_detection_spark.query import IndexReader, analyze_docs
    from anomaly_detection_spark.query.index_search import (
        span_tree_docs_indexed)

    tmp = tempfile.mkdtemp(prefix="adspark_sptree_")
    try:
        paths = build_index(tiny_transcripts, f"{tmp}/idx", seg_size=256,
                            block_size=64, segments_per_batch=2,
                            positions=True)
        reader = IndexReader(spark, paths.root)
        analyzed = analyze_docs(tiny_transcripts).persist()
        trees = [
            parse_span_tree("span_or", {"clauses": [
                {"span_term": {"text": "spark"}},
                {"span_term": {"text": "pipeline"}}]}),
            parse_span_tree("span_not", {
                "include": {"span_term": {"text": "query"}},
                "exclude": {"span_term": {"text": "the"}},
                "pre": 1, "post": 1}),
            parse_span_tree("span_within", {
                "little": {"span_term": {"text": "query"}},
                "big": {"span_near": {"clauses": [
                    {"span_term": {"text": "the"}},
                    {"span_term": {"text": "data"}}],
                    "slop": 4, "in_order": True}}}),
        ]
        toks = analyzed.select("docid", "tokens").toPandas()
        nonvacuous = 0
        for fld, node in trees:
            want = sorted(
                int(r.docid) for r in toks.itertuples()
                if span_tree_match(list(r.tokens), node))
            got = [r["docid"] for r in
                   span_tree_docs_indexed(reader, node).collect()]
            assert got == want, node
            nonvacuous += bool(want)
        assert nonvacuous >= 2
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        analyzed.unpersist()
