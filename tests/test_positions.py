"""Positional postings (round 4): index-path scored match_phrase and
multi_match must be rank/score-identical to the brute-force truth, and
positions must survive merge and resume."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from anomaly_detection_spark.index import build_index, merge_segments
from anomaly_detection_spark.query import (
    IndexReader,
    analyze_docs,
    bm25_topk_bruteforce,
    bm25_topk_indexed,
    corpus_stats,
)
from anomaly_detection_spark.query.brute_force import (
    bm25_scores,
    match_phrase_topk,
    multi_match_topk,
)
from anomaly_detection_spark.query.index_search import (
    bm25_scores_indexed,
    match_phrase_topk_indexed,
    multi_match_topk_indexed,
)

QUERIES = ["spark query data merge", "the", "index merge the a", "the the"]


@pytest.fixture(scope="module")
def pos_env(spark, tiny_transcripts):
    tmp = tempfile.mkdtemp(prefix="adspark_pos_")
    paths = build_index(
        tiny_transcripts, f"{tmp}/idx", seg_size=512, block_size=64,
        segments_per_batch=2, positions=True,
    )
    reader = IndexReader(spark, paths.root)
    analyzed = analyze_docs(tiny_transcripts).persist()
    stats = corpus_stats(analyzed)
    # phrases that genuinely occur: consecutive tokens of real docs
    rows = analyzed.filter(F.size("tokens") >= 6) \
        .orderBy("docid").limit(3).collect()
    phrases = [" ".join(r["tokens"][1:3]) for r in rows]
    phrases.append(" ".join(rows[0]["tokens"][0:4]))
    yield reader, analyzed, stats, phrases, tmp
    shutil.rmtree(tmp, ignore_errors=True)


def test_positional_build_keeps_bm25_identical(pos_env):
    """The positional encode path must produce the same (term, docid,
    tf) postings as the groupby path — proven by score identity."""
    reader, analyzed, stats, _, _ = pos_env
    assert reader.meta.positions is True
    for q in QUERIES:
        got = bm25_topk_indexed(reader, q, k=10).toPandas()
        want = bm25_topk_bruteforce(analyzed, q, k=10, stats=stats).toPandas()
        assert list(got.docid) == list(want.docid), q
        if len(got):
            assert (got.score - want.score).abs().max() < 1e-9, q


def test_match_phrase_indexed_matches_bruteforce(pos_env):
    reader, analyzed, _, phrases, _ = pos_env
    for ph in phrases + ["the the", "nonexistentterm the"]:
        got = match_phrase_topk_indexed(reader, ph, k=10).toPandas()
        want = match_phrase_topk(analyzed, ph, k=10).toPandas()
        assert list(got.docid) == list(want.docid), ph
        if len(got):
            assert (got.score - want.score).abs().max() < 1e-9, ph
    # at least one phrase must actually match (non-vacuous test)
    assert any(len(match_phrase_topk_indexed(reader, ph, k=10).toPandas())
               for ph in phrases)


def test_bm25_scores_indexed_all_docs(pos_env):
    reader, analyzed, stats, _, _ = pos_env
    q = "spark query data"
    got = bm25_scores_indexed(reader, q).toPandas() \
        .sort_values("docid").reset_index(drop=True)
    want = bm25_scores(analyzed, q, stats=stats).toPandas() \
        .sort_values("docid").reset_index(drop=True)
    assert len(got) == len(want) and len(got) > 10
    assert list(got.docid) == list(want.docid)
    assert (got.score - want.score).abs().max() < 1e-9


def test_multi_match_indexed_matches_bruteforce(spark, pos_env,
                                                tiny_transcripts):
    reader, analyzed, _, _, tmp = pos_env
    # second field index: role (its own corpus stats, like a second
    # Lucene field index); no positions needed for plain multi_match
    rpaths = build_index(tiny_transcripts, f"{tmp}/idx_role",
                         seg_size=512, block_size=64,
                         segments_per_batch=2, text_col="role")
    rreader = IndexReader(spark, rpaths.root)
    for mt, tb in (("best_fields", 0.3), ("most_fields", 0.0)):
        got = multi_match_topk_indexed(
            {"text": reader, "role": rreader},
            "the user data", ["text", "role"], k=10,
            match_type=mt, tie_breaker=tb).toPandas()
        want = multi_match_topk(
            tiny_transcripts, "the user data", ["text", "role"], k=10,
            match_type=mt, tie_breaker=tb).toPandas()
        assert list(got.docid) == list(want.docid), mt
        assert (got.score - want.score).abs().max() < 1e-9, mt


def test_merge_preserves_phrase_results(spark, pos_env):
    reader, analyzed, _, phrases, tmp = pos_env
    merged = merge_segments(spark, reader.index_dir, f"{tmp}/merged",
                            factor=4)
    mreader = IndexReader(spark, merged.root)
    assert mreader.meta.positions is True
    for ph in phrases:
        a = match_phrase_topk_indexed(reader, ph, k=10).toPandas()
        b = match_phrase_topk_indexed(mreader, ph, k=10).toPandas()
        assert list(a.docid) == list(b.docid), ph
        if len(a):
            assert (a.score - b.score).abs().max() < 1e-12, ph


def test_search_routes_phrase_and_multi_match_to_index(spark, pos_env):
    from anomaly_detection_spark.query.planner import search

    reader, analyzed, _, phrases, _ = pos_env
    out = search(reader, {"query": {"match_phrase": {
        "text": phrases[0]}}, "size": 5}).toPandas()
    want = match_phrase_topk(analyzed, phrases[0], k=5).toPandas()
    assert list(out.docid) == list(want.docid)

    # an index without positions refuses, pointing at the build flag
    import tempfile as tf

    from anomaly_detection_spark.index import build_index as bi

    tmp2 = tf.mkdtemp(prefix="adspark_nopos_")
    try:
        p2 = bi(analyzed.select("docid", "text"), f"{tmp2}/idx",
                seg_size=512, block_size=64)
        r2 = IndexReader(spark, p2.root)
        with pytest.raises(ValueError, match="positions"):
            search(r2, {"query": {"match_phrase": {"text": phrases[0]}},
                        "size": 5})
    finally:
        shutil.rmtree(tmp2, ignore_errors=True)


def test_scored_phrase_and_multi_match_hits_carry_doc_columns(pos_env):
    """Scored match_phrase / match_phrase_prefix / multi_match over an
    index end in the same hit tail as a scored match: the hits carry
    the doc columns, and (docid, score) is the kernel's top-k."""
    from anomaly_detection_spark.query.index_search import (
        match_phrase_prefix_topk_indexed)
    from anomaly_detection_spark.query.planner import search

    reader, _, _, phrases, _ = pos_env
    cols = search(reader, {"query": {"match": {"text": phrases[0]}},
                           "size": 5}).columns
    cases = [
        ({"match_phrase": {"text": phrases[0]}},
         match_phrase_topk_indexed(reader, phrases[0], k=5)),
        ({"match_phrase_prefix": {"text": phrases[0]}},
         match_phrase_prefix_topk_indexed(reader, phrases[0], k=5)),
        ({"multi_match": {"query": phrases[0], "fields": ["text"]}},
         multi_match_topk_indexed({"text": reader}, phrases[0], ["text"],
                                  k=5)),
    ]
    for query, kernel in cases:
        out = search(reader, {"query": query, "size": 5})
        assert out.columns == cols, query
        got = out.select("docid", "score").toPandas()
        want = kernel.select("docid", "score").toPandas()
        assert len(got) > 0, query
        assert list(got.docid) == list(want.docid), query
        assert (got.score - want.score).abs().max() < 1e-12, query


def test_positions_decode_roundtrip():
    import numpy as np

    from anomaly_detection_spark.functions.codecs import decode_positions
    from anomaly_detection_spark.index.builder import blocks_from_sorted

    terms = np.array(["a", "a", "a", "b"], dtype=object)
    docs = np.array([0, 1, 2, 1], dtype=np.int64)
    tfs = np.array([2, 1, 3, 2], dtype=np.int64)
    pos = np.array([0, 7, 4, 1, 5, 9, 2, 3], dtype=np.int64)
    blocks = blocks_from_sorted(terms, docs, tfs, 0, block_size=2,
                                seg_size=512, pos_flat=pos)
    got = []
    for r in blocks.itertuples():
        tf_dec = np.array([2, 1]) if r.n == 2 and r.term == "a" else None
        from anomaly_detection_spark.functions.codecs import varint_decode
        tfd = varint_decode(r.tfs).astype(np.int64)
        got.append(decode_positions(r.pos, tfd))
    flat = np.concatenate(got)
    assert list(flat) == [0, 7, 4, 1, 5, 9, 2, 3]


def test_positional_resume_and_append(spark, tiny_transcripts):
    """Resume keeps the positions flag (geometry pin); append_index on a
    positional index carries positions through the new batch dirs —
    build(A∪B) and build(A);append(B) answer phrases identically."""
    import tempfile

    from anomaly_detection_spark.index import build_index
    from anomaly_detection_spark.index.builder import append_index
    from pyspark.sql import functions as F

    tmp = tempfile.mkdtemp(prefix="adspark_posapp_")
    try:
        full_dir, part_dir = f"{tmp}/full", f"{tmp}/part"
        docs = tiny_transcripts
        n = docs.count()
        cut = (n // 2) | 1
        build_index(docs, full_dir, seg_size=512, block_size=64,
                    segments_per_batch=2, positions=True)
        build_index(docs.filter(F.col("docid") < cut), part_dir,
                    seg_size=512, block_size=64, segments_per_batch=2,
                    positions=True)
        append_index(docs.filter(F.col("docid") >= cut), part_dir)

        freader = IndexReader(spark, full_dir)
        preader = IndexReader(spark, part_dir)
        assert preader.meta.positions is True

        an = analyze_docs(docs)
        row = an.filter(F.size("tokens") >= 4).orderBy("docid").first()
        phrases = [" ".join(row["tokens"][0:2]),
                   " ".join(row["tokens"][1:4]), "the the"]
        for ph in phrases:
            a = match_phrase_topk_indexed(freader, ph, k=10).toPandas()
            b = match_phrase_topk_indexed(preader, ph, k=10).toPandas()
            assert list(a.docid) == list(b.docid), ph
            if len(a):
                assert (a.score - b.score).abs().max() < 1e-9, ph

        # resume no-op keeps the positional meta + answers
        build_index(docs, full_dir, seg_size=512, block_size=64,
                    segments_per_batch=2, positions=True)
        r2 = IndexReader(spark, full_dir)
        assert r2.meta.positions is True
        a2 = match_phrase_topk_indexed(r2, phrases[0], k=10).toPandas()
        a1 = match_phrase_topk_indexed(freader, phrases[0], k=10).toPandas()
        assert list(a1.docid) == list(a2.docid)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
