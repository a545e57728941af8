import shutil
import tempfile

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from anomaly_detection_spark.index import build_index, merge_segments
from anomaly_detection_spark.index import storage as st
from anomaly_detection_spark.query import (
    IndexReader,
    analyze_docs,
    bm25_topk_bruteforce,
    bm25_topk_indexed,
    corpus_stats,
    fetch_docs,
)

QUERIES = [
    "spark query data merge",
    "the",
    "error result table join small",
    "naïve éclair",
    "index merge the a",
    "the the",  # duplicate query terms → contribution doubled
]


@pytest.fixture(scope="module")
def index_env(spark, tiny_transcripts):
    tmp = tempfile.mkdtemp(prefix="adspark_idx_")
    paths = build_index(
        tiny_transcripts, f"{tmp}/idx", seg_size=512, block_size=64,
        segments_per_batch=2,
    )
    reader = IndexReader(spark, paths.root)
    analyzed = analyze_docs(tiny_transcripts).persist()
    stats = corpus_stats(analyzed)
    yield reader, analyzed, stats, tmp
    shutil.rmtree(tmp, ignore_errors=True)


def test_meta_matches_corpus(index_env, tiny_transcripts):
    reader, analyzed, stats, _ = index_env
    assert reader.meta.n_docs == stats.n_docs
    assert abs(reader.meta.avgdl - stats.avgdl) < 1e-9


def test_idempotent_rebuild_keeps_finalized_meta(index_env, tiny_transcripts):
    """Regression: a no-op resume build must not clobber avgdl back to 0."""
    from anomaly_detection_spark.index.storage import read_meta

    reader, _, stats, _ = index_env
    build_index(tiny_transcripts, reader.index_dir, seg_size=512,
                block_size=64, segments_per_batch=2)
    assert abs(read_meta(reader.index_dir).avgdl - stats.avgdl) < 1e-9


def test_indexed_matches_bruteforce(index_env):
    reader, analyzed, stats, _ = index_env
    for q in QUERIES:
        got = bm25_topk_indexed(reader, q, k=10).toPandas()
        want = bm25_topk_bruteforce(analyzed, q, k=10, stats=stats).toPandas()
        assert list(got.docid) == list(want.docid), f"rank mismatch: {q!r}"
        if len(got):
            assert (got.score - want.score).abs().max() < 1e-9, f"score: {q!r}"


def test_indexed_prune_equals_noprune(index_env):
    reader, *_ = index_env
    for q in QUERIES:
        a = bm25_topk_indexed(reader, q, k=7, prune=True).toPandas()
        b = bm25_topk_indexed(reader, q, k=7, prune=False).toPandas()
        assert list(a.docid) == list(b.docid)
        if len(a):
            assert (a.score - b.score).abs().max() == 0.0


def test_indexed_with_filters(index_env):
    reader, analyzed, stats, _ = index_env
    cond = (F.col("role") == "assistant") & F.col("tool").isNotNull()
    got = bm25_topk_indexed(reader, "spark query data", k=10,
                            filter_cond=cond).toPandas()
    want = bm25_topk_bruteforce(analyzed, "spark query data", k=10,
                                filter_cond=cond, stats=stats).toPandas()
    assert list(got.docid) == list(want.docid)
    cond = (F.col("ts") >= F.lit("2025-06-02")) & (F.col("ts") < F.lit("2025-06-05"))
    got = bm25_topk_indexed(reader, "error result", k=10, filter_cond=cond).toPandas()
    want = bm25_topk_bruteforce(analyzed, "error result", k=10,
                                filter_cond=cond, stats=stats).toPandas()
    assert list(got.docid) == list(want.docid)


def test_fetch_returns_identity(index_env):
    reader, *_ = index_env
    top = bm25_topk_indexed(reader, "spark query", k=3)
    out = fetch_docs(reader, top).toPandas()
    assert {"docid", "score", "conv_id", "turn_idx", "role", "ts"} <= set(out.columns)
    assert len(out) == 3
    assert out.score.is_monotonic_decreasing


def test_quantized_norms_all_paths_agree(index_env):
    """R1 fidelity mode: Lucene 1-byte norms — indexed == brute force ==
    pure-Python oracle under quantization."""
    from .oracle import bm25_oracle_topk

    reader, analyzed, stats, _ = index_env
    pdf = analyzed.select("docid", "text").orderBy("docid").toPandas()
    for q in ["spark query data merge", "the a index"]:
        idx = bm25_topk_indexed(reader, q, k=8, quantize_norms=True).toPandas()
        bf = bm25_topk_bruteforce(analyzed, q, k=8, stats=stats,
                                  quantize_norms=True).toPandas()
        want = bm25_oracle_topk(pdf, q, k=8, quantize_norms=True)
        assert list(idx.docid) == list(bf.docid) == list(want.docid)
        assert (idx.score - want.score).abs().max() < 1e-9
    # quantization is lossy for dl >= 24 — deep in the ranking of a
    # match-everything query some scores must differ from exact norms
    deep_q = bm25_topk_indexed(reader, "the", k=300, quantize_norms=True).toPandas()
    deep_e = bm25_topk_indexed(reader, "the", k=300).toPandas()
    merged = deep_q.merge(deep_e, on="docid", suffixes=("_q", "_e"))
    assert (merged.score_q != merged.score_e).any()


def test_unknown_terms_empty(index_env):
    reader, *_ = index_env
    assert bm25_topk_indexed(reader, "qqqqzzzz xxyyxx", k=5).count() == 0


def _postings_content(spark, path):
    pdf = (spark.read.parquet(path)
           .orderBy("term", "seg_id", "block_id")
           .toPandas().reset_index(drop=True))
    return pdf.drop(columns=[c for c in ("batch",) if c in pdf.columns])


def test_resume_after_interrupt(spark, tiny_transcripts):
    tmp = tempfile.mkdtemp(prefix="adspark_resume_")
    try:
        clean = build_index(tiny_transcripts, f"{tmp}/clean",
                            seg_size=512, block_size=64, segments_per_batch=1)
        # interrupt: let exactly one batch complete, then die
        real_mark = st.mark_done
        calls = {"n": 0}

        def bomb(paths, stage, batch="all", **info):
            real_mark(paths, stage, batch, **info)
            calls["n"] += 1
            if calls["n"] >= 1:
                raise RuntimeError("simulated kill")

        import anomaly_detection_spark.index.builder as bld
        bld.mark_done = bomb
        with pytest.raises(RuntimeError):
            build_index(tiny_transcripts, f"{tmp}/resumed",
                        seg_size=512, block_size=64, segments_per_batch=1)
        bld.mark_done = real_mark

        import os
        done = os.listdir(st.IndexPaths(f"{tmp}/resumed").ckpt_dir)
        assert len(done) >= 1  # partial progress persisted

        resumed = build_index(tiny_transcripts, f"{tmp}/resumed",
                              seg_size=512, block_size=64, segments_per_batch=1)
        a = _postings_content(spark, clean.postings)
        b = _postings_content(spark, resumed.postings)
        pd.testing.assert_frame_equal(a, b)
        ma = spark.read.parquet(clean.manifest).drop("batch") \
            .orderBy("seg_id").toPandas().reset_index(drop=True)
        mb = spark.read.parquet(resumed.manifest).drop("batch") \
            .orderBy("seg_id").toPandas().reset_index(drop=True)
        pd.testing.assert_frame_equal(ma, mb)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_merge_preserves_results(spark, index_env):
    reader, analyzed, stats, tmp = index_env
    merged = merge_segments(spark, reader.index_dir, f"{tmp}/merged", factor=4)
    mreader = IndexReader(spark, merged.root)
    assert mreader.meta.seg_size == reader.meta.seg_size * 4
    # fewer segments, same posting totals
    tot_src = spark.read.parquet(reader.paths.postings).agg(F.sum("n")).collect()[0][0]
    tot_dst = spark.read.parquet(merged.postings).agg(F.sum("n")).collect()[0][0]
    assert tot_src == tot_dst
    for q in QUERIES[:4]:
        a = bm25_topk_indexed(reader, q, k=10).toPandas()
        b = bm25_topk_indexed(mreader, q, k=10).toPandas()
        assert list(a.docid) == list(b.docid)
        if len(a):
            assert (a.score - b.score).abs().max() < 1e-12
    # norms: one blob per target segment, decoding to the source's
    # (docid, doc_len) rows, each docid inside its blob's segment
    from anomaly_detection_spark.functions.codecs import varint_decode

    norms = mreader.doc_norms().toPandas()
    m = mreader.meta
    assert sorted(norms.seg_id) == list(range(-(-m.n_docs // m.seg_size)))
    docids = [np.cumsum(varint_decode(g)).astype(np.int64)
              for g in norms.docid_gaps]
    for seg, d in zip(norms.seg_id, docids):
        assert (d // m.seg_size == seg).all()
    got = pd.DataFrame({
        "docid": np.concatenate(docids),
        "doc_len": np.concatenate([varint_decode(x).astype(np.int64)
                                   for x in norms.dls]),
    }).sort_values("docid").reset_index(drop=True)
    want = (reader.doc_stats().select("docid", "doc_len").orderBy("docid")
            .toPandas())
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_merge_resume_after_interrupt(spark, index_env, monkeypatch):
    import os
    import threading

    import anomaly_detection_spark.index.merger as mrg

    reader, _, _, tmp = index_env
    kw = dict(factor=2, segments_per_batch=1)
    clean = merge_segments(spark, reader.index_dir, f"{tmp}/mclean", **kw)
    assert len([d for d in os.listdir(clean.manifest)
                if d.startswith("batch=")]) >= 2

    # kill the merge right after its first batch marker lands: no later
    # marker is written, and the stages after the batches never run
    real_mark = st.mark_done
    lock, killed = threading.Lock(), []

    def bomb(paths, stage, batch="all", **info):
        if stage == "merge_batch":
            with lock:
                if not killed:
                    real_mark(paths, stage, batch, **info)
                killed.append(batch)
            raise RuntimeError("simulated kill")
        real_mark(paths, stage, batch, **info)

    monkeypatch.setattr(mrg, "mark_done", bomb)
    with pytest.raises(RuntimeError):
        merge_segments(spark, reader.index_dir, f"{tmp}/mresumed", **kw)
    monkeypatch.undo()
    ckpts = os.listdir(st.IndexPaths(f"{tmp}/mresumed").ckpt_dir)
    assert len([c for c in ckpts if c.startswith("merge_batch__")]) == 1
    assert not any(c.startswith("merge_norms__") for c in ckpts)

    resumed = merge_segments(spark, reader.index_dir, f"{tmp}/mresumed",
                             **kw)
    pd.testing.assert_frame_equal(_postings_content(spark, clean.postings),
                                  _postings_content(spark, resumed.postings))
    for table in ("manifest", "doc_norms"):
        a, b = (spark.read.parquet(getattr(p, table)).drop("batch")
                .orderBy("seg_id").toPandas().reset_index(drop=True)
                for p in (clean, resumed))
        pd.testing.assert_frame_equal(a, b)


def test_force_merge_hits_target_segment_count(spark, index_env):
    import math

    from anomaly_detection_spark.index.merger import force_merge
    from anomaly_detection_spark.index.storage import read_meta

    reader, analyzed, stats, tmp = index_env
    src_meta = read_meta(reader.index_dir)
    n_src_segs = math.ceil(src_meta.n_docs / src_meta.seg_size)
    assert n_src_segs > 2  # fixture builds multiple segments
    merged = force_merge(spark, reader.index_dir, f"{tmp}/forced",
                         max_num_segments=2)
    m = read_meta(merged.root)
    assert math.ceil(m.n_docs / m.seg_size) <= 2
    mreader = IndexReader(spark, merged.root)
    for q in QUERIES[:3]:
        a = bm25_topk_indexed(reader, q, k=10).toPandas()
        b = bm25_topk_indexed(mreader, q, k=10).toPandas()
        assert list(a.docid) == list(b.docid)
    with pytest.raises(ValueError, match="max_num_segments"):
        force_merge(spark, reader.index_dir, f"{tmp}/bad",
                    max_num_segments=0)


def test_snapshot_restore_roundtrip(spark, index_env):
    import os

    from anomaly_detection_spark.index.snapshots import (
        list_snapshots, restore_index, snapshot_index)

    reader, analyzed, stats, tmp = index_env
    repo = f"{tmp}/repo"
    m1 = snapshot_index(reader.index_dir, repo, "s1")
    assert m1["files"] > 0 and m1["hardlinked"] == 0
    # second snapshot of the unchanged index: everything hardlinks
    m2 = snapshot_index(reader.index_dir, repo, "s2")
    assert m2["hardlinked"] == m2["files"]
    assert [s["name"] for s in list_snapshots(repo)] == ["s1", "s2"]

    restored = f"{tmp}/restored"
    restore_index(repo, "s2", restored)
    rreader = IndexReader(spark, restored)
    for q in QUERIES[:3]:
        a = bm25_topk_indexed(reader, q, k=10).toPandas()
        b = bm25_topk_indexed(rreader, q, k=10).toPandas()
        assert list(a.docid) == list(b.docid)

    # incomplete snapshot (no marker) refuses to restore
    os.remove(f"{repo}/s1/SNAPSHOT_OK")
    with pytest.raises(ValueError, match="incomplete"):
        restore_index(repo, "s1", f"{tmp}/nope")
    assert [s["name"] for s in list_snapshots(repo)] == ["s2"]
    with pytest.raises(ValueError, match="already exists"):
        restore_index(repo, "s2", restored)


def test_snapshot_detects_samesize_rewrite(spark, index_env, tmp_path):
    import json
    import os
    import shutil as _sh

    from anomaly_detection_spark.index.snapshots import snapshot_index

    reader, analyzed, stats, tmp = index_env
    idx2 = str(tmp_path / "idx2")
    _sh.copytree(reader.index_dir, idx2)
    repo = str(tmp_path / "repo2")
    snapshot_index(idx2, repo, "a")
    # rewrite _meta.json with SAME byte length, different content
    # (flip one digit of avgdl — still valid JSON)
    import re as _re

    meta_p = os.path.join(idx2, "_meta.json")
    raw = open(meta_p).read()
    m = _re.search(r'("avgdl": \d+\.\d*?)(\d)', raw)
    flip = "7" if m.group(2) != "7" else "3"
    new = raw[:m.end(1)] + flip + raw[m.end(2):]
    assert len(new) == len(raw) and new != raw
    with open(meta_p, "w") as f:
        f.write(new)
    m2 = snapshot_index(idx2, repo, "b")
    # the rewritten file was COPIED, not hardlinked to stale content
    assert m2["hardlinked"] == m2["files"] - 1
    assert open(os.path.join(repo, "b", "_meta.json")).read() \
        == open(meta_p).read()
    # a different index snapshotting into the same repo never links
    idx3 = str(tmp_path / "idx3")
    _sh.copytree(reader.index_dir, idx3)
    m3 = snapshot_index(idx3, repo, "c")
    assert m3["hardlinked"] == 0
