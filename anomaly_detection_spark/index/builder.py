"""Segment build: transcripts → per-segment posting blocks + doc stats.

Spark analog of Lucene's per-segment inverted-index construction
(SURVEY.md §2.6 L2).  A *segment* is a contiguous docid range
(``seg_id = docid // seg_size``), so any term's postings are naturally
sharded across segments — this docid-range sharding IS the explicit
hot-term skew handling (SURVEY.md §7 R3): even ``role:user``-grade
terms (df ≈ N) produce at most ``seg_size`` postings per task.

Resumability (north_rule): segments are built in batches; each batch
runs a few Spark jobs (doc_stats, norms, postings, manifest) writing
``batch=K`` dirs, followed by an atomic checkpoint marker.  Restart
skips completed batches — granularity modeled on the reference's
10k-interval task pieces (``ADBatchTaskRunner.java:1017-1093``).

The segment writer is shared with the merger (``merger.py``), the way
Lucene's ``SegmentMerger`` reuses the indexing codec consumers:
``write_postings_batch`` (posting blocks + the manifest aggregated
from them), ``write_norms`` (doc_stats → per-segment norms blobs) and
``run_batches`` (pending batch ids run N-deep).

Hot path is numpy end-to-end inside ``applyInPandas``: explode via
``Series.explode``, tf via C groupby, block cutting + delta/varint
encode via ``reduceat``-style vectorization (no per-posting Python).
"""

from __future__ import annotations

import math
import os
import time
from dataclasses import replace

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.codecs import codec_name as _codec_name
from ..functions.codecs import varint_encode_with_widths
from ..query.brute_force import analyze_docs
from .storage import (
    DOC_STATS_SCHEMA,
    MANIFEST_SCHEMA,
    NORMS_SCHEMA,
    POSTING_SCHEMA,
    TERM_STATS_SCHEMA,
    IndexMeta,
    IndexPaths,
    is_done,
    log_lineage,
    log_metric,
    mark_done,
    pin_geometry,
    read_ckpt,
    read_meta,
    read_table,
    write_meta,
)

def _run_overlapped(side_job, main_job) -> None:
    """Run ``side_job`` on a thread while ``main_job`` runs inline, then
    join.  The thread's exception is captured and re-raised after the
    join — a failed side job (e.g. a norms write) must fail the batch
    BEFORE its done-marker, or resume would skip a half-written batch."""
    import threading

    errs: list[BaseException] = []

    def _guarded():
        try:
            side_job()
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errs.append(e)

    th = threading.Thread(target=_guarded, daemon=True)
    th.start()
    main_job()
    th.join()
    if errs:
        raise errs[0]


_EMPTY_BLOCKS = pd.DataFrame(
    columns=["term", "seg_id", "block_id", "first_docid", "last_docid",
             "n", "gaps", "tfs", "max_tf", "sum_tf", "min_dl",
             "bm_buckets", "bm_tf", "bm_dl", "blob_bytes", "pos"])


def encode_segment_pdf(pdf: pd.DataFrame, block_size: int,
                       seg_size: int | None = None,
                       bucket_size: int = 256,
                       positions: bool = False,
                       codec: str = "leb128") -> pd.DataFrame:
    """One segment's (seg_id, docid, tokens) rows → posting-block rows.

    Fully vectorized: one lexicographic groupby for tf, run/block
    boundary detection with numpy, a single varint encode per stream
    sliced at block boundaries.

    ``positions=True`` additionally records every occurrence's token
    position (the Lucene proximity data for ``text`` fields) as a
    per-block varint payload — opt-in because it roughly doubles
    posting bytes and only phrase/proximity queries read it.
    """
    seg_id = int(pdf["seg_id"].iloc[0])
    toks = pdf["tokens"]
    lens = toks.map(len).to_numpy(dtype=np.int64)
    if lens.sum() == 0:
        return _EMPTY_BLOCKS
    docids_rep = np.repeat(pdf["docid"].to_numpy(dtype=np.int64), lens)
    exploded = toks.explode()
    terms_rep = exploded[exploded.notna()].to_numpy(dtype=object)

    pos_flat = None
    if positions:
        # same (term asc, docid asc) posting order as the groupby path,
        # via one factorize + lexsort that keeps each occurrence's token
        # position attached
        total = int(lens.sum())
        start_off = np.concatenate(([0], np.cumsum(lens[:-1])))
        pos_rep = (np.arange(total, dtype=np.int64)
                   - np.repeat(start_off, lens))
        codes, uniq_terms = pd.factorize(terms_rep, sort=True)
        order = np.lexsort((pos_rep, docids_rep, codes))
        t_s, d_s, p_s = codes[order], docids_rep[order], pos_rep[order]
        change = np.empty(total, dtype=bool)
        change[0] = True
        change[1:] = (t_s[1:] != t_s[:-1]) | (d_s[1:] != d_s[:-1])
        starts = np.flatnonzero(change)
        tfs_u = np.diff(np.append(starts, total)).astype(np.int64)
        terms_u = np.asarray(uniq_terms, dtype=object)[t_s[starts]]
        docs_u = d_s[starts]
        pos_flat = p_s
    else:
        g = (
            pd.DataFrame({"term": terms_rep, "docid": docids_rep})
            .groupby(["term", "docid"], sort=True)
            .size()
        )
        terms_u = g.index.get_level_values(0).to_numpy(dtype=object)
        docs_u = g.index.get_level_values(1).to_numpy(dtype=np.int64)
        tfs_u = g.to_numpy(dtype=np.int64)
    # per-posting doc length (for block-level min_dl — tight BM25 UBs)
    seg_docids = pdf["docid"].to_numpy(dtype=np.int64)
    base = int(seg_docids.min())
    dl_lut = np.zeros(int(seg_docids.max()) - base + 1, dtype=np.int64)
    dl_lut[seg_docids - base] = lens
    dls_u = dl_lut[docs_u - base]
    return blocks_from_sorted(terms_u, docs_u, tfs_u, seg_id, block_size,
                              dls_u=dls_u, seg_size=seg_size,
                              bucket_size=bucket_size, pos_flat=pos_flat,
                              codec=codec)


def blocks_from_sorted(
    terms_u: np.ndarray,
    docs_u: np.ndarray,
    tfs_u: np.ndarray,
    seg_id: int,
    block_size: int,
    dls_u: np.ndarray | None = None,
    seg_size: int | None = None,
    bucket_size: int = 256,
    pos_flat: np.ndarray | None = None,
    codec: str = "leb128",
) -> pd.DataFrame:
    """(term, docid, tf) rows already sorted by (term, docid) → posting
    block rows.  Shared by the segment builder and the segment merger.

    ``pos_flat`` (optional): flat absolute token positions, grouped per
    posting in posting order (Σ tf entries).  Encoded per block as
    varints — first position of each posting absolute, the rest deltas
    (see ``codecs.decode_positions``).

    Besides the block-level (max_tf, min_dl), each block carries a
    per-bucket impact table over ``bucket_size``-docid buckets
    (``bm_buckets``/``bm_tf``/``bm_dl``: only buckets the block has
    postings in) — the Lucene-impacts analog at the resolution block-max
    pruning actually needs: a rare term's single block spans the whole
    segment, so a block-level bound says nothing about WHERE its mass
    is; the bucket table does.
    """
    m = len(terms_u)
    if m == 0:
        return _EMPTY_BLOCKS

    change = np.empty(m, dtype=bool)
    change[0] = True
    change[1:] = terms_u[1:] != terms_u[:-1]
    run_id = np.cumsum(change) - 1
    run_start = np.flatnonzero(change)
    pos_in_run = np.arange(m, dtype=np.int64) - run_start[run_id]
    blk_first = change | (pos_in_run % block_size == 0)
    blk_start = np.flatnonzero(blk_first)
    n_blocks = len(blk_start)
    blk_end = np.append(blk_start[1:], m)

    counts = (blk_end - blk_start).astype(np.int32)
    first = docs_u[blk_start]
    last = docs_u[blk_end - 1]
    max_tf = np.maximum.reduceat(tfs_u, blk_start).astype(np.int32)
    sum_tf = np.add.reduceat(tfs_u, blk_start)
    if dls_u is None:
        min_dl = np.zeros(n_blocks, dtype=np.int32)  # dl→0 = loosest valid UB
    else:
        min_dl = np.minimum.reduceat(
            np.asarray(dls_u, dtype=np.int64), blk_start).astype(np.int32)
    blk_terms = terms_u[blk_start]
    blk_idx = (pos_in_run[blk_start] // block_size).astype(np.int32)

    # per-bucket impact entries (block-local slice of the bucket table)
    if seg_size is not None:
        bks = ((docs_u - np.int64(seg_id) * seg_size) // bucket_size) \
            .astype(np.int64)
        eb = blk_first.copy()
        eb[1:] |= bks[1:] != bks[:-1]
        e_start = np.flatnonzero(eb)
        e_tf = np.maximum.reduceat(tfs_u, e_start).astype(np.int32)
        if dls_u is None:
            e_dl = np.zeros(len(e_start), dtype=np.int32)
        else:
            e_dl = np.minimum.reduceat(
                np.asarray(dls_u, dtype=np.int64), e_start).astype(np.int32)
        e_bucket = bks[e_start].astype(np.int32)
        e_block = np.searchsorted(blk_start, e_start, side="right") - 1
        off = np.concatenate(
            ([0], np.cumsum(np.bincount(e_block, minlength=n_blocks))))
        bm_buckets = [e_bucket[off[i]:off[i + 1]] for i in range(n_blocks)]
        bm_tf = [e_tf[off[i]:off[i + 1]] for i in range(n_blocks)]
        bm_dl = [e_dl[off[i]:off[i + 1]] for i in range(n_blocks)]
    else:
        bm_buckets = bm_tf = bm_dl = [None] * n_blocks

    # gaps relative to each block's first docid (gap at block start = 0)
    gaps = np.diff(docs_u, prepend=np.int64(0)).astype(np.uint64)
    gaps[blk_start] = 0
    if pos_flat is not None:
        # positional payload: per-posting reset deltas, sliced at block
        # boundaries (block boundaries are posting boundaries, so
        # blocks decode independently)
        p_off = np.concatenate(([0], np.cumsum(tfs_u)))  # posting → pos idx
        dp = np.diff(np.asarray(pos_flat, dtype=np.int64), prepend=0)
        dp[p_off[:-1]] = np.asarray(pos_flat, dtype=np.int64)[p_off[:-1]]
        dp = dp.astype(np.uint64)

    if codec == "for":
        from ..functions.codecs import for_encode

        tfs64 = tfs_u.astype(np.uint64)
        gaps_col = [for_encode(gaps[blk_start[i]:blk_end[i]])
                    for i in range(n_blocks)]
        tfs_col = [for_encode(tfs64[blk_start[i]:blk_end[i]])
                   for i in range(n_blocks)]
        blob_bytes = np.fromiter(
            (len(g) + len(t) for g, t in zip(gaps_col, tfs_col)),
            np.int64, n_blocks)
        if pos_flat is not None:
            pos_col = [for_encode(dp[p_off[blk_start[i]]:
                                     p_off[blk_end[i]]])
                       for i in range(n_blocks)]
            blob_bytes = blob_bytes + np.fromiter(
                (len(p) for p in pos_col), np.int64, n_blocks)
        else:
            pos_col = [None] * n_blocks
        blob_bytes = blob_bytes.astype(np.int32)
    else:
        gap_bytes, gap_w = varint_encode_with_widths(gaps)
        tf_bytes, tf_w = varint_encode_with_widths(tfs_u.astype(np.uint64))
        gap_off = np.concatenate(([0], np.cumsum(gap_w)))
        tf_off = np.concatenate(([0], np.cumsum(tf_w)))

        gaps_col, tfs_col = [], []
        for i in range(n_blocks):
            s, e = blk_start[i], blk_end[i]
            gaps_col.append(gap_bytes[gap_off[s]:gap_off[e]])
            tfs_col.append(tf_bytes[tf_off[s]:tf_off[e]])
        # blob byte totals precomputed per block so the manifest agg can
        # sum a 4-byte column instead of re-reading every payload
        blob_bytes = ((gap_off[blk_end] - gap_off[blk_start])
                      + (tf_off[blk_end] - tf_off[blk_start])).astype(np.int32)

        if pos_flat is not None:
            pos_bytes, pos_w = varint_encode_with_widths(dp)
            pw_off = np.concatenate(([0], np.cumsum(pos_w)))
            pos_col = [pos_bytes[pw_off[p_off[blk_start[i]]]:
                                 pw_off[p_off[blk_end[i]]]]
                       for i in range(n_blocks)]
            blob_bytes = (blob_bytes
                          + (pw_off[p_off[blk_end]]
                             - pw_off[p_off[blk_start]])).astype(np.int32)
        else:
            pos_col = [None] * n_blocks

    return pd.DataFrame({
        "term": blk_terms,
        "seg_id": np.full(n_blocks, seg_id, dtype=np.int32),
        "block_id": blk_idx,
        "first_docid": first,
        "last_docid": last,
        "n": counts,
        "gaps": gaps_col,
        "tfs": tfs_col,
        "max_tf": max_tf,
        "sum_tf": sum_tf,
        "min_dl": min_dl,
        "bm_buckets": bm_buckets,
        "bm_tf": bm_tf,
        "bm_dl": bm_dl,
        "blob_bytes": blob_bytes,
        "pos": pos_col,
    })


def encode_norms_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """One segment's (seg_id, docid, doc_len) rows → a single norms blob
    (docid delta-gaps + doc_len varints, docid-ordered)."""
    from ..functions.codecs import delta_encode, varint_encode

    seg_id = int(pdf["seg_id"].iloc[0])
    order = np.argsort(pdf["docid"].to_numpy(dtype=np.int64), kind="stable")
    docids = pdf["docid"].to_numpy(dtype=np.int64)[order]
    dls = pdf["doc_len"].to_numpy(dtype=np.int64)[order]
    return pd.DataFrame({
        "seg_id": [seg_id],
        "n": [len(docids)],
        "docid_gaps": [varint_encode(delta_encode(docids, 0))],
        "dls": [varint_encode(dls.astype(np.uint64))],
    })


def _postings_from_analyzed(analyzed: DataFrame, seg_size: int,
                            block_size: int,
                            bucket_size: int = 256,
                            positions: bool = False,
                            codec: str = "leb128") -> DataFrame:
    """Analyzed (docid, tokens) rows → posting blocks, one pandas group
    per segment (parallelism = number of segments)."""
    bs, ss, bk, ps, cd = block_size, seg_size, bucket_size, positions, codec

    def _encode(pdf: pd.DataFrame) -> pd.DataFrame:
        return encode_segment_pdf(pdf, bs, seg_size=ss, bucket_size=bk,
                                  positions=ps, codec=cd)

    return (
        analyzed
        .withColumn("seg_id", (F.col("docid") / seg_size).cast("int"))
        .select("seg_id", "docid", "tokens")
        .groupBy("seg_id")
        .applyInPandas(_encode, schema=POSTING_SCHEMA)
    )


def write_postings_batch(spark, posts: DataFrame, paths: IndexPaths,
                         k: int) -> tuple[list, float]:
    """Write posting blocks to ``postings/batch={k}`` and their manifest
    (one lineage row per segment) to ``manifest/batch={k}``.  Returns
    the manifest rows and the time the postings write finished."""
    # written straight from the encode tasks: each segment's blocks
    # come out (term, docid)-sorted already, so parquet row-group
    # min/max stats serve the term-IN pushdown without a second
    # shuffle — and repartitionByRange here would run a sampling job
    # that RE-EXECUTES the whole encode (2× the dominant stage)
    posts.write.mode("overwrite").parquet(f"{paths.postings}/batch={k}")
    t_written = time.time()
    # manifest from what actually landed on disk — aggregated once,
    # collected (one tiny row per segment) and written back as one file.
    # n_terms counts block_id==0 rows (one per term run) — same value
    # as countDistinct(term) with a map-side-combinable sum instead of
    # a distinct shuffle.
    written = read_table(spark, f"{paths.postings}/batch={k}",
                         POSTING_SCHEMA)
    man_df = written.groupBy("seg_id").agg(
        F.min("term").alias("term_min"),
        F.max("term").alias("term_max"),
        F.sum(F.when(F.col("block_id") == 0, 1).otherwise(0))
         .alias("n_terms"),
        F.count("*").alias("n_blocks"),
        F.sum("n").alias("n_postings"),
        F.sum("blob_bytes").alias("bytes"),
        F.min("first_docid").alias("docid_min"),
        F.max("last_docid").alias("docid_max"),
    ).withColumn("batch", F.lit(k))
    man_rows = man_df.collect()
    from ..localdf import local_df

    (local_df(spark, man_rows, MANIFEST_SCHEMA).coalesce(1)
     .write.mode("overwrite")
     .parquet(f"{paths.manifest}/batch={k}"))
    return man_rows, t_written


def write_norms(spark, doc_stats_path: str, out_path: str, seg_size: int,
                n_files: int) -> None:
    """(docid, doc_len) parquet → one norms blob per ``docid // seg_size``
    segment, written as ``n_files`` parquet files.  A build batch passes
    its own doc_stats; a merge passes the source's at the merged
    ``seg_size``."""
    (read_table(spark, doc_stats_path, DOC_STATS_SCHEMA)
     .withColumn("seg_id", (F.col("docid") / seg_size).cast("int"))
     .select("seg_id", "docid", "doc_len")
     .groupBy("seg_id")
     .applyInPandas(encode_norms_pdf, schema=NORMS_SCHEMA)
     .coalesce(n_files)
     .write.mode("overwrite").parquet(out_path))


def run_batches(pending: list[int], one_batch, depth: int) -> None:
    """Run ``one_batch(k)`` for every pending batch id, ``depth`` in
    flight on a thread pool; the first failure is re-raised.

    Batches touch disjoint ``batch=K`` dirs and each writes its own
    atomic done-marker; the one shared sink (lineage) is lock-serialized
    in storage.py.  Overlap lets one batch's wide encode stage back-fill
    the cores its neighbour's narrow stages leave idle, and hides each
    batch's fixed job latency (guide §2.6 overlap-independent-jobs);
    FIFO scheduling keeps the earlier batch's tasks first, so this
    changes utilization, not ordering semantics."""
    if len(pending) <= 1 or depth <= 1:
        for k in pending:
            one_batch(k)
        return
    from concurrent import futures

    with futures.ThreadPoolExecutor(max_workers=depth) as pool:
        futs = [pool.submit(one_batch, k) for k in pending]
        for f in futs:
            f.result()


# batches in flight during a build; measured on local[32] at 6M turns:
# 2 → 38.0s, 3 → 34.4s, 4 → 67.5s (token-cache pressure collapse)
BUILD_PIPELINE_DEPTH = 3


def _run_batch(spark, docs: DataFrame, paths: IndexPaths, k: int,
               lo: int, hi: int, seg_size: int, block_size: int,
               segments_per_batch: int, bucket_size: int,
               text_col: str, keep_cols: tuple[str, ...],
               stage: str = "segment_build",
               positions: bool = False,
               codec: str = "leb128") -> None:
    """One build batch: doc_stats + (norms ∥ postings+manifest) for the
    docid range [lo, hi), written under ``batch={k}`` dirs."""
    t0 = time.time()
    sub = docs.filter((F.col("docid") >= lo) & (F.col("docid") < hi))
    # Tokenization is a JVM codegen expression (no Arrow round-trip,
    # no Python tokenize worker); the tokenized batch is cached once
    # and shared by the doc_stats and postings passes — measured
    # fastest of {cache, recompute-per-pass} at every core count.
    analyzed = analyze_docs(sub, text_col=text_col).persist()
    dstats = analyzed.select("docid", "doc_len", *keep_cols)
    # written straight from the scan: docids are already dense and
    # scan-ordered, and repartitionByRange would cost a sampling
    # pass (an extra scan+tokenize) for a layout nothing depends on
    (dstats.write.mode("overwrite")
     .parquet(f"{paths.doc_stats}/batch={k}"))
    t_ds = time.time()
    timing = {"t_no": t_ds, "t_po": t_ds}

    def _run_norms():
        # norms re-read the just-written (docid, doc_len) parquet —
        # a pass over ~9 bytes/doc instead of a second tokenize
        write_norms(spark, f"{paths.doc_stats}/batch={k}",
                    f"{paths.doc_norms}/batch={k}", seg_size,
                    max(1, segments_per_batch // 16))
        timing["t_no"] = time.time()

    man_box: list = []

    def _run_postings():
        posts = _postings_from_analyzed(analyzed, seg_size, block_size,
                                        bucket_size=bucket_size,
                                        positions=positions, codec=codec)
        man_rows, timing["t_po"] = write_postings_batch(spark, posts,
                                                        paths, k)
        man_box.append(man_rows)

    # The norms job is independent of the postings job (it reads the
    # doc_stats parquet, not the token cache): run both concurrently
    # so the small job's fixed latency hides inside the big one —
    # exactly how independent stages pipeline on a real cluster.
    _run_overlapped(_run_norms, _run_postings)
    t_no, t_po = timing["t_no"], timing["t_po"]
    man_rows = man_box[0]
    analyzed.unpersist()

    wall = time.time() - t0
    n_rows = hi - lo
    nbytes = sum(r["bytes"] for r in man_rows)
    log_lineage(spark, paths, stage, batch=k, docid_lo=lo,
                docid_hi=hi, rows=n_rows, bytes_=nbytes, wall_s=wall)
    log_metric(paths, stage, batch=k, docid_lo=lo, docid_hi=hi,
               turns=n_rows, wall_s=wall,
               turns_per_sec=n_rows / max(wall, 1e-9),
               doc_stats_s=round(t_ds - t0, 2),
               # norms runs concurrently with postings; both walls
               # are measured from the end of doc_stats
               norms_s=round(t_no - t_ds, 2),
               postings_s=round(t_po - t_ds, 2),
               manifest_s=round(time.time() - t_po, 2))


def build_index(
    docs: DataFrame,
    index_dir: str,
    seg_size: int | None = None,
    block_size: int = 1 << 12,
    segments_per_batch: int = 32,
    text_col: str = "text",
    keep_cols: tuple[str, ...] = ("conv_id", "turn_idx", "role", "tool", "ts"),
    resume: bool = True,
    bucket_size: int = 256,
    positions: bool = False,
    codec: str = "leb128",
) -> IndexPaths:
    """Build the full index under ``index_dir``; resume from checkpoints.

    ``positions=True`` stores per-occurrence token positions in the
    posting blocks (Lucene indexes positions for ``text`` fields) —
    required for index-path scored ``match_phrase``; opt-in because it
    roughly doubles posting bytes.

    ``docs`` must carry a stable dense ``docid`` (see
    :func:`anomaly_detection_spark.data.assign_docids`).

    ``seg_size=None`` picks a size so there are ≥ 2×parallelism segments
    (capped at 64k docs/segment) — segment count is the unit of
    parallelism for both encode and query, exactly like Lucene segments;
    at 10^12 turns the 64k cap yields millions of segments.
    """
    paths = IndexPaths(index_dir)
    keep_cols = tuple(c for c in keep_cols if c in docs.columns)
    spark = docs.sparkSession

    # --- plan: corpus extent ------------------------------------------------
    n_docs = docs.agg(F.max("docid")).collect()[0][0]
    n_docs = int(n_docs) + 1 if n_docs is not None else 0
    if resume and os.path.exists(paths.meta):
        # a resumed build must keep the original segment geometry
        prev = read_meta(index_dir)
        seg_size, bucket_size = prev.seg_size, prev.bucket_size
        positions = prev.positions
        codec = _codec_name(prev.codec)
    elif seg_size is None:
        # one segment per core is enough parallelism, but segments must
        # stay SMALL enough that `parallelism` concurrent encode groups
        # fit the python workers comfortably: each group materializes
        # seg_size × avgdl exploded (term, docid) rows as one pandas
        # frame, and 32 concurrent 64k-doc groups (~1.6M rows each,
        # object-dtype terms) thrash allocator + page cache.  Measured
        # at 6M turns / local[32]: 65536-doc segments built at 13.8k
        # turns/s, 16384-doc segments at 52.7k (3.8×) — the per-term
        # block overhead of smaller segments is noise next to that.
        par = max(4, spark.sparkContext.defaultParallelism)
        seg_size = int(min(1 << 14, max(1 << 12, n_docs // par or 1)))
    # bucket grid must align across segments: seg_size % bucket_size == 0.
    # Round seg_size UP to a multiple of the requested grid rather than
    # shrinking the grid via gcd — an odd auto-chosen seg_size would
    # collapse bucket_size to 1, i.e. one impact-table entry per posting
    # (index bloat + useless per-docid pruning buckets).
    bucket_size = min(bucket_size, seg_size)
    if seg_size % bucket_size:
        seg_size += bucket_size - (seg_size % bucket_size)
    n_segs = max(1, math.ceil(n_docs / seg_size))
    n_batches = max(1, math.ceil(n_segs / segments_per_batch))
    # a resumed build must also keep the original batch geometry — batch
    # markers are keyed by batch index, so a different batching would
    # silently skip or re-map docid ranges
    if codec not in ("leb128", "for"):
        raise ValueError(f"codec must be leb128 or for; got {codec!r}")
    pin_geometry(paths, "build_conf", resume, seg_size=seg_size,
                 block_size=block_size, segments_per_batch=segments_per_batch,
                 bucket_size=bucket_size, positions=positions, codec=codec)
    if not (resume and is_done(paths, "finalize")):
        # draft meta only — never clobber a finalized one on resume
        ds_schema = (analyze_docs(docs, text_col=text_col)
                     .select("docid", "doc_len", *keep_cols).schema.toDDL())
        write_meta(paths, IndexMeta(n_docs=n_docs, avgdl=0.0, seg_size=seg_size,
                                    block_size=block_size,
                                    bucket_size=bucket_size,
                                    positions=positions,
                                    codec=f"delta-gap+{codec}",
                                    doc_stats_schema=ds_schema))

    # --- per-batch: doc_stats + postings + manifest -------------------------
    # batches overlap: batch k's wide encode stage back-fills the cores
    # that batch k+1's narrow scan+tokenize stage (row-group pruned to a
    # docid slice of the input files) leaves idle
    def _one_batch(k: int) -> None:
        lo = k * segments_per_batch * seg_size
        hi = min(n_docs, (k + 1) * segments_per_batch * seg_size)
        _run_batch(spark, docs, paths, k, lo, hi, seg_size, block_size,
                   segments_per_batch, bucket_size, text_col, keep_cols,
                   positions=positions, codec=codec)
        mark_done(paths, "batch", k, docid_lo=lo, docid_hi=hi)

    pending = [k for k in range(n_batches)
               if not (resume and is_done(paths, "batch", k))]
    run_batches(pending, _one_batch, BUILD_PIPELINE_DEPTH)

    _refresh_stats(spark, paths, resume=resume)
    return paths


def _refresh_stats(spark, paths: IndexPaths, resume: bool) -> None:
    """term_stats (global df/cf) ∥ finalize meta (N, avgdl) —
    independent single-pass jobs over different tables, overlapped.
    The finalized meta keeps every other field of the draft meta."""

    def _term_stats():
        if resume and is_done(paths, "term_stats"):
            return
        t0 = time.time()
        posts = read_table(spark, paths.postings, POSTING_SCHEMA)
        # written straight from the agg: sortWithinPartitions(term) keeps
        # row-group min/max stats tight for the query-time term lookup,
        # and skipping repartitionByRange avoids a sampling job that
        # would re-read the postings a second time
        (posts.groupBy("term")
         .agg(F.sum("n").alias("df"), F.sum("sum_tf").alias("cf"))
         .to(T.StructType.fromDDL(TERM_STATS_SCHEMA))
         .sortWithinPartitions("term")
         .write.mode("overwrite").parquet(paths.term_stats))
        mark_done(paths, "term_stats")
        log_metric(paths, "term_stats", wall_s=time.time() - t0)

    def _finalize():
        if resume and is_done(paths, "finalize"):
            return
        t0 = time.time()
        row = read_table(spark, paths.doc_stats, DOC_STATS_SCHEMA).agg(
            F.count("*").alias("n"), F.avg("doc_len").alias("avgdl")
        ).collect()[0]
        write_meta(paths, replace(read_meta(paths.root), n_docs=int(row["n"]),
                                  avgdl=float(row["avgdl"] or 0.0)))
        mark_done(paths, "finalize")
        log_metric(paths, "finalize", n_docs=int(row["n"]),
                   avgdl=float(row["avgdl"] or 0.0), wall_s=time.time() - t0)

    _run_overlapped(_finalize, _term_stats)


def append_index(
    docs_new: DataFrame,
    index_dir: str,
    text_col: str = "text",
    keep_cols: tuple[str, ...] = ("conv_id", "turn_idx", "role", "tool", "ts"),
    resume: bool = True,
) -> IndexPaths:
    """Incrementally index a new docid range as new segment batches —
    existing postings/doc_stats/norms batch dirs are never rewritten
    (the Lucene append-new-segments posture).  ``docs_new`` must carry
    docids continuing the existing dense range (old ``n_docs`` …).

    A boundary segment whose docid span straddles old and new data ends
    up with posting blocks in two batch dirs; the scorer and the merger
    already handle any number of blocks per (term, segment) — the docid
    sets are disjoint, so scores are exact.  term_stats and the meta
    (n_docs, avgdl) are recomputed afterwards; ``build(A∪B)`` and
    ``build(A); append(B)`` answer every query identically (tested).
    """
    paths = IndexPaths(index_dir)
    spark = docs_new.sparkSession
    keep_cols = tuple(c for c in keep_cols if c in docs_new.columns)
    meta = read_meta(index_dir)
    conf = read_ckpt(paths, "build_conf")
    seg_size, block_size = meta.seg_size, meta.block_size
    bucket_size = meta.bucket_size
    positions = meta.positions
    codec = _codec_name(meta.codec)
    spb = int(conf["segments_per_batch"])

    ext = docs_new.agg(F.min("docid").alias("lo"),
                       F.max("docid").alias("hi")).collect()[0]
    if ext["lo"] is None:
        return paths
    lo_new, hi_new = int(ext["lo"]), int(ext["hi"]) + 1
    if lo_new != meta.n_docs:
        raise ValueError(
            f"append must continue the dense docid range: index has "
            f"n_docs={meta.n_docs}, append starts at {lo_new}")

    span = spb * seg_size
    # chunk boundaries aligned to the global batch grid; each chunk's
    # batch-dir index is its first docid (disjoint from build's small
    # sequential ks, and deterministic across resumes)
    bounds = [lo_new]
    nxt = ((lo_new // span) + 1) * span
    while nxt < hi_new:
        bounds.append(nxt)
        nxt += span
    bounds.append(hi_new)
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        if resume and is_done(paths, "append", lo):
            continue
        _run_batch(spark, docs_new, paths, lo, lo, hi, seg_size, block_size,
                   spb, bucket_size, text_col, keep_cols,
                   stage="segment_append", positions=positions, codec=codec)
        mark_done(paths, "append", lo, docid_lo=lo, docid_hi=hi)

    # stats/meta cover the grown corpus: force their recompute
    for st in ("term_stats", "finalize"):
        try:
            os.remove(paths.ckpt(st))
        except FileNotFoundError:
            pass
    _refresh_stats(spark, paths, resume=resume)
    return paths
