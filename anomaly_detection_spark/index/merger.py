"""Segment merge/compaction (SURVEY.md §2.6 L3) — the Spark analog of
Lucene background merges.

``factor`` consecutive source segments collapse into one target segment
(docid ranges nest because ``seg_id = docid // seg_size``), so a merge
group's postings are a simple ordered concatenation — the k-way merge
degenerates to decode → concat → re-encode at full block size.

Skew: merge groups are keyed by the *target segment* (a bounded docid
range), so even a term with df ≈ N contributes at most
``factor × seg_size`` postings per task — hot terms are split across
target segments by construction instead of landing on one reducer
(the skew the reference documents at ``SearchFeatureDao.java:307-331``).

Resumable: target segments are processed in batches, each ending in an
atomic checkpoint marker in the destination index; restart skips
completed batches (north_rule).

A merged segment is written through the build's segment writer
(``builder.write_postings_batch``, ``write_norms``, ``run_batches``).
doc_stats and term_stats are segment-layout-independent and are
copied; norms are re-encoded from the source doc_stats at the merged
geometry.
"""

from __future__ import annotations

import math
import time
from dataclasses import replace

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .builder import (
    blocks_from_sorted,
    run_batches,
    write_norms,
    write_postings_batch,
)
from .storage import (
    POSTING_SCHEMA,
    TERM_STATS_SCHEMA,
    IndexPaths,
    is_done,
    log_lineage,
    log_metric,
    mark_done,
    pin_geometry,
    read_meta,
    read_table,
    write_meta,
)


def _merge_new_seg(pdf: pd.DataFrame, block_size: int, src_seg_size: int,
                   new_seg_size: int, bucket_size: int,
                   codec: str = "leb128",
                   positions_expected: bool = False) -> pd.DataFrame:
    """All posting blocks of one target segment → re-encoded blocks.
    Positional payloads (``pos``), when present on every block, are
    decoded per block and re-encoded on the merged block grid.  When
    the source meta advertises positions (``positions_expected``), a
    group mixing positional and null-pos blocks raises instead of
    silently re-encoding without positions — the merged meta would
    still say ``positions=True`` and phrase queries would miss docs."""
    pdf = pdf.sort_values(["term", "seg_id", "block_id"], kind="mergesort")
    new_seg = int(pdf["new_seg"].iloc[0])
    firsts = pdf["first_docid"].to_numpy(dtype=np.int64)
    seg_ids = pdf["seg_id"].to_numpy(dtype=np.int64)
    ns = pdf["n"].to_numpy(dtype=np.int64)
    gaps_col = pdf["gaps"].to_numpy(dtype=object)
    tfs_col = pdf["tfs"].to_numpy(dtype=object)
    # non-null for every row, not just the first: mixed-format indexes
    # (schema-union null-fill) must take the no-bm path, not crash
    has_bm = ("bm_buckets" in pdf.columns
              and pdf["bm_buckets"].notna().all())
    has_pos = "pos" in pdf.columns and pdf["pos"].notna().all()
    if positions_expected and not has_pos:
        n_null = (int(pdf["pos"].isna().sum()) if "pos" in pdf.columns
                  else len(pdf))
        raise ValueError(
            f"merge group (target seg {new_seg}) mixes positional and "
            f"non-positional blocks ({n_null}/{len(pdf)} lack pos) while "
            f"the source meta says positions=True; rebuild the source "
            f"segments with positions or merge with positions=False meta")

    from ..functions.codecs import BLOB_DECODERS

    dec = BLOB_DECODERS[codec]
    doc_parts, tf_parts, pos_parts = [], [], []
    for i in range(len(pdf)):
        doc_parts.append(np.cumsum(dec(gaps_col[i])).astype(np.int64)
                         + firsts[i])
        tfs_i = dec(tfs_col[i]).astype(np.int64)
        tf_parts.append(tfs_i)
        if has_pos:
            from ..functions.codecs import decode_positions

            pos_parts.append(decode_positions(pdf["pos"].iloc[i], tfs_i,
                                              codec=codec))
    docs_u = np.concatenate(doc_parts)
    tfs_u = np.concatenate(tf_parts)
    pos_flat = np.concatenate(pos_parts) if has_pos else None
    terms_u = np.repeat(pdf["term"].to_numpy(dtype=object), ns)
    if has_bm:
        # per-posting dl lower bound from the source blocks' per-bucket
        # tables — the bucket grid is docid-aligned (seg_size %
        # bucket_size == 0), so re-cut bucket minima are preserved
        # exactly through the merge.  One global searchsorted over
        # (block, bucket) keys instead of a per-block python loop.
        ent_counts = np.fromiter((len(x) for x in pdf["bm_buckets"]),
                                 dtype=np.int64, count=len(pdf))
        ent_block = np.repeat(np.arange(len(pdf), dtype=np.int64), ent_counts)
        ent_bucket = np.concatenate(
            [np.asarray(x, dtype=np.int64) for x in pdf["bm_buckets"]])
        ent_dl = np.concatenate(
            [np.asarray(x, dtype=np.int64) for x in pdf["bm_dl"]])
        K = max(1, src_seg_size // bucket_size)
        post_block = np.repeat(np.arange(len(pdf), dtype=np.int64), ns)
        post_bucket = (docs_u - np.repeat(seg_ids, ns) * src_seg_size) \
            // bucket_size
        idx = np.searchsorted(ent_block * K + ent_bucket,
                              post_block * K + post_bucket)
        dls_u = ent_dl[idx]
    else:
        # legacy blocks: block-level min_dl (valid, slightly looser)
        dls_u = np.repeat(pdf["min_dl"].to_numpy(dtype=np.int64), ns)
    return blocks_from_sorted(terms_u, docs_u, tfs_u, new_seg, block_size,
                              dls_u=dls_u, seg_size=new_seg_size,
                              bucket_size=bucket_size, pos_flat=pos_flat,
                              codec=codec)


# merge batches in flight: one batch's re-encode tasks back-fill the
# tail of its neighbour
MERGE_PIPELINE_DEPTH = 2


def merge_segments(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    factor: int = 4,
    segments_per_batch: int = 16,
    resume: bool = True,
) -> IndexPaths:
    """Compact ``src_dir``'s segments by ``factor`` into ``dst_dir``.

    doc_stats / term_stats are segment-layout-independent and are
    carried over; postings are re-encoded per target segment and norms
    re-encoded from doc_stats at the merged segment size.
    """
    src_meta = read_meta(src_dir)
    src, dst = IndexPaths(src_dir), IndexPaths(dst_dir)
    new_seg_size = src_meta.seg_size * factor
    block_size = src_meta.block_size

    n_new_segs = max(1, math.ceil(src_meta.n_docs / new_seg_size))
    n_batches = max(1, math.ceil(n_new_segs / segments_per_batch))
    # pin merge geometry BEFORE touching dst meta: resuming with a
    # different factor/batching must error, not remap docid ranges —
    # and so must resuming against a source that grew or was rebuilt
    # since, or dst would mix its old batches with the new meta
    pin_geometry(dst, "merge_conf", resume, factor=factor,
                 segments_per_batch=segments_per_batch,
                 src_n_docs=src_meta.n_docs, src_seg_size=src_meta.seg_size)
    # copied unpartitioned: the source's `batch` becomes a data column
    doc_stats = read_table(spark, src.doc_stats, src_meta.doc_stats_schema)
    write_meta(dst, replace(src_meta, seg_size=new_seg_size,
                            doc_stats_schema=doc_stats.schema.toDDL()))

    posts = read_table(spark, src.postings, POSTING_SCHEMA).withColumn(
        "new_seg", (F.col("seg_id") / factor).cast("int"))

    def _one_batch(k: int) -> None:
        t0 = time.time()
        lo, hi = k * segments_per_batch, (k + 1) * segments_per_batch
        # filter on the RAW seg_id range (new_seg = seg_id // factor is
        # a derived column no parquet stat can serve): [lo, hi) target
        # segments ⟺ seg_id ∈ [lo·factor, hi·factor), which lands in
        # PushedFilters and prunes row groups — without it every merge
        # batch re-scans the whole postings table (B batches ⇒ B full
        # scans; guide §6 pushdown)
        sub = posts.filter((F.col("seg_id") >= lo * factor)
                           & (F.col("seg_id") < hi * factor))

        from ..functions.codecs import codec_name as _cn

        def _m(pdf: pd.DataFrame) -> pd.DataFrame:
            return _merge_new_seg(pdf, block_size, src_meta.seg_size,
                                  new_seg_size, src_meta.bucket_size,
                                  codec=_cn(src_meta.codec),
                                  positions_expected=src_meta.positions)

        # merge parallelism = target segments × term shards: posting
        # blocks never span terms, so sharding a target segment's terms
        # re-encodes identical blocks while filling the cluster even
        # when the batch has fewer segments than cores (a compaction of
        # factor=4 divides segment count by 4 — without sharding the
        # biggest merges would run on a handful of tasks)
        segs_in_batch = max(1, min(hi, n_new_segs) - lo)
        par = spark.sparkContext.defaultParallelism
        shards = max(1, math.ceil(2 * par / segs_in_batch))
        sub = sub.withColumn(
            "_shard", F.pmod(F.xxhash64("term"), F.lit(shards)))
        merged = (sub.groupBy("new_seg", "_shard")
                  .applyInPandas(_m, schema=POSTING_SCHEMA))
        # AQE's byte-based coalescing of the shard fan-out is left ON:
        # measured on a 32-core host, ~20 coalesced tasks beat the full
        # 32-task fan-out — the encode is bandwidth-bound before it is
        # core-bound.
        man_rows, _ = write_postings_batch(spark, merged, dst, k)
        ext = (min((r["docid_min"] for r in man_rows), default=0),
               max((r["docid_max"] for r in man_rows), default=-1),
               sum(r["n_postings"] for r in man_rows),
               sum(r["bytes"] for r in man_rows))
        log_lineage(spark, dst, "merge", batch=k,
                    docid_lo=ext[0] or 0, docid_hi=(ext[1] or -1) + 1,
                    rows=ext[2] or 0, bytes_=ext[3] or 0,
                    wall_s=time.time() - t0)
        mark_done(dst, "merge_batch", k, wall_s=time.time() - t0)
        log_metric(dst, "merge", batch=k, wall_s=time.time() - t0)

    pending = [k for k in range(n_batches)
               if not (resume and is_done(dst, "merge_batch", k))]
    run_batches(pending, _one_batch, MERGE_PIPELINE_DEPTH)

    for stage, df, dst_path, parts, order in (
        ("copy_doc_stats", doc_stats, dst.doc_stats, 8, "docid"),
        ("copy_term_stats",
         read_table(spark, src.term_stats, TERM_STATS_SCHEMA),
         dst.term_stats, 4, "term"),
    ):
        if resume and is_done(dst, stage):
            continue
        t0 = time.time()
        (df.repartitionByRange(parts, order).sortWithinPartitions(order)
         .write.mode("overwrite").parquet(dst_path))
        mark_done(dst, stage)
        log_metric(dst, stage, wall_s=time.time() - t0)

    # norms re-encoded at the merged segment geometry
    if not (resume and is_done(dst, "merge_norms")):
        t0 = time.time()
        write_norms(spark, src.doc_stats, f"{dst.doc_norms}/batch=0",
                    new_seg_size, 4)
        mark_done(dst, "merge_norms")
        log_metric(dst, "merge_norms", wall_s=time.time() - t0)
    return dst


def force_merge(spark: SparkSession, src_dir: str, dst_dir: str,
                max_num_segments: int = 1,
                segments_per_batch: int = 16,
                resume: bool = True) -> IndexPaths:
    """``_forcemerge`` analog: compact down to at most
    ``max_num_segments`` segments, deriving the merge factor from the
    current segment count (the reference's ForceMergeRequest takes the
    target count, not a factor).  A no-op factor of 1 still rewrites
    through :func:`merge_segments` so dst is always a complete,
    self-contained index.
    """
    if max_num_segments < 1:
        raise ValueError(
            f"max_num_segments must be >= 1, got {max_num_segments}")
    meta = read_meta(src_dir)
    n_segs = max(1, math.ceil(meta.n_docs / meta.seg_size))
    factor = max(1, math.ceil(n_segs / max_num_segments))
    return merge_segments(spark, src_dir, dst_dir, factor=factor,
                          segments_per_batch=segments_per_batch,
                          resume=resume)
