"""Every index table is read with its declared schema, and a held
``IndexReader`` follows the index it points at.

- The declared-schema read (``storage.read_table``) of each table
  returns the same columns, types and rows as Parquet schema inference,
  on a built, appended, merged and force-merged positional index — a
  writer that drifts from its declaration fails here.
- A table whose column type differs from its declaration fails the
  query instead of returning rows.
- A reader held across an ``append_index`` or a ``restore_index``
  answers exactly like a fresh reader (docids and scores).
"""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from anomaly_detection_spark.data import assign_docids, generate_transcripts
from anomaly_detection_spark.index import (append_index, build_index,
                                           force_merge, merge_segments)
from anomaly_detection_spark.index import storage as st
from anomaly_detection_spark.index.snapshots import (restore_index,
                                                     snapshot_index)
from anomaly_detection_spark.query import IndexReader, bm25_topk_indexed

Q = "spark query data merge"


def _declared(meta) -> dict:
    return {
        "postings": st.POSTING_SCHEMA,
        "doc_stats": meta.doc_stats_schema,
        "doc_norms": st.NORMS_SCHEMA,
        "term_stats": st.TERM_STATS_SCHEMA,
        "manifest": st.MANIFEST_SCHEMA,
        "lineage": st.LINEAGE_SCHEMA,
    }


def _top10(reader) -> list:
    return [(r["docid"], r["score"])
            for r in bm25_topk_indexed(reader, Q, k=10).collect()]


def test_declared_schemas_match_inference(spark, tiny_transcripts):
    tmp = tempfile.mkdtemp(prefix="adspark_schemas_")
    try:
        idx = f"{tmp}/idx"
        build_index(tiny_transcripts.filter(F.col("docid") < 1500), idx,
                    seg_size=512, block_size=64, segments_per_batch=2,
                    positions=True)
        append_index(tiny_transcripts.filter(F.col("docid") >= 1500), idx)
        merge_segments(spark, idx, f"{tmp}/merged", factor=2)
        force_merge(spark, f"{tmp}/merged", f"{tmp}/one")
        for root in (idx, f"{tmp}/merged", f"{tmp}/one"):
            paths = st.IndexPaths(root)
            for table, schema in _declared(st.read_meta(root)).items():
                path = getattr(paths, table)
                got = st.read_table(spark, path, schema)
                want = spark.read.parquet(path)
                where = f"{root}: {table}"
                assert [(f.name, f.dataType) for f in got.schema] == \
                    [(f.name, f.dataType) for f in want.schema], where
                assert got.count() == want.count() > 0, where
                assert got.exceptAll(want).count() == 0, where

        # a column whose type drifted from its declaration fails the
        # query rather than answering from misread bytes
        ts = st.IndexPaths(f"{tmp}/one").term_stats
        (spark.read.parquet(ts).withColumn("df", F.col("df").cast("string"))
         .write.parquet(f"{tmp}/ts_str"))
        shutil.rmtree(ts)
        os.rename(f"{tmp}/ts_str", ts)
        with pytest.raises(Exception,
                           match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
            bm25_topk_indexed(IndexReader(spark, f"{tmp}/one"), Q,
                              k=10).collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_held_reader_follows_append_and_restore(spark):
    docs = assign_docids(generate_transcripts(spark, 2000, seed=7)).persist()
    n_docs = docs.count()
    tmp = tempfile.mkdtemp(prefix="adspark_held_")
    try:
        idx, repo = f"{tmp}/idx", f"{tmp}/snaps"
        build_index(docs.filter(F.col("docid") < 1500), idx,
                    seg_size=512, block_size=64, segments_per_batch=2)
        held = IndexReader(spark, idx)
        before = _top10(held)
        snapshot_index(idx, repo, "base")

        append_index(docs.filter(F.col("docid") >= 1500), idx)
        assert held.meta.n_docs == n_docs
        assert _top10(held) == _top10(IndexReader(spark, idx))

        shutil.rmtree(idx)
        restore_index(repo, "base", idx)
        assert held.meta.n_docs == 1500
        assert _top10(held) == _top10(IndexReader(spark, idx)) == before
    finally:
        docs.unpersist()
        shutil.rmtree(tmp, ignore_errors=True)
