"""Index layout, table schemas, metadata, checkpoint markers and
per-stage metrics.

Layout under ``index_dir`` (the Spark analog of a Lucene index
directory; lineage/checkpoint design modeled on the reference's task
piece checkpoints — ``ADBatchTaskRunner.java:1017-1093`` — and its
checkpoint index ``anomaly-checkpoint.json``):

    _meta.json                   corpus stats + codec/analyzer config
    doc_stats/batch=K/           docid, doc_len + the build's keep_cols
                                 (DOC_STATS_SCHEMA; full DDL in the meta)
    doc_norms/batch=K/           per-segment norms blobs (NORMS_SCHEMA)
    postings/batch=K/            per-segment posting blocks (POSTING_SCHEMA)
    term_stats/                  term, df, cf (TERM_STATS_SCHEMA)
    manifest/batch=K/            per-segment lineage rows (MANIFEST_SCHEMA)
    lineage/                     one row per stage × batch (LINEAGE_SCHEMA)
    _ckpt/<stage>__<batch>.json  completion markers (resume skips these)
    metrics.jsonl                per-stage wall/row metrics (append)

Every table is written from its schema constant and read back with it
through :func:`read_table`, never by Parquet schema inference (a Spark
job per read).  A merged index's doc_stats carries ``batch`` as a data
column.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass

from ..localdf import local_df

POSTING_SCHEMA = (
    "term string, seg_id int, block_id int, first_docid long, last_docid long, "
    "n int, gaps binary, tfs binary, max_tf int, sum_tf long, min_dl int, "
    "bm_buckets array<int>, bm_tf array<int>, bm_dl array<int>, "
    "blob_bytes int, pos binary"
)
NORMS_SCHEMA = "seg_id int, n int, docid_gaps binary, dls binary"
TERM_STATS_SCHEMA = "term string, df long, cf long"
MANIFEST_SCHEMA = ("seg_id int, term_min string, term_max string, "
                   "n_terms long, n_blocks long, n_postings long, "
                   "bytes long, docid_min long, docid_max long, batch int")
# the fixed part of doc_stats; the build's keep_cols follow it
DOC_STATS_SCHEMA = "docid long, doc_len int"
LINEAGE_SCHEMA = ("stage string, batch int, docid_lo long, docid_hi long, "
                  "rows long, bytes long, wall_s double, ts double")


@dataclass
class IndexMeta:
    n_docs: int
    avgdl: float
    seg_size: int
    block_size: int
    # block-max pruning bucket width in docids (per-bucket impact tables
    # in the posting blocks are cut on this grid; must divide seg_size)
    bucket_size: int = 256
    # per-occurrence token positions stored in posting blocks (Lucene
    # positions for text fields) — phrase/proximity queries need them
    positions: bool = False
    k1: float = 1.2
    b: float = 0.75
    analyzer: str = "lowercase+unicode-word-break"
    codec: str = "delta-gap+leb128"
    version: int = 1
    # DDL of doc_stats as written (the build's keep_cols and their types)
    doc_stats_schema: str = DOC_STATS_SCHEMA


@dataclass
class IndexPaths:
    root: str

    @property
    def meta(self) -> str:
        return os.path.join(self.root, "_meta.json")

    @property
    def doc_stats(self) -> str:
        return os.path.join(self.root, "doc_stats")

    @property
    def doc_norms(self) -> str:
        # per-segment varint blobs of doc lengths (Lucene norms analog):
        # lets pure match queries score without shuffling doc_stats
        return os.path.join(self.root, "doc_norms")

    @property
    def postings(self) -> str:
        return os.path.join(self.root, "postings")

    @property
    def term_stats(self) -> str:
        return os.path.join(self.root, "term_stats")

    @property
    def manifest(self) -> str:
        return os.path.join(self.root, "manifest")

    @property
    def lineage(self) -> str:
        # Spark-queryable build/merge lineage (one row per stage×batch),
        # the analog of the reference's task-state index
        # (anomaly-detection-state.json) — metrics.jsonl is the
        # human-readable twin
        return os.path.join(self.root, "lineage")

    @property
    def ckpt_dir(self) -> str:
        return os.path.join(self.root, "_ckpt")

    @property
    def metrics(self) -> str:
        return os.path.join(self.root, "metrics.jsonl")

    def ckpt(self, stage: str, batch: int | str = "all") -> str:
        return os.path.join(self.ckpt_dir, f"{stage}__{batch}.json")


def write_json(path: str, doc, **dump_kw) -> None:
    """Write ``doc`` as JSON (``json.dump(doc, f, **dump_kw)``) to
    ``path`` through ``path.tmp`` and an atomic ``os.replace``: a
    reader never sees half a file, and a crash leaves the old one."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(doc, f, **dump_kw)
    os.replace(tmp, path)


def write_meta(paths: IndexPaths, meta: IndexMeta) -> None:
    os.makedirs(paths.root, exist_ok=True)
    write_json(paths.meta, asdict(meta), indent=1)


def read_meta(index_dir: str) -> IndexMeta:
    with open(IndexPaths(index_dir).meta) as f:
        return IndexMeta(**json.load(f))


def is_done(paths: IndexPaths, stage: str, batch: int | str = "all") -> bool:
    return os.path.exists(paths.ckpt(stage, batch))


def mark_done(paths: IndexPaths, stage: str, batch: int | str = "all",
              **info) -> None:
    os.makedirs(paths.ckpt_dir, exist_ok=True)
    write_json(paths.ckpt(stage, batch),
               {"stage": stage, "batch": batch, "ts": time.time(), **info})


def read_ckpt(paths: IndexPaths, stage: str, batch: int | str = "all") -> dict:
    with open(paths.ckpt(stage, batch)) as f:
        return json.load(f)


def pin_geometry(paths: IndexPaths, stage: str, resume: bool, **geom) -> None:
    """Record batch geometry on first run; fail fast if a resume passes
    different geometry — silently re-mapping batch/docid ranges across a
    resume would corrupt the index instead of erroring."""
    if resume and is_done(paths, stage):
        pinned = read_ckpt(paths, stage)
        # keys ABSENT from an old checkpoint were never pinned (the
        # format predates them) — the on-disk meta governs those, so a
        # resume of a pre-upgrade index must not fail on new keys
        diff = {k: (pinned[k], v) for k, v in geom.items()
                if k in pinned and pinned[k] != v}
        if diff:
            raise ValueError(
                f"resume geometry mismatch for {paths.root} ({stage}): "
                + ", ".join(f"{k}: checkpointed {a!r} != requested {b!r}"
                            for k, (a, b) in diff.items()))
        return
    mark_done(paths, stage, **geom)


def log_metric(paths: IndexPaths, stage: str, **fields) -> None:
    os.makedirs(paths.root, exist_ok=True)
    with open(paths.metrics, "a") as f:
        f.write(json.dumps({"stage": stage, "ts": time.time(), **fields}) + "\n")


def read_table(spark, path: str, schema):
    """A table this package wrote, read with its declared ``schema`` (no
    inference job; discovered partition columns are appended).  An
    absent table reads as an empty frame of ``schema``."""
    if not os.path.exists(path):
        return local_df(spark, [], schema)
    return spark.read.schema(schema).parquet(path)


# append-mode parquet writes into ONE directory share a _temporary
# staging dir; concurrent appends (overlapped build batches) would
# race on it — serialize the tiny lineage appends instead
_LINEAGE_LOCK = __import__("threading").Lock()


def log_lineage(spark, paths: IndexPaths, stage: str, batch: int = 0,
                docid_lo: int = 0, docid_hi: int = 0, rows: int = 0,
                bytes_: int = 0, wall_s: float = 0.0) -> None:
    """Append one lineage row (parquet, next to the manifest)."""
    with _LINEAGE_LOCK:
        local_df(
            spark,
            [(stage, int(batch), int(docid_lo), int(docid_hi), int(rows),
              int(bytes_), float(wall_s), time.time())],
            LINEAGE_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(paths.lineage)
