"""Structured Streaming incremental index build (SURVEY.md §2.7 /
north-rule resumability): a ``foreachBatch`` sink that appends each
micro-batch of new turns to the on-disk inverted index as new segment
batches — the streaming twin of ``build(A); append(B)``.

Reference mapping: the plugin keeps its result/checkpoint indices
current as data arrives (``ExecuteADResultResponseRecorder.java``,
``ADBatchTaskRunner.java:1017-1093`` piece checkpoints); here the
INDEX itself grows the same way, one atomic batch at a time.

Exactly-once design (two-phase, crash-safe at every boundary):

1. **Intent ledger.**  Before touching the index, the writer records
   ``batch_id → (docid lo, hi)`` in ``_stream_ledger.json``.  A
   replayed batch (Structured Streaming re-delivers the SAME batch_id
   with the SAME rows from a replayable source) finds its entry and
   reuses the RECORDED lo — never ``meta.n_docs``, which may already
   have grown past it if the crash hit after the append finished but
   before the driver acknowledged.
2. **Idempotent apply.**  ``append_index`` itself resumes from
   per-chunk completion markers, so re-running a half-finished append
   with the same docid range redoes only the missing chunks; the
   stats/meta recompute is idempotent.
3. **Fast skip.**  A fully-applied replay (ledger entry present and
   ``meta.n_docs ≥ hi``) returns without running a job.

Docids are assigned per batch with the same rank-over-(conv_id,
turn_idx) used everywhere (:func:`~..data.assign_docids`), offset by
the ledger lo — stable under replay because the batch content is
stable.  Requires a replayable source (file/Kafka-class), like every
exactly-once foreachBatch sink.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..data import assign_docids
from ..index.builder import append_index, build_index
from ..index.storage import read_meta, write_json


def _ledger_path(index_dir: str) -> str:
    return os.path.join(index_dir, "_stream_ledger.json")


def _read_ledger(index_dir: str) -> dict:
    try:
        with open(_ledger_path(index_dir)) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def _write_ledger(index_dir: str, ledger: dict) -> None:
    os.makedirs(index_dir, exist_ok=True)
    write_json(_ledger_path(index_dir), ledger)


def index_stream_writer(
    index_dir: str,
    order_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    text_col: str = "text",
    keep_cols: tuple[str, ...] = ("conv_id", "turn_idx", "role", "tool",
                                  "ts"),
    **build_kwargs,
):
    """Return the ``foreachBatch`` callable.  The first batch creates
    the index (``build_kwargs`` — seg_size/positions/codec/… — apply
    there; later appends inherit the stored geometry, exactly like
    batch resume)."""

    def _write(batch: DataFrame, batch_id: int) -> None:
        from ..index.storage import IndexPaths, is_done

        key = str(batch_id)
        ledger = _read_ledger(index_dir)
        has_meta = os.path.exists(
            os.path.join(index_dir, "_meta.json"))
        if key in ledger:
            # fully applied = docid range covered AND the build/append
            # FINALIZED (build_index writes a draft meta carrying the
            # final n_docs before any batch work, so n_docs alone
            # would mistake a mid-build crash for done); checked
            # before count() so an ack-only replay runs no Spark job
            lo, hi = ledger[key]
            if has_meta and read_meta(index_dir).n_docs >= hi \
                    and is_done(IndexPaths(index_dir), "finalize"):
                return
        n = batch.count()
        if n == 0:
            return
        if key in ledger:
            lo, hi = ledger[key]
        else:
            lo = read_meta(index_dir).n_docs if has_meta else 0
            hi = lo + n
            ledger[key] = [lo, hi]
            _write_ledger(index_dir, ledger)   # intent BEFORE apply
        docs = assign_docids(batch, order_cols=order_cols) \
            .withColumn("docid", F.col("docid") + F.lit(int(lo)))
        if lo == 0:
            # branch on the LEDGER range, not on meta existence: a
            # mid-build crash leaves a draft meta behind, and the
            # replayed first batch must RESUME the build (checkpointed
            # batches skip) — routing it to append_index would raise
            # on the docid range and wedge the stream
            build_index(docs, index_dir, text_col=text_col,
                        keep_cols=keep_cols, **build_kwargs)
        else:
            append_index(docs, index_dir, text_col=text_col,
                         keep_cols=keep_cols)

    return _write


def start_index_stream(
    stream_docs: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    **writer_kwargs,
):
    """Wire the writer to ``writeStream`` (availableNow drains every
    pending micro-batch then stops — the backfill/test mode; pass
    ``available_now=False`` for a continuous run)."""
    w = (stream_docs.writeStream
         .foreachBatch(index_stream_writer(index_dir, **writer_kwargs))
         .option("checkpointLocation", checkpoint_dir))
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()
