"""Index-backed query execution: one segment-scan executor under every
indexed query type (SURVEY.md §2.6 L4/L5).

Every indexed query runs Lucene's pipeline — term statistics → weight
→ per-segment scorer → top-k collector — on the same pieces:

- :meth:`IndexReader.term_dfs`, the one term-dictionary reader: one
  small collect gives the query terms' df (→ idf weights) or a
  dictionary range (prefix and span_multi expansion).
- :func:`_segment_scan`, the executor: postings filtered to the query
  terms (files are sorted by term, so Parquet row-group stats prune
  the rest) and the doc-length side (:func:`_docs_side`: norms blobs,
  or doc_stats rows under a filter) are cogrouped by ``seg_id`` → one
  Arrow batch per segment; :func:`_run_segment` decodes the segment's
  doc lengths, runs the kernel and keeps the segment's top-k under
  (score desc, docid asc); a global ``orderBy(...).limit(k)``
  (TakeOrderedAndProject) merges n_segments × k rows.
- one kernel per query type, the only code that differs:
  :func:`_bm25_kernel` (block-max WAND at bucket granularity: buckets
  visited in descending upper-bound order with a running top-k θ and a
  decode cache — like Lucene's BMW it only skips work, never changes
  results — plus a matched-term floor for ``operator: and`` /
  ``minimum_should_match``); :func:`_phrase_topk`'s phrase kernel
  (exact, sloppy, and phrase-prefix as a MultiPhraseQuery) and the span
  kernels over :func:`_decode_occurrences`; the SynonymQuery group-tf
  kernel in :mod:`.synonyms`.

Filters (term/range on role/tool/ts) restrict candidate docs via the
doc_stats side; corpus stats stay index-wide, matching Lucene
(``track_total_hits(false)`` early-termination analog: S3/L5).
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from ..localdf import local_df

from ..functions.bm25 import B_DEFAULT, K1_DEFAULT, bm25_idf, quantize_doc_len
from ..functions.codecs import (BLOB_DECODERS, codec_name, decode_positions,
                                varint_decode)
from ..functions.tokenizer import tokenize_query
from ..index.storage import IndexMeta, IndexPaths, read_meta

_HITS = "docid long, score double"
_DOCIDS = "docid long"
_BM25_COLS = ("first_docid", "last_docid", "gaps", "tfs", "max_tf", "n")
# block-max bound inputs, read only when pruning may run
_BLOCK_MAX_COLS = ("min_dl", "bm_buckets", "bm_tf", "bm_dl")
_POSITIONAL_COLS = ("first_docid", "gaps", "tfs", "pos")


@dataclass
class IndexReader:
    spark: SparkSession
    index_dir: str
    meta: IndexMeta = field(init=False)

    def __post_init__(self):
        self.meta = read_meta(self.index_dir)
        self.paths = IndexPaths(self.index_dir)

    def postings(self) -> DataFrame:
        return self.spark.read.parquet(self.paths.postings)

    def doc_stats(self) -> DataFrame:
        return self.spark.read.parquet(self.paths.doc_stats)

    def doc_norms(self) -> DataFrame:
        return self.spark.read.parquet(self.paths.doc_norms)

    def term_stats(self) -> DataFrame:
        return self.spark.read.parquet(self.paths.term_stats)

    def term_dfs(self, terms, limit: int | None = None) -> dict[str, int]:
        """term → df from the term dictionary, in one collect: for the
        terms of a list that the index holds, or for the dictionary
        terms matching a Column predicate — the first ``limit`` of them
        in term order when a limit is given."""
        if isinstance(terms, Column):
            cond = terms
        else:
            terms = list(terms)
            if not terms:
                return {}
            cond = F.col("term").isin(terms)
        rows = self.term_stats().filter(cond).select("term", "df")
        if limit is not None:
            rows = rows.orderBy("term").limit(limit)
        return {r["term"]: r["df"] for r in rows.collect()}

    def manifest(self) -> DataFrame:
        return self.spark.read.parquet(self.paths.manifest)

    def lineage(self) -> DataFrame:
        """Build/merge lineage rows (stage, batch, docid range, rows,
        bytes, wall) — the Spark-queryable task-state table."""
        return self.spark.read.parquet(self.paths.lineage)


def _segment_doclens(docs: pd.DataFrame, seg_base: int,
                     seg_size: int, quantize_norms: bool) -> np.ndarray:
    """Per-local-docid doc lengths for one segment (−1 = filtered out /
    absent), from either compact norms blobs or filtered doc_stats
    rows."""
    dl = np.full(seg_size, -1.0)
    if "docid_gaps" in docs.columns:
        # compact per-segment norms blobs (no doc_stats shuffle).  A
        # segment normally has ONE blob, but an appended boundary
        # segment carries one per batch dir (disjoint docid ranges) —
        # decode them all.
        for gi in range(len(docs)):
            docids = np.cumsum(
                varint_decode(docs["docid_gaps"].iloc[gi])).astype(np.int64)
            dls = varint_decode(docs["dls"].iloc[gi]).astype(np.float64)
            dl[docids - seg_base] = dls
    else:
        dl[docs["docid"].to_numpy(dtype=np.int64) - seg_base] = \
            docs["doc_len"].to_numpy(dtype=np.float64)
    if quantize_norms:
        present = dl >= 0
        dl[present] = quantize_doc_len(dl[present].astype(np.int64))
    return dl


def _saturate(w, tf, dl, k1: float, b: float, avgdl: float):
    """BM25 contribution w · tf(k1+1) / (tf + k1(1 − b + b·dl/avgdl))."""
    return w * (tf * (k1 + 1.0)) / (
        tf + k1 * (1.0 - b + b * dl / max(avgdl, 1e-12)))


_NO_HITS = (np.empty(0, dtype=np.int64), np.empty(0))


def _run_segment(posts: pd.DataFrame, docs: pd.DataFrame, kernel,
                 seg_size: int, k: int | None, scored: bool = True,
                 quantize_norms: bool = False) -> pd.DataFrame:
    """One segment through a kernel: decode the segment's doc lengths,
    call ``kernel(posts, dl, seg_base)`` for its local hits — (docids,
    scores), or bare docids when not ``scored`` — and keep the top-k
    under (score desc, docid asc) when ``k`` is given."""
    seg_base = 0
    cand, sc = _NO_HITS
    if len(posts) and len(docs):
        seg_base = int(posts["seg_id"].iloc[0]) * seg_size
        dl = _segment_doclens(docs, seg_base, seg_size, quantize_norms)
        hits = kernel(posts, dl, seg_base)
        cand, sc = hits if scored else (hits, None)
    docid = np.asarray(cand, dtype=np.int64) + seg_base
    if not scored:
        return pd.DataFrame({"docid": docid})
    if k is not None:
        order = np.lexsort((cand, -sc))[:k]
        docid, sc = docid[order], sc[order]
    return pd.DataFrame({"docid": docid,
                         "score": np.asarray(sc, dtype=np.float64)})


def _docs_side(reader: IndexReader, filter_cond: Column | None) -> DataFrame:
    """Doc-length side of a scored query: compact norms blobs (~1
    byte/doc, no doc_stats shuffle) on pure match; filtered doc_stats
    rows when a filter context restricts candidates."""
    if filter_cond is None:
        return reader.doc_norms().select("seg_id", "docid_gaps", "dls")
    return reader.doc_stats().filter(filter_cond).select(
        "docid", "doc_len",
        (F.col("docid") / reader.meta.seg_size).cast("int").alias("seg_id"))


def _segment_scan(reader: IndexReader, terms, cols, kernel,
                  filter_cond: Column | None = None, k: int | None = None,
                  scored: bool = True, quantize_norms: bool = False,
                  two_phase: bool = False) -> DataFrame:
    """The segment-scan executor every indexed query type runs on.

    Reads the posting blocks of ``terms`` (``term``, ``seg_id`` and
    those of ``cols`` the index carries) and the doc-length side under
    ``filter_cond``, cogroups them by ``seg_id`` and runs
    :func:`_run_segment` with ``kernel`` once per segment.  Returns the
    global top-k by (score desc, docid asc) when ``k`` is given, every
    scored hit unordered when it is not, and matching docids by docid
    when not ``scored``.

    ``two_phase`` scores the densest segment (most postings, column
    ``n``) first and passes its k-th score to every other segment's
    kernel as ``theta_init`` — the cross-segment competitive-score
    propagation Lucene does with MaxScoreAccumulator: identical
    results, more skipping, one extra tiny job."""
    src = reader.postings()
    posts = (src.filter(F.col("term").isin(list(terms)))
             .select("term", "seg_id",
                     *[c for c in cols if c in src.columns]))
    docs = _docs_side(reader, filter_cond)
    seg_size = reader.meta.seg_size

    def scan(p: DataFrame, d: DataFrame, kern) -> DataFrame:
        def one(pp: pd.DataFrame, dd: pd.DataFrame) -> pd.DataFrame:
            return _run_segment(pp, dd, kern, seg_size, k, scored,
                                quantize_norms)

        return (p.groupBy("seg_id").cogroup(d.groupBy("seg_id"))
                .applyInPandas(one, schema=_HITS if scored else _DOCIDS))

    if not scored:
        return scan(posts, docs, kernel).orderBy("docid")
    if k is None:
        return scan(posts, docs, kernel)
    hits = None
    if two_phase:
        seed = (posts.groupBy("seg_id").agg(F.sum("n").alias("_n"))
                .orderBy(F.desc("_n"), F.asc("seg_id")).first())
        if seed is not None:
            on_seed = F.col("seg_id") == seed["seg_id"]
            seed_rows = scan(posts.filter(on_seed), docs.filter(on_seed),
                             kernel).collect()
            theta0 = (min(r["score"] for r in seed_rows)
                      if len(seed_rows) >= k else -np.inf)
            hits = scan(posts.filter(~on_seed), docs.filter(~on_seed),
                        partial(kernel, theta_init=theta0))
            if seed_rows:
                hits = hits.unionByName(
                    local_df(reader.spark, seed_rows, _HITS))
    if hits is None:
        hits = scan(posts, docs, kernel)
    return hits.orderBy(F.desc("score"), F.asc("docid")).limit(k)


def _bm25_kernel(
    posts: pd.DataFrame,
    dl: np.ndarray,
    seg_base: int,
    weights: dict[str, float],
    avgdl: float,
    k: int | None,
    k1: float,
    b: float,
    prune: bool,
    bucket: int = 1024,
    quantize_norms: bool = False,
    theta_init: float = -np.inf,
    n_required: int = 0,
    decode=None,
) -> tuple[np.ndarray, np.ndarray]:
    """BM25 over one segment's posting blocks → (local docids, scores)
    of every candidate that can reach the top-``k`` (all matches when
    ``k`` is None).  ``n_required`` > 0 keeps only docs matching at
    least that many distinct query terms."""
    if decode is None:
        # resolved at CALL time through the module global so test
        # instrumentation (and future codec swaps) see every decode
        decode = varint_decode
    if k is None or len(posts) < 16:
        # all-candidates mode (no cut to prune toward), or too few
        # blocks for the pruning overhead to pay: dense scoring
        prune = False
    seg_size = len(dl)

    terms = posts["term"].to_numpy(dtype=object)
    firsts = posts["first_docid"].to_numpy(dtype=np.int64)
    lasts = posts["last_docid"].to_numpy(dtype=np.int64)
    max_tfs = posts["max_tf"].to_numpy(dtype=np.float64)
    w_arr = np.array([weights[t] for t in terms])

    # per-block score upper bound at the block's smallest doc length
    # (w is decreasing in dl, so min_dl gives a tight, valid UB; indexes
    # without min_dl fall back to 0 = the loosest bound)
    if "min_dl" in posts.columns:
        min_dls = posts["min_dl"].to_numpy(dtype=np.float64)
    else:
        min_dls = np.zeros(len(posts))
    if quantize_norms:
        min_dls = quantize_doc_len(min_dls.astype(np.int64)).astype(np.float64)
    ub = _saturate(w_arr, max_tfs, min_dls, k1, b, avgdl)

    n_buckets = (seg_size + bucket - 1) // bucket
    bf = (firsts - seg_base) // bucket
    bl = (lasts - seg_base) // bucket

    gaps_col = posts["gaps"].to_numpy(dtype=object)
    tfs_col = posts["tfs"].to_numpy(dtype=object)

    def decode_block(i: int) -> tuple[np.ndarray, np.ndarray]:
        """(local docids, BM25 contributions) of one posting block,
        filter mask (dl < 0) applied."""
        d = np.cumsum(decode(gaps_col[i])).astype(np.int64) + firsts[i]
        loc = d - seg_base
        tf = decode(tfs_col[i]).astype(np.float64)
        dlv = dl[loc]
        ok = dlv >= 0
        loc, tf, dlv = loc[ok], tf[ok], dlv[ok]
        return loc, _saturate(w_arr[i], tf, dlv, k1, b, avgdl)

    n_posts = len(posts)
    term_ids = pd.factorize(terms)[0]
    n_terms_q = int(term_ids.max()) + 1
    # bm columns count as present only when non-null for EVERY row: an
    # index mixing pre-impact-table batches with new ones (parquet
    # schema union null-fills the old rows) must fall back wholesale to
    # the legacy block-level bound instead of raising on np.asarray(None).
    has_bm = (prune and "bm_buckets" in posts.columns
              and posts["bm_buckets"].notna().all())
    if has_bm:
        # per-bucket impact tables (Lucene-impacts analog), flattened
        # once: one concat per column, no per-block Python loop
        bm_b = posts["bm_buckets"].to_numpy(dtype=object)
        lens_e = np.fromiter((len(x) for x in bm_b), np.int64, n_posts)
        all_b = np.concatenate(bm_b).astype(np.int64)
        blk_rep = np.repeat(np.arange(n_posts), lens_e)

    if has_bm and theta_init == -np.inf:
        # Cheap skip-potential gate (O(impact entries), before any bound
        # is computed): skipping exists only where some term's postings
        # are CONCENTRATED in docid space (topical clustering) — then
        # tail buckets lack that term's mass and fall below θ.  If every
        # term's blocks touch ≈ as many buckets as they possibly could
        # (iid spread), no exact bound can skip anything (Lucene BMW
        # skips ~nothing on such data either) — score densely and save
        # the bucket machinery.  With a θ_init floor (two-phase), keep
        # pruning: a cross-segment θ can cut uniform tails too.
        # distinct buckets each TERM's postings touch, vs the most it
        # could touch given its df (a term spread over ~every reachable
        # bucket has no concentration for any exact bound to exploit)
        pair = np.unique(term_ids[blk_rep] * np.int64(n_buckets) + all_b)
        touched_t = np.bincount(pair // n_buckets, minlength=n_terms_q)
        n_term = np.zeros(n_terms_q, dtype=np.int64)
        np.add.at(n_term, term_ids, posts["n"].to_numpy(np.int64))
        possible = np.minimum(np.maximum(n_term, 1), n_buckets)
        cov_t = touched_t / np.maximum(possible, 1)
        if (cov_t >= 0.85).all():
            prune = False

    if prune:
        # --- block-max WAND at bucket granularity -------------------------
        # Bucket UB = Σ_terms max(block UB over the term's blocks
        # overlapping the bucket) — a doc in the bucket sits in exactly
        # one block per term, so the per-term MAX (not sum) is the
        # valid tight bound.  Buckets are then visited in DESCENDING UB
        # order with a running top-k threshold θ: once the k-th best
        # accumulated score reaches the next bucket's UB, every
        # remaining bucket is provably below the cut and its
        # not-yet-decoded blocks are skipped (results identical — like
        # Lucene BMW this only skips work).  Each block is decoded at
        # most once (cache), so pruned decode count ≤ unpruned,
        # strictly less whenever a tail bucket holds blocks no
        # processed bucket touched.
        if has_bm:
            # bound = w · f(bucket max_tf, bucket min_dl), only where the
            # term actually has postings — a rare term's single
            # segment-wide block does not paint every bucket with its
            # global max
            all_t = np.concatenate(
                posts["bm_tf"].to_numpy(dtype=object)).astype(np.float64)
            all_d = np.concatenate(
                posts["bm_dl"].to_numpy(dtype=object)).astype(np.float64)
            if quantize_norms:
                all_d = quantize_doc_len(
                    all_d.astype(np.int64)).astype(np.float64)
            all_u = _saturate(w_arr[blk_rep], all_t, all_d, k1, b, avgdl)
        else:
            # legacy blocks: block-level (max_tf, min_dl) painted over
            # the whole docid span — expand each block's bucket range
            lens_e = (bl - bf + 1).astype(np.int64)
            starts = np.concatenate(([0], np.cumsum(lens_e[:-1])))
            all_b = (np.repeat(bf, lens_e)
                     + np.arange(int(lens_e.sum()), dtype=np.int64)
                     - np.repeat(starts, lens_e))
            blk_rep = np.repeat(np.arange(n_posts), lens_e)
            all_u = np.repeat(ub, lens_e)
        tb_ub = np.zeros((n_terms_q, n_buckets))
        np.maximum.at(tb_ub, (term_ids[blk_rep], all_b), all_u)
        s_bucket = tb_ub.sum(axis=0)
        # CSR bucket → blocks (replaces per-entry Python list appends)
        eorder = np.argsort(all_b, kind="stable")
        csr_blocks = blk_rep[eorder]
        boff = np.concatenate(
            ([0], np.cumsum(np.bincount(all_b, minlength=n_buckets))))
        visit = np.argsort(-s_bucket, kind="stable")

        # Bucket rounds of geometrically-growing size: each round takes
        # the next slice of the UB-descending visit order, drops the
        # provably-dead tail (UB < θ — everything after it is dead too),
        # decodes ONLY the not-yet-decoded blocks touching the round's
        # buckets (each decode adds into one persistent dense score
        # array — add-once, so bucket scores are complete the moment all
        # its blocks are in), collects the round's candidates with one
        # masked flatnonzero, and tightens θ.  Small early rounds grow θ
        # fast; big late rounds amortize the Python per-round cost —
        # sequential-walk cutting power at array speed.
        col_doc: list[np.ndarray] = []
        col_sc: list[np.ndarray] = []
        best = np.empty(0)          # up to k largest scores seen so far
        # θ starts from the caller's cross-segment floor when given
        # (two-phase search: the densest segment's k-th score is a
        # valid global lower bound — Lucene MaxScoreAccumulator analog)
        theta = theta_init
        full = np.zeros(seg_size)
        decoded_blk = np.zeros(n_posts, dtype=bool)

        def add_blocks(blocks) -> None:
            for i in blocks:
                i = int(i)
                if not decoded_blk[i]:
                    loc, contrib = decode_block(i)
                    full[loc] += contrib
                    decoded_blk[i] = True

        def collect(bkts: np.ndarray) -> np.ndarray:
            """Scored docs of the buckets ``bkts`` (complete: all their
            blocks are decoded)."""
            bmask = np.zeros(n_buckets, dtype=bool)
            bmask[bkts] = True
            cand_r = np.flatnonzero(
                (full > 0) & np.repeat(bmask, bucket)[:seg_size])
            if len(cand_r):
                col_doc.append(cand_r)
                col_sc.append(full[cand_r])
            return cand_r

        pos_v = 0
        round_sz = 1
        # weakest bucket that actually holds postings: while θ ≤ s_min
        # no bucket can ever fail the UB test, so nothing is skippable
        nz = s_bucket[s_bucket > 0]
        s_min = float(nz.min()) if len(nz) else 0.0
        while pos_v < len(visit):
            take = visit[pos_v:pos_v + round_sz]
            pos_v += round_sz
            round_sz = min(round_sz * 4, 1024)
            take = take[s_bucket[take] > 0]
            if theta > -np.inf:
                take = take[s_bucket[take] >= theta]
            if len(take) == 0:
                break               # visit order is UB-descending: done
            add_blocks(np.unique(np.concatenate(
                [csr_blocks[boff[b]:boff[b + 1]] for b in take])))
            cand_r = collect(take)
            if len(cand_r) == 0:
                continue
            best = np.sort(np.concatenate([best, full[cand_r]]))[-k:]
            if len(best) >= k:
                theta = max(theta, float(best[0]))
                if theta <= s_min and pos_v < len(visit):
                    # prune-hostile bail-out: a full top-k whose θ still
                    # can't reach even the weakest bucket's UB means the
                    # UB spread is too flat for ANY exact bound to skip —
                    # decode everything once and collect the remaining
                    # buckets in one shot (≈ the dense path's cost,
                    # instead of paying per-round masking for nothing)
                    rest = visit[pos_v:]
                    rest = rest[s_bucket[rest] > 0]
                    if len(rest):
                        add_blocks(np.flatnonzero(~decoded_blk))
                        collect(rest)
                    break
        if not col_doc:
            return _NO_HITS
        cand = np.concatenate(col_doc)
        sc = np.concatenate(col_sc)
    else:
        scores = np.zeros(seg_size)
        cnts = np.zeros(seg_size, dtype=np.int32) if n_required else None
        for i in range(n_posts):
            loc, contrib = decode_block(i)
            scores[loc] += contrib  # docids unique within a block
            if cnts is not None:
                # one block per (term, doc) in a segment, so this counts
                # distinct matched terms (operator:and,
                # minimum_should_match)
                cnts[loc] += 1
        if cnts is not None:
            cand = np.flatnonzero((scores > 0) & (cnts >= n_required))
        else:
            cand = np.flatnonzero(scores > 0)
        sc = scores[cand]
    return cand, sc


def _score_segment(
    posts: pd.DataFrame,
    docs: pd.DataFrame,
    weights: dict[str, float],
    seg_size: int,
    avgdl: float,
    k: int | None,
    k1: float,
    b: float,
    prune: bool,
    bucket: int = 1024,
    quantize_norms: bool = False,
    theta_init: float = -np.inf,
    n_required: int = 0,
    decode=None,
) -> pd.DataFrame:
    """One segment of the BM25 scan run locally — the executor's
    :func:`_run_segment` over :func:`_bm25_kernel` — for kernel-level
    checks and pruning statistics."""
    kernel = partial(_bm25_kernel, weights=weights, avgdl=avgdl, k=k,
                     k1=k1, b=b, prune=prune, bucket=bucket,
                     quantize_norms=quantize_norms, theta_init=theta_init,
                     n_required=n_required, decode=decode)
    return _run_segment(posts, docs, kernel, seg_size, k,
                        quantize_norms=quantize_norms)


def _bm25(reader: IndexReader, qcounts: Counter, k: int | None,
          filter_cond: Column | None, k1: float, b: float,
          min_match: int = 0, prune: bool = False,
          quantize_norms: bool = False, bucket: int | None = None,
          two_phase: bool = False) -> DataFrame:
    """BM25 of a bag of query terms (term → multiplicity) on the
    segment-scan executor: top-``k``, or every match when ``k`` is
    None; ``min_match`` is the matched-distinct-term floor."""
    meta = reader.meta
    uniq = sorted(qcounts)
    dfs = reader.term_dfs(uniq)
    present = [t for t in uniq if t in dfs]
    # a term absent from the corpus matches nothing, so it cannot count
    # toward the floor (operator:and: no doc can match every clause)
    if len(present) < max(min_match, 1):
        return local_df(reader.spark, [], _HITS)
    if min_match or k is None:
        # dense scoring: no cut to prune toward, or a matched-term floor
        # that block-max's OR-shaped upper bounds do not model
        prune = two_phase = False
    # duplicate query terms sum their contribution (bool SHOULD), so the
    # per-term weight is idf × multiplicity
    weights = {t: float(bm25_idf(dfs[t], meta.n_docs)) * qcounts[t]
               for t in present}
    dec = BLOB_DECODERS[codec_name(meta.codec)]
    avgdl, bucket_size = meta.avgdl, meta.bucket_size

    def kernel(p: pd.DataFrame, dl: np.ndarray, seg_base: int,
               theta_init: float = -np.inf):
        # indexes carrying per-bucket impact tables pin the pruning
        # grid to the one the tables were cut on
        grid = (bucket_size if "bm_buckets" in p.columns
                else 1024 if bucket is None else bucket)
        return _bm25_kernel(p, dl, seg_base, weights, avgdl, k, k1, b,
                            prune, bucket=grid,
                            quantize_norms=quantize_norms,
                            theta_init=theta_init, n_required=min_match,
                            decode=dec)

    cols = _BM25_COLS + (_BLOCK_MAX_COLS if prune else ())
    return _segment_scan(reader, present, cols, kernel, filter_cond, k,
                         quantize_norms=quantize_norms,
                         two_phase=two_phase)


def bm25_topk_indexed(
    reader: IndexReader,
    query_text: str,
    k: int = 10,
    filter_cond: Column | None = None,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    prune: bool = True,
    quantize_norms: bool = False,
    bucket: int | None = None,
    two_phase: bool = False,
    conjunctive: bool = False,
) -> DataFrame:
    """Top-k (docid, score) via the posting index; rank/score-identical
    to :func:`bm25_topk_bruteforce` by construction (tested).

    ``bucket`` is the block-max pruning granularity in docids; indexes
    carrying per-bucket impact tables pin it to ``meta.bucket_size``
    (the grid the tables were cut on).

    ``two_phase`` scores the densest segment first and broadcasts its
    k-th score as every other segment's starting θ (see
    :func:`_segment_scan`).  ``conjunctive`` is match ``operator: and``:
    only docs holding every query term score (scored densely)."""
    qcounts = Counter(tokenize_query(query_text))
    return _bm25(reader, qcounts, k, filter_cond, k1, b,
                 min_match=len(qcounts) if conjunctive else 0,
                 prune=prune, quantize_norms=quantize_norms,
                 bucket=bucket, two_phase=two_phase)


def bm25_scores_indexed(
    reader: IndexReader,
    query_text: str,
    filter_cond: Column | None = None,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    min_match: int | None = None,
) -> DataFrame:
    """Per-doc BM25 scores of EVERY matching doc via the posting index
    (no top-k cut) — the index twin of ``brute_force.bm25_scores``.
    Cost is bounded by the query terms' posting lists (a scan of only
    those parquet row groups), never a corpus re-analysis; the
    combining consumers (multi_match, compounds, more_like_this) need
    full score sets, so no pruning applies.  ``min_match`` keeps only
    docs matching at least that many distinct query terms (operator:and,
    minimum_should_match).  Returns (docid, score), unordered."""
    return _bm25(reader, Counter(tokenize_query(query_text)), None,
                 filter_cond, k1, b, min_match=min_match or 0)


def _require_positions(reader: IndexReader, what: str) -> None:
    if not reader.meta.positions:
        raise ValueError(
            f"index at {reader.index_dir} was built without positions; "
            f"rebuild with build_index(..., positions=True) for {what}, "
            f"or use the brute-force path")


def _decode_occurrences(p: pd.DataFrame, seg_base: int, dec, codec: str,
                        ordered: bool = False) -> dict:
    """term → (local docids, positions), one entry per occurrence, from
    a segment's positional posting blocks; ``ordered`` sorts each
    term's stream by (docid, position)."""
    occ: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    for t, grp in p.groupby("term", sort=False):
        locs, poss = [], []
        for first, gaps, tfs_blob, pos_blob in zip(
                grp["first_docid"], grp["gaps"], grp["tfs"], grp["pos"]):
            docids = np.cumsum(dec(gaps)).astype(np.int64) + first
            tfs = dec(tfs_blob).astype(np.int64)
            locs.append(np.repeat(docids - seg_base, tfs))
            poss.append(decode_positions(pos_blob, tfs, codec=codec))
        loc, pos = np.concatenate(locs), np.concatenate(poss)
        if ordered:
            order = np.lexsort((pos, loc))
            loc, pos = loc[order], pos[order]
        occ[t] = (loc, pos)
    return occ


_STRIDE = np.int64(1) << np.int64(32)   # local docid ⊕ position key


def _phrase_topk(reader: IndexReader, offsets: list[list[str]],
                 dfs: dict[str, int], k: int, filter_cond: Column | None,
                 k1: float, b: float, slop: int = 0,
                 slop_semantics: str = "anchor") -> DataFrame:
    """Scored phrase over positional postings, MultiPhraseQuery shape:
    offset j of the phrase matches any term of ``offsets[j]`` (one term
    for match_phrase; the prefix expansions at the last offset of
    match_phrase_prefix).  The weight is Σ over offsets of the idf of
    the offset's max df; tf is the phrase frequency; BM25 saturation.

    Per segment each offset j contributes the sorted keys (docid,
    pos − j) of its terms' occurrences.  Exact (``slop=0``): the
    intersection across offsets is exactly the phrase start positions
    (overlapping occurrences counted, like Lucene's position
    enumeration) — m−1 sorted ``intersect1d`` passes.  ``slop > 0``,
    ``"anchor"``: each offset-0 key looks up its NEAREST neighbor in
    every other offset's keys (two ``searchsorted`` probes per offset),
    matchLength = Σ distances, tf = Σ 1/(1+matchLength) over anchors
    within slop.  ``"lucene"``: candidate docs (holding every offset)
    come from the same key sets, then each candidate's adjusted
    position lists are sliced out and swept by the reference-exact
    SloppyPhraseScorer (:mod:`.sloppy`)."""
    if any(not any(t in dfs for t in off) for off in offsets):
        return local_df(reader.spark, [], _HITS)  # an offset can't match
    meta = reader.meta
    idf = sum(float(bm25_idf(max(dfs.get(t, 0) for t in off), meta.n_docs))
              for off in offsets)
    m = len(offsets)
    cname = codec_name(meta.codec)
    dec = BLOB_DECODERS[cname]
    avgdl = meta.avgdl

    def kernel(p: pd.DataFrame, dl: np.ndarray, seg_base: int):
        occ = _decode_occurrences(p, seg_base, dec, cname)
        if any(not any(t in occ for t in off) for off in offsets):
            return _NO_HITS
        # keys pack (local docid, adjusted pos + m): adjusted positions
        # (≥ −m) stay non-negative, and a neighbor from a different doc
        # lands ≥ STRIDE−2m away, beyond any sane slop.  Blocks arrive
        # in arbitrary order (several batch dirs per segment), so sort.
        # Expansions are distinct terms and a position hosts one term,
        # so every offset's keys are duplicate-free.
        sets = [np.sort(np.concatenate(
            [occ[t][0] * _STRIDE + (occ[t][1] - j) + m
             for t in off if t in occ]))
            for j, off in enumerate(offsets)]
        if slop > 0 and slop_semantics == "lucene":
            from .sloppy import lucene_sloppy_freq

            cand = None
            for kj in sets:
                u = np.unique(kj // _STRIDE)
                cand = u if cand is None else np.intersect1d(
                    cand, u, assume_unique=True)
            pf = np.zeros(len(cand), dtype=np.float64)
            for ci, dloc in enumerate(cand):
                lo_key, hi_key = dloc * _STRIDE, (dloc + 1) * _STRIDE
                pls = []
                for kj in sets:
                    a, bnd = np.searchsorted(kj, (lo_key, hi_key))
                    pls.append(kj[a:bnd] - lo_key - m)
                pf[ci] = lucene_sloppy_freq(pls, slop)
            keep = pf > 0.0
            cand, pf = cand[keep].astype(np.int64), pf[keep]
        elif slop > 0:
            anchors = sets[0]
            ml = np.zeros(len(anchors), dtype=np.float64)
            for kj in sets[1:]:
                idx = np.searchsorted(kj, anchors)
                left = np.abs(anchors - kj[np.clip(idx - 1, 0, len(kj) - 1)])
                right = np.abs(kj[np.clip(idx, 0, len(kj) - 1)] - anchors)
                ml += np.minimum(left, right).astype(np.float64)
            w = np.where(ml <= slop, 1.0 / (1.0 + ml), 0.0)
            keep = w > 0.0
            cand, inv = np.unique((anchors[keep] // _STRIDE)
                                  .astype(np.int64), return_inverse=True)
            pf = np.bincount(inv, weights=w[keep])
        else:
            keys = sets[0]
            for kj in sets[1:]:
                keys = np.intersect1d(keys, kj, assume_unique=True)
                if len(keys) == 0:
                    return _NO_HITS
            cand, pf = np.unique((keys // _STRIDE).astype(np.int64),
                                 return_counts=True)
        dlv = dl[cand]
        ok = dlv >= 0
        return cand[ok], _saturate(idf, pf[ok].astype(np.float64),
                                   dlv[ok], k1, b, avgdl)

    return _segment_scan(reader, sorted({t for off in offsets for t in off}),
                         _POSITIONAL_COLS, kernel, filter_cond, k)


def match_phrase_topk_indexed(
    reader: IndexReader,
    phrase: str,
    k: int = 10,
    filter_cond: Column | None = None,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    slop: int = 0,
    slop_semantics: str = "anchor",
) -> DataFrame:
    """Scored ``match_phrase`` via positional postings (Lucene
    PhraseQuery over the positions index): reads ONLY the phrase
    terms' posting blocks + positions instead of re-analyzing the
    corpus per query (the brute-force path's cost).  Score-identical
    to ``brute_force.match_phrase_topk``: tf = positional phrase
    frequency, weight = Σ idf over phrase positions, BM25 saturation.

    ``slop > 0`` switches to the sloppy anchor-nearest semantics of
    :func:`~anomaly_detection_spark.query.brute_force.
    sloppy_phrase_freq`; ``slop_semantics="lucene"`` to the
    reference-exact SloppyPhraseScorer sweep (distinct terms only) —
    each score-identical to its brute-force twin (see
    :func:`_phrase_topk`)."""
    if slop_semantics not in ("anchor", "lucene"):
        raise ValueError(
            f"slop_semantics must be 'anchor' or 'lucene': "
            f"{slop_semantics!r}")
    terms = tokenize_query(phrase)
    if slop > 0 and slop_semantics == "lucene":
        from .sloppy import require_distinct

        require_distinct(terms)
    _require_positions(reader, "scored match_phrase")
    if not terms:
        return local_df(reader.spark, [], _HITS)
    return _phrase_topk(reader, [[t] for t in terms],
                        reader.term_dfs(sorted(set(terms))), k,
                        filter_cond, k1, b, slop, slop_semantics)


def match_phrase_prefix_topk_indexed(
    reader: IndexReader,
    phrase: str,
    k: int = 10,
    filter_cond: Column | None = None,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    max_expansions: int = 50,
) -> DataFrame:
    """Scored ``match_phrase_prefix`` over positional postings (Lucene
    MultiPhraseQuery): the trailing prefix expands to the first
    ``max_expansions`` dictionary terms, which share the last phrase
    offset; the other offsets are the exact terms.  tf and the blended
    idf (the max df of the expansions) match the brute-force twin
    ``brute_force.match_phrase_prefix_topk`` exactly."""
    _require_positions(reader, "scored match_phrase_prefix")
    terms = tokenize_query(phrase)
    if not terms:
        return local_df(reader.spark, [], _HITS)
    exps = reader.term_dfs(F.col("term").startswith(terms[-1]),
                           limit=max_expansions)
    if not exps:
        return local_df(reader.spark, [], _HITS)
    dfs = {**reader.term_dfs(set(terms[:-1])), **exps}
    return _phrase_topk(reader, [[t] for t in terms[:-1]] + [list(exps)],
                        dfs, k, filter_cond, k1, b)


def multi_match_topk_indexed(
    readers: dict[str, IndexReader],
    query_text: str,
    fields: list[str],
    k: int = 10,
    match_type: str = "best_fields",
    tie_breaker: float = 0.0,
    filter_cond: Column | None = None,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
) -> DataFrame:
    """``multi_match`` over per-field posting indexes: each field is
    scored with its OWN index's corpus statistics (n_docs, avgdl, df —
    exactly one Lucene field index per field, like the brute-force
    twin) via :func:`bm25_scores_indexed`, then combined best_fields /
    most_fields.  No corpus re-analysis: per field, only the query
    terms' posting blocks are read."""
    from .brute_force import combine_field_scores

    missing = [f for f in fields if f not in readers]
    if missing:
        raise ValueError(
            f"multi_match over an index target needs one IndexReader "
            f"per field; missing {missing}")
    frames = [bm25_scores_indexed(readers[f], query_text,
                                  filter_cond=filter_cond, k1=k1, b=b)
              for f in fields]
    return combine_field_scores(frames, match_type, tie_breaker,
                                id_col="docid", k=k)


def _span_docs(reader: IndexReader, uniq: list[str],
               filter_cond: Column | None, candidates, matches) -> DataFrame:
    """Docids matching a span kernel over the positional postings of
    ``uniq``.  Per segment, ``candidates(occ)`` narrows the docs from
    the (docid, position)-ordered occurrences (None: no doc can match)
    and ``matches(positions)`` decides each candidate from its per-term
    position lists."""
    cname = codec_name(reader.meta.codec)
    dec = BLOB_DECODERS[cname]

    def kernel(p: pd.DataFrame, dl: np.ndarray, seg_base: int):
        occ = _decode_occurrences(p, seg_base, dec, cname, ordered=True)
        cand = candidates(occ)
        if cand is None:
            return _NO_HITS[0]
        hits = []
        for doc in cand[dl[cand] >= 0]:
            positions = {}
            for t, (loc, ps) in occ.items():
                a = np.searchsorted(loc, doc, side="left")
                z = np.searchsorted(loc, doc, side="right")
                positions[t] = ps[a:z]
            if matches(positions):
                hits.append(doc)
        return np.asarray(hits, dtype=np.int64)

    return _segment_scan(reader, uniq, _POSITIONAL_COLS, kernel,
                         filter_cond, scored=False)


def span_near_docs_indexed(
    reader: IndexReader,
    terms: list[str],
    slop: int = 0,
    in_order: bool = True,
    end: int | None = None,
    filter_cond: Column | None = None,
) -> DataFrame:
    """Docids matching a span_near/span_first over the positional
    postings (matching only — span scoring is out of subset).  Reads
    ONLY the clause terms' posting blocks + positions; candidate docs
    are pre-narrowed to those carrying every clause term with the
    required multiplicity before the per-doc span kernel runs
    (``functions/spans.py`` algorithms, identical to the brute path).

    Cost is bounded by the rarest clause term's postings — the same
    posture as the phrase kernels; never a corpus re-analysis."""
    from ..functions.spans import _ordered_match, _unordered_match

    _require_positions(reader, "span queries")
    if not terms:
        return local_df(reader.spark, [], _DOCIDS)
    req = Counter(terms)
    uniq = sorted(req)
    dfs = reader.term_dfs(uniq)
    if any(t not in dfs for t in uniq):
        return local_df(reader.spark, [], _DOCIDS)
    terms_l, slop_i = list(terms), int(slop)

    def candidates(occ: dict):
        if any(t not in occ for t in uniq):
            return None
        # docs with enough occurrences of every clause term
        cand = None
        for t, c in req.items():
            docs_t, counts_t = np.unique(occ[t][0], return_counts=True)
            ok = docs_t[counts_t >= c]
            cand = ok if cand is None else np.intersect1d(
                cand, ok, assume_unique=True)
        return cand

    def matches(positions: dict) -> bool:
        if in_order:
            return _ordered_match([positions[t] for t in terms_l],
                                  slop_i, end)
        return _unordered_match(terms_l, positions, slop_i, end)

    return _span_docs(reader, uniq, filter_cond, candidates, matches)


def _expand_span_preds(reader: IndexReader, node: dict,
                       max_expansions: int) -> dict:
    """Expand span_multi pred nodes against the term DICTIONARY
    (SpanMultiTermQueryWrapper's rewrite): per pred, a cheap codegen
    pre-filter narrows the dictionary scan (startswith for prefix and
    for wildcard's literal prefix, a length window for fuzzy), the
    exact Python matcher — the SAME one the brute path uses — decides
    driver-side, and expansions past ``max_expansions`` raise
    (Lucene's TooManyClauses posture, default 1024 =
    indices.query.bool.max_clause_count)."""
    from ..functions.spans import pred_matcher, rewrite_preds, tree_preds

    preds = tree_preds(node)
    if not preds:
        return node
    exps: list[list[str]] = []
    for p in preds:
        cond = F.lit(True)
        if p["kind"] == "prefix":
            cond = F.col("term").startswith(p["val"].lower())
        elif p["kind"] == "wildcard":
            lit = p["val"].lower().split("*")[0].split("?")[0]
            if lit and "\\" not in lit:
                cond = F.col("term").startswith(lit)
        elif p["kind"] == "fuzzy":
            me = int(p["max_edits"])
            cond = F.length("term").between(
                len(p["val"]) - me, len(p["val"]) + me)
        cand = pd.Series(list(reader.term_dfs(cond)), dtype="object")
        matched = (sorted(cand[pred_matcher(p)(cand)])
                   if len(cand) else [])
        if len(matched) > max_expansions:
            raise ValueError(
                f"span_multi {p['kind']} {p['val']!r} expands to "
                f"{len(matched)} terms > max_expansions "
                f"{max_expansions} (TooManyClauses)")
        exps.append(matched)
    return rewrite_preds(node, iter(exps))


def span_tree_docs_indexed(
    reader: IndexReader,
    node: dict,
    filter_cond: Column | None = None,
    max_expansions: int = 1024,
) -> DataFrame:
    """Docids matching a compound span tree (span_or / span_not /
    span_containing / span_within / span_multi, ``functions/spans.py``
    enum kernel) over the positional postings.  Reads ONLY the tree's
    terms' posting blocks; candidates are docs carrying at least one
    tree term (the per-doc kernel decides exactly) — a superset
    narrowing, still bounded by the tree terms' postings, never a
    corpus re-analysis.  span_multi preds are expanded against the
    term dictionary first (:func:`_expand_span_preds`)."""
    from ..functions.spans import enum_spans, tree_leaf_fields, tree_terms

    _require_positions(reader, "span queries")
    if tree_leaf_fields(node) - {None}:
        raise ValueError(
            "field_masking_span trees mix fields — a single-field "
            "postings index cannot serve them; use the brute path "
            "(compile_filter / span_tree_match_expr_fields)")
    node = _expand_span_preds(reader, node, max_expansions)
    uniq = sorted(tree_terms(node))
    if not uniq:
        return local_df(reader.spark, [], _DOCIDS)
    node_l = dict(node)

    def candidates(occ: dict):
        # docs holding any tree term; the enum kernel decides exactly
        return (np.unique(np.concatenate([loc for loc, _ in occ.values()]))
                if occ else None)

    return _span_docs(reader, uniq, filter_cond, candidates,
                      lambda positions: len(enum_spans(positions,
                                                       node_l)) > 0)


def fetch_docs(reader: IndexReader, topk: DataFrame) -> DataFrame:
    """Join top-k hits back to their stored identity/filter columns —
    the ``_source`` fetch path (broadcast: top-k is tiny)."""
    return (
        F.broadcast(topk)
        .join(reader.doc_stats(), "docid")
        .orderBy(F.desc("score"), F.asc("docid"))
    )


def term_doc_tfs(reader: IndexReader, terms: list[str]) -> DataFrame:
    """(term, docid, tf) triples decoded from the posting lists of
    ``terms`` — the building block for merged-statistics scoring
    (combined_fields) and explain, bounded by those terms' postings
    only."""
    dec = BLOB_DECODERS[codec_name(reader.meta.codec)]
    posts = (reader.postings().filter(F.col("term").isin(list(terms)))
             .select("term", "first_docid", "gaps", "tfs"))

    def _expand(it):
        for pdf in it:
            ds = [dec(bytes(gaps)).cumsum() + int(first)
                  for first, gaps in zip(pdf["first_docid"], pdf["gaps"])]
            fs = [dec(bytes(tfs)) for tfs in pdf["tfs"]]
            yield pd.DataFrame({
                "term": np.repeat(pdf["term"].to_numpy(dtype=object),
                                  [len(d) for d in ds]),
                "docid": np.concatenate(ds or [[]]).astype("int64"),
                "tf": np.concatenate(fs or [[]]).astype("int64")})

    return posts.mapInPandas(_expand, schema="term string, docid long, tf long")
