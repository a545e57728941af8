"""The two workloads: ingest (the index write path) and serve (the read
traffic of a detector deployment).

Every workload drives the package's public API from one client in a
closed loop: the next operation starts when the previous one returns.
The operation mix of a round is fixed, so the seed changes which terms,
entities and time windows are used but never the proportions of
operation kinds; medians and percentiles stay comparable across seeds.

Each workload provides

* ``setup(dir)``: builds its state from nothing under ``dir`` (once,
  untimed, for the run; then timed and repeated by the runner for
  ``setup_s``);
* ``prepare()``: untimed work on the run's set-up before warm-up;
* ``warmup()``: operations that are run and discarded before timing;
* ``round()``: the fixed list of ``(kind, operation)`` pairs the timed
  loop cycles through;
* ``verify()``: correctness checks after the timed loop; returns the
  number of operations whose answer was wrong;
* ``details()``: the workload's own named results;
* ``micro()``: layer measurements made only in the traced run.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

from anomaly_detection_spark.data import (assign_docids, generate_transcripts,
                                          topic_words)
from anomaly_detection_spark.detector import (Detector, preview,
                                              run_once_stateful)
from anomaly_detection_spark.functions.codecs import decode_postings
from anomaly_detection_spark.functions.tokenizer import (tokenize_query,
                                                         tokenize_texts)
from anomaly_detection_spark.index import (append_index, build_index,
                                           merge_segments, read_meta)
from anomaly_detection_spark.query import (IndexReader, analyze_docs,
                                           bm25_topk_bruteforce,
                                           bm25_topk_indexed, run_aggs)
from anomaly_detection_spark.query.planner import compile_filter, search
from tracing import median0

# Corpus size in turns.  Small enough that every operation is dominated by
# the engine's per-job costs and a run fits the benchmark's time budget;
# all working sets fit in the OS page cache.
N_TURNS = 8_000
# Corpora are drawn from this many recorded generator seeds, each with a
# fingerprint in fingerprints.json.
N_CORPORA = 16
DELTA_TURNS = 500
N_DELTAS = 2
HOUR_MS = 3_600_000
# 2025-06-01T00:00:00Z, the generator's first timestamp
BASE_MS = 1_748_736_000_000
FINGERPRINTS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "fingerprints.json")
# the 16 most frequent words of the generator's vocabulary: every posting
# bucket holds them, so the pruning gate turns block-max pruning off
HOT_WORDS = ("the a to and of in it is you that for on with as this have"
             .split())
# Block-max pruning is considered only on a segment whose query terms have
# at least this many posting blocks (query.index_search._score_segment).
# An 8k-turn index has two segments and one block per term in each, so the
# scored bodies that must reach the pruning code carry 16 terms.
PRUNE_MIN_BLOCKS = 16


def corpus_seed(seed: int) -> int:
    return seed % N_CORPORA


def write_corpus(spark, seed: int, path: str, tracer,
                 n_turns: int = N_TURNS) -> None:
    with tracer.span("data.generate"):
        docs = assign_docids(
            generate_transcripts(spark, n_turns, seed=corpus_seed(seed)))
        docs.write.parquet(path)


def fingerprint(df) -> str:
    """Order-independent hash of every row: count and two 32-bit sums."""
    h = F.xxhash64(*df.columns)
    row = df.agg(F.count("*"),
                 F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))),
                 F.sum(F.shiftrightunsigned(h, 32))).first()
    return f"{row[0]}:{row[1]}:{row[2]}"


def check_fingerprint(spark, seed: int, path: str) -> None:
    with open(FINGERPRINTS) as f:
        want = json.load(f)[str(corpus_seed(seed))]
    got = fingerprint(spark.read.parquet(path))
    if got != want:
        raise SystemExit(
            f"corpus for generator seed {corpus_seed(seed)} changed: "
            f"fingerprint {got}, recorded {want}")


def dir_bytes(path: str, parquet_only: bool = False) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            if parquet_only and not name.endswith(".parquet"):
                continue
            total += os.path.getsize(os.path.join(root, name))
    return total


def serving_bytes(index_dir: str) -> int:
    """Parquet bytes of the tables a query reads.  Lineage, metrics.jsonl
    and checkpoints embed wall-clock values and are left out, so the count
    is an exact function of the corpus."""
    return sum(dir_bytes(os.path.join(index_dir, t), True)
               for t in ("postings", "doc_stats", "doc_norms", "term_stats"))


def text_bytes(df) -> int:
    return df.agg(F.sum(F.octet_length("text"))).first()[0]


def iso(ms: int) -> str:
    return dt.datetime.fromtimestamp(ms / 1e3, dt.timezone.utc) \
        .strftime("%Y-%m-%dT%H:%M:%SZ")


def match_text(body: dict) -> str:
    """The scored text of a ``match`` body, bare or as a bool ``must``."""
    q = body["query"]
    return (q["match"] if "match" in q
            else q["bool"]["must"][0]["match"])["text"]


def pct(values: list[float], q: float) -> float:
    return float(np.percentile(values, q)) if values else float("nan")


class Workload:
    name = ""

    def __init__(self, spark, seed: int, run_dir: str, tracer):
        self.spark = spark
        self.seed = seed
        self.rng = random.Random(seed)
        self.run_dir = run_dir
        self.tracer = tracer
        self.samples: dict[str, list[float]] = {}

    def setup(self, d: str) -> None:
        """The timed set-up: generate the seeded corpus under ``d``."""
        self.corpus = os.path.join(d, "corpus")
        write_corpus(self.spark, self.seed, self.corpus, self.tracer)

    def record(self, kind: str, ms: float) -> None:
        self.samples.setdefault(kind, []).append(ms)

    def round(self) -> list:
        raise NotImplementedError

    def after(self, kind: str, counts: dict) -> None:
        """Untimed bookkeeping after each operation."""

    def warmup(self, rounds: int = 1) -> None:
        for _ in range(rounds):
            for kind, fn in self.round():
                fn({})
                self.after(kind, {})

    def layer_counts(self) -> dict[str, float]:
        return {}

    def micro(self) -> dict[str, float]:
        """tokenize_texts rate over corpus texts and decode_postings rate
        over blocks of the workload's last-built index."""
        texts = self.spark.read.parquet(self.corpus) \
            .select("text").limit(4000).toPandas()["text"]
        blocks = self.spark.read.parquet(self.index_dir + "/postings") \
            .select("gaps", "tfs", "first_docid", "n") \
            .limit(4000).toPandas()
        out = {}
        n, t0 = 0, time.perf_counter()
        while time.perf_counter() - t0 < 0.5:
            tokenize_texts(texts)
            n += len(texts)
        out["functions.tokenize_turns_per_s"] = n / (time.perf_counter() - t0)
        rows = list(zip(blocks.gaps, blocks.tfs, blocks.first_docid))
        n, t0 = 0, time.perf_counter()
        while time.perf_counter() - t0 < 0.5:
            for gaps, tfs, base in rows:
                n += len(decode_postings(gaps, tfs, int(base))[0])
        out["functions.decode_postings_per_s"] = n / (time.perf_counter() - t0)
        return out


# --------------------------------------------------------------------------
# ingest
# --------------------------------------------------------------------------


class Ingest(Workload):
    """Bulk build of the corpus, fixed-size appends, then a merge, each
    cycle into a fresh directory.  Runs no query code in the timed loop."""

    name = "ingest"

    def prepare(self) -> None:
        """Untimed facts about the final set-up's corpus.  The bulk part
        is every docid below ``n_base``; the deltas follow it."""
        self.n_docs = self.spark.read.parquet(self.corpus).count()
        self.n_base = self.n_docs - N_DELTAS * DELTA_TURNS
        self.text_bytes = text_bytes(self._slice(0, self.n_base))
        self.cycle = 0
        self.cycle_dirs: list[str] = []
        self.bytes_per_text_byte: list[float] = []
        self.n_docs_after_append: list[int] = []
        self.segments: list[int] = []
        self.segments_after_merge: list[int] = []
        self.postings_bytes: list[int] = []
        self.merge_bytes: list[int] = []

    def _slice(self, lo: int, hi: int):
        """The corpus rows with ``lo <= docid < hi``, read from parquet."""
        return self.spark.read.parquet(self.corpus) \
            .filter((F.col("docid") >= lo) & (F.col("docid") < hi))

    def _new_cycle(self) -> None:
        # keep only the previous cycle for the probe check
        while len(self.cycle_dirs) > 1:
            shutil.rmtree(self.cycle_dirs.pop(0), ignore_errors=True)
        d = os.path.join(self.run_dir, "cycles", str(self.cycle))
        self.cycle += 1
        self.cycle_dirs.append(d)
        self.index_dir = os.path.join(d, "index")
        self.merged_dir = os.path.join(d, "merged")

    def _build(self) -> None:
        self._new_cycle()
        build_index(self._slice(0, self.n_base), self.index_dir)

    def _append(self, i: int) -> None:
        lo = self.n_base + i * DELTA_TURNS
        append_index(self._slice(lo, lo + DELTA_TURNS), self.index_dir)
        self.appended = i + 1

    def _merge(self) -> None:
        merge_segments(self.spark, self.index_dir, self.merged_dir, factor=4)

    def after(self, kind: str, counts: dict) -> None:
        if kind == "build":
            self.bytes_per_text_byte.append(
                serving_bytes(self.index_dir) / self.text_bytes)
        elif kind == "append" and self.appended == N_DELTAS:
            meta = read_meta(self.index_dir)
            self.n_docs_after_append.append(meta.n_docs)
            self.segments.append(-(-meta.n_docs // meta.seg_size))
            self.postings_bytes.append(
                dir_bytes(os.path.join(self.index_dir, "postings"), True))
        elif kind == "merge":
            meta = read_meta(self.merged_dir)
            self.segments_after_merge.append(-(-meta.n_docs // meta.seg_size))
            self.merge_bytes.append(
                dir_bytes(os.path.join(self.merged_dir, "postings"), True))

    def round(self):
        return ([("build", lambda c: self._build())]
                + [("append", lambda c, i=i: self._append(i))
                   for i in range(N_DELTAS)]
                + [("merge", lambda c: self._merge())])

    def verify(self) -> int:
        bad = sum(n != self.n_docs for n in self.n_docs_after_append)
        # the serving bytes are an exact function of the corpus
        bad += sum(v != self.bytes_per_text_byte[0]
                   for v in self.bytes_per_text_byte)
        probe = " ".join(HOT_WORDS[:1] + topic_words(self.rng.randrange(8))[:1])
        before = bm25_topk_indexed(
            IndexReader(self.spark, self.index_dir), probe, k=20).collect()
        after = bm25_topk_indexed(
            IndexReader(self.spark, self.merged_dir), probe, k=20).collect()
        bad += [tuple(r) for r in before] != [tuple(r) for r in after]
        return int(bad)

    def index_bytes_per_text_byte(self) -> float:
        return self.bytes_per_text_byte[0]

    def details(self) -> dict:
        builds = self.samples.get("build", [])
        appends = self.samples.get("append", [])
        return {
            "build_turns_per_s": (self.n_base / (statistics.median(builds) / 1e3)
                                  if builds else float("nan")),
            "append_p50_ms": pct(appends, 50),
            "merge_ms": pct(self.samples.get("merge", []), 50),
        }

    def layer_counts(self) -> dict[str, float]:
        return {"index.segments": median0(self.segments),
                "index.postings_bytes": median0(self.postings_bytes),
                "index.segments_after_merge": median0(self.segments_after_merge),
                "index.merge_bytes_rewritten": median0(self.merge_bytes)}


# --------------------------------------------------------------------------
# serve
# --------------------------------------------------------------------------


class Serve(Workload):
    """The read traffic of a detector deployment, one client in a closed
    loop: ``planner.search`` bodies against an index built before timing,
    detector-feature ``run_aggs`` bodies over the raw table, and
    ``run_once_stateful`` ticks that advance one interval and checkpoint
    the detector state.  Builds no index inside the timed loop."""

    name = "serve"

    def prepare(self) -> None:
        self.index_dir = os.path.join(self.run_dir, "index")
        docs = self.spark.read.parquet(self.corpus)
        build_index(docs, self.index_dir)
        self._bytes_ratio = serving_bytes(self.index_dir) / text_bytes(docs)
        self.reader = IndexReader(self.spark, self.index_dir)
        self.state_dir = os.path.join(self.run_dir, "state")
        os.makedirs(self.state_dir)

        rng = self.rng
        # Words of topics 8..31 cluster in a few conversations, so the
        # pruning gate keeps the block-max loop on.  Only words with
        # postings in every segment are used, so that each segment sees
        # one block per query term.  With one block per term and segment
        # that loop cannot skip a block decode at this corpus size; it
        # skips candidate buckets.
        candidates = [w for t in rng.sample(range(8, 32), 24)
                      for w in topic_words(t)]
        everywhere = self._terms_in_every_segment(candidates)
        topical = [w for w in candidates if w in everywhere][:16]
        hot = rng.sample(HOT_WORDS, len(HOT_WORDS))
        day = rng.randrange(5)
        lo = BASE_MS + day * 24 * HOUR_MS
        ts_range = {"range": {"ts": {"gte": iso(lo),
                                     "lt": iso(lo + 48 * HOUR_MS)}}}
        role = {"term": {"role": rng.choice(["user", "assistant"])}}
        self.bodies = {
            # scored, 16 selective topical terms: block-max pruning runs
            "selective": {"query": {"match": {"text": " ".join(topical)}},
                          "size": 10},
            "filtered": {"query": {"bool": {
                "must": [{"match": {"text": f"{topical[0]} {hot[2]}"}}],
                "filter": [role, ts_range]}}, "size": 10},
            "filter_only": {"query": {"bool": {"filter": [role, ts_range]}},
                            "size": 10},
            # scored, 16 hot terms (the gate turns pruning off), paged
            "page": {"query": {"match": {"text": " ".join(hot)}},
                     "from": 10 * rng.randint(1, 3), "size": 10,
                     "_source": True},
        }

        self.det = Detector(
            detector_id="perfbench", indices=self.corpus,
            feature_specs={"turns": {"value_count": {"field": "turn_idx"}},
                           "avg_turn": {"avg": {"field": "turn_idx"}}},
            time_field="ts", interval_ms=HOUR_MS,
            category_fields=("role",), shingle_size=3)
        self.hour = 0
        self.tick_rows: list = []
        per_bucket = {"convs": {"cardinality": {"field": "conv_id"}},
                      "avg_turn": {"avg": {"field": "turn_idx"}}}
        hist = {"date_histogram": {"field": "ts", "fixed_interval": "1h"},
                "aggs": per_bucket}
        self.feature_body = {
            "query": {"bool": {"filter": [
                {"match": {"text": rng.choice(topical)}}, ts_range]}},
            "aggs": {"per_role": {"terms": {"field": "role"},
                                  "aggs": {"hist": hist}},
                     "tools": {"terms": {"field": "tool", "size": 5}}}}
        self.first: dict = {}
        self.mismatched_repeats = 0
        self.blocks = self._min_blocks_per_segment()
        for kind in ("selective", "page"):
            if self.blocks[kind] < PRUNE_MIN_BLOCKS:
                raise SystemExit(
                    f"serve: the {kind!r} body reaches only "
                    f"{self.blocks[kind]} posting blocks in some segment, "
                    f"fewer than the {PRUNE_MIN_BLOCKS} that block-max "
                    f"pruning needs")

    def _terms_in_every_segment(self, terms: list[str]) -> set[str]:
        meta = read_meta(self.index_dir)
        n_segs = -(-meta.n_docs // meta.seg_size)
        rows = self.spark.read.parquet(self.index_dir + "/postings") \
            .filter(F.col("term").isin(terms)).groupBy("term") \
            .agg(F.countDistinct("seg_id").alias("n")).collect()
        return {r["term"] for r in rows if r["n"] == n_segs}

    def _min_blocks_per_segment(self) -> dict[str, int]:
        """Per scored body, the fewest posting blocks its terms have in
        any segment: the ``posts`` rows one segment's scoring sees."""
        meta = read_meta(self.index_dir)
        n_segs = -(-meta.n_docs // meta.seg_size)
        terms = {kind: set(tokenize_query(match_text(body)))
                 for kind, body in self.bodies.items()
                 if kind != "filter_only"}
        blocks = self.spark.read.parquet(self.index_dir + "/postings") \
            .filter(F.col("term").isin(sorted(set().union(*terms.values())))) \
            .groupBy("seg_id", "term").count().collect()
        out = {}
        for kind, ts in terms.items():
            per_seg = [sum(r["count"] for r in blocks
                           if r["seg_id"] == seg and r["term"] in ts)
                       for seg in range(n_segs)]
            out[kind] = min(per_seg)
        return out

    def _same_as_first(self, key, result) -> None:
        if key not in self.first:
            self.first[key] = result
        elif result != self.first[key]:
            self.mismatched_repeats += 1

    def _query(self, kind: str) -> None:
        df = search(self.reader, self.bodies[kind])
        layer = "planner.exec" if kind == "filter_only" else "index_search.exec"
        with self.tracer.span(layer):
            rows = [tuple(r) for r in df.collect()]
        self._same_as_first(kind, rows)

    def _tick(self, counts: dict) -> None:
        now_ms = BASE_MS + (self.hour + 1) * HOUR_MS
        self.hour += 1
        with self.tracer.span("detector.tick"):
            df = run_once_stateful(self.spark, self.det, now_ms, self.state_dir)
            with self.tracer.span("detector.exec"):
                rows = df.collect()
        self.tick_rows.extend(rows)
        counts["detector.entities_scored"] = len(rows)

    def _feature_query(self, counts: dict) -> None:
        res = run_aggs(self.spark.read.parquet(self.corpus), self.feature_body)
        with self.tracer.span("aggs.exec"):
            out = {k: sorted((tuple(r) for r in v.collect()), key=repr)
                   for k, v in sorted(res.items())}
        counts["aggs.buckets"] = sum(len(v) for v in out.values())
        self._same_as_first("feature_query", out)

    def after(self, kind: str, counts: dict) -> None:
        if kind == "tick" and self.tracer.enabled:
            counts["detector.state_bytes_written"] = dir_bytes(
                os.path.join(self.state_dir, self.det.detector_id), True)

    def round(self):
        q = [(k, lambda c, k=k: self._query(k)) for k in self.bodies]
        return [q[0], ("tick", self._tick), q[1],
                ("feature_query", self._feature_query), q[2], q[3]]

    def index_bytes_per_text_byte(self) -> float:
        return self._bytes_ratio

    def warmup(self) -> None:
        super().warmup()
        # fill the detector's shingle windows so timed ticks score
        while self.hour < self.det.shingle_size:
            self._tick({})

    def verify(self) -> int:
        bad = self.mismatched_repeats
        bad += self._verify_search()
        # make sure some scored rows exist to compare
        while not self.tick_rows and self.hour < 4 * self.det.shingle_size:
            self._tick({})
        want = {(r["role"], r["bucket_start"]): r
                for r in preview(self.spark, self.det).collect()}
        for r in self.tick_rows:
            w = want.get((r["role"], r["bucket_start"]))
            bad += w is None or any(
                abs(r[c] - w[c]) > 1e-9
                for c in ("turns", "avg_turn", "anomaly_score",
                          "anomaly_grade", "confidence"))
        return int(bad) + (not self.tick_rows)

    def _verify_search(self) -> int:
        bad = 0
        docs = self.spark.read.parquet(self.corpus)
        # tokenized once for every reference query
        analyzed = analyze_docs(docs).persist()
        for kind, body in self.bodies.items():
            got = self.first[kind]
            q = body["query"]
            if kind == "filter_only":
                cond = compile_filter(docs, q)
                total = docs.filter(cond).count()
                ids = [r[0] for r in got]
                ok = docs.filter(cond & F.col("docid").isin(ids)).count()
                bad += not (len(got) == min(total, body["size"])
                            == ok == len(set(ids)))
                continue
            filt = q.get("bool", {}).get("filter")
            cond = (compile_filter(analyzed, {"bool": {"filter": filt}})
                    if filt else None)
            start = body.get("from", 0)
            want = bm25_topk_bruteforce(analyzed, match_text(body),
                                        k=start + body["size"],
                                        filter_cond=cond).collect()[start:]
            bad += not (
                len(want) == len(got)
                and all(w["docid"] == g[0] and abs(w["score"] - g[1])
                        <= 1e-9 * max(1.0, abs(w["score"]))
                        for w, g in zip(want, got)))
        analyzed.unpersist()
        return bad

    def details(self) -> dict:
        lat = [v for k, vs in self.samples.items() if k in self.bodies
               for v in vs]
        t = self.samples.get("tick", [])
        f = self.samples.get("feature_query", [])
        return {"query_p50_ms": pct(lat, 50), "query_p90_ms": pct(lat, 90),
                "tick_p50_ms": pct(t, 50), "tick_p90_ms": pct(t, 90),
                "feature_query_p50_ms": pct(f, 50),
                "feature_query_p90_ms": pct(f, 90),
                "min_blocks_per_segment": self.blocks}


WORKLOADS = {w.name: w for w in (Ingest, Serve)}
