"""HC entity-model cache policy: which entities hold hosted models.

The reference bounds how many per-entity models a node keeps in heap
(timeseries/caching/PriorityCache.java) and decides, per interval,
which cache-miss entities are worth (cold-)starting a model for:

* a **door keeper** (DoorKeeper.java, the TinyLFU doorkeeper idea,
  arXiv:1512.00727) drops entities on their first few appearances so
  one-off entities never cost a model,
* a **time-decayed frequency priority** per entity
  (PriorityTracker.java — accumulated ``log`` sum of ``g(i-L) =
  e^{0.125 (i-L)}`` over hit periods ``i`` since landmark ``L``,
  stored in log space) ranks entities,
* a **dedicated + shared budget** (CacheBuffer.java dedicated slots =
  AD_DEDICATED_CACHE_SIZE default 10; shared slots bounded by
  MemoryTracker's per-model byte estimate) is filled first-come, then
  by **replacement**: a candidate whose priority is strictly greater
  than the minimum hosted priority evicts that minimum
  (CacheBuffer.canReplaceWithinConfig, PriorityCache.java:280-326).

The Spark analog keeps the cache state (doorkeeper count + priority +
hosted flag per entity) in a small parquet table next to the detector
state; the per-interval decision is one DataFrame pass.  The only
non-distributed step — pairing ranked candidates with ranked victims —
runs on frames pre-truncated to the model budget (``limit(slots)``),
which is bounded by available memory by definition: the same
boundedness the reference's in-heap cache enjoys.

Divergences, documented:

* the reference fills free slots in composite-agg page order (an
  arbitrary arrival order); we fill them in (priority desc, key asc)
  order — a deterministic refinement.
* the reference's doorkeeper is a Guava BloomFilter (false positives
  admit early); ours is an exact count column, so admission is exact.
* ``cold`` entities here simply produce no result this interval (the
  reference routes them to a rate-limited cold-entity worker whose
  results also arrive in later intervals).
* one cache table per detector; the cross-detector shared-cache
  replacement (PriorityCache.canReplaceInSharedCache) runs as a
  per-tick rebalance step (:func:`rebalance_shared_cache`) rather
  than inside each get() call — same fixed point (an entity is hosted
  iff its scaled priority ranks inside the shared pool after every
  detector's dedicated slots), applied once per interval.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from .index.storage import read_table
from .localdf import local_df

# TimeSeriesSettings.java:60 — doorkeeper resets every 60 intervals
EXPIRING_VALUE_MAINTENANCE_FREQ = 60
# TimeSeriesSettings.java:291 — an entity must have been seen once
# before (count >= 1) to be admitted on a later visit
CACHE_DOOR_KEEPER_COUNT_THRESHOLD = 1
# PriorityTracker.java:168 — decay g(n) = e^{n/8}; n>>3 increments
DECAY_SHIFT = 3
# AnomalyDetectorSettings.java:283 AD_DEDICATED_CACHE_SIZE default
DEDICATED_CACHE_SIZE = 10


@dataclass(frozen=True)
class CachePolicy:
    """Budget + admission knobs for :func:`admit_entities`.

    Total hosted-model slots = ``dedicated_cache_size`` plus
    ``shared_memory_bytes // model_bytes`` (MemoryTracker's
    canAllocate view of the shared cache, expressed in models).
    """

    dedicated_cache_size: int = DEDICATED_CACHE_SIZE
    shared_memory_bytes: int = 0
    model_bytes: int = 1  # per-model estimate; see estimate_trcf_model_size
    doorkeeper_count_threshold: int = CACHE_DOOR_KEEPER_COUNT_THRESHOLD
    doorkeeper_reset_intervals: int = EXPIRING_VALUE_MAINTENANCE_FREQ

    @property
    def slots(self) -> int:
        shared = self.shared_memory_bytes // max(1, self.model_bytes)
        return int(self.dedicated_cache_size + shared)


def priority_increment(now_ms: int, landmark_ms: int,
                       interval_ms: int) -> int:
    """PriorityTracker.computeWeightedPriorityIncrement: elapsed whole
    periods since the landmark, decayed by ``>> 3`` (i.e. ``0.125 n``
    in the exponent of ``g``)."""
    periods = (now_ms // 1000 - landmark_ms // 1000) // (interval_ms // 1000)
    return int(periods) >> DECAY_SHIFT


def updated_priority(priority, inc: int):
    """PriorityTracker.getUpdatedPriority as a codegen expression:
    ``p <- p + log(1 + e^{inc - p})`` (log-space accumulation of
    ``e^inc``), with the reference's overflow fallback ``p <- inc``.

    The reference stores float32 (overflow past ``inc - p > ~88``);
    in float64 the same expression is already ``== inc`` to the last
    bit at that magnitude, so behavior converges.  New entities enter
    at
    priority 0 before their first update (PriorityNode ctor).
    """
    p = F.coalesce(priority, F.lit(0.0))
    upd = p + F.log1p(F.exp(F.lit(float(inc)) - p))
    return F.when(upd == float("inf"), F.lit(float(inc))).otherwise(upd)


def scaled_priority(priority, inc: int):
    """PriorityTracker.getScaledPriority — comparable across detectors
    with different landmarks/intervals: ``p - inc(now)``."""
    return priority - F.lit(float(inc))


def update_priority_py(old: float | None, inc: int) -> float:
    """Driver-side twin of :func:`updated_priority` (for tests and
    single-entity callers)."""
    p = 0.0 if old is None else float(old)
    try:
        upd = p + math.log1p(math.exp(inc - p))
    except OverflowError:
        return float(inc)
    return float(inc) if upd == float("inf") else upd


def estimate_trcf_model_size(dimension: int, number_of_trees: int = 30,
                             bounding_box_cache_fraction: float = 1.0,
                             shingle_size: int = 8,
                             sample_size: int = 256) -> int:
    """MemoryTracker.estimateTRCFModelSize:255-300 — the byte estimate
    the reference divides the shared cache by.  Ported formula with
    the published constants (pointStoreSizeConstant table, NodeStore
    small/medium/large sizes)."""
    base_dimension = dimension / shingle_size
    if shingle_size == 1:
        psc = 1.0
    elif shingle_size == 2:
        psc = 0.53
    elif shingle_size <= 4:
        psc = 0.27
    elif shingle_size <= 8:
        psc = 0.18
    elif shingle_size <= 16:
        psc = 0.13
    elif shingle_size <= 32:
        psc = 0.07
    elif shingle_size <= 128:
        psc = 0.05
    else:
        raise ValueError(f"out of range shingle size {shingle_size}")
    capacity = sample_size * number_of_trees
    point_store_capacity = max(capacity + 1, 2 * sample_size)
    point_store_type_constant = (
        4 if shingle_size * point_store_capacity >= 0xFFFF else 2)
    bb_exists = 1 if bounding_box_cache_fraction > 0 else 0
    internal = sample_size - 1
    if internal < 256 and dimension <= 256:
        node_store = 10 * sample_size + 208
    elif internal < 65535 and dimension <= 65535:
        node_store = 16 * sample_size + 202
    else:
        node_store = 20 * sample_size + 198
    return int(
        152 * base_dimension + 4 * dimension * psc * capacity
        + 64 * dimension + point_store_type_constant * capacity
        + 4 * shingle_size + capacity
        + number_of_trees * (
            32 * bb_exists
            + 8 * bounding_box_cache_fraction * dimension * sample_size
            + 8 * bounding_box_cache_fraction * sample_size
            + node_store + 8 * sample_size + 352)
        + 3944)


def estimate_caster_model_size(dimension: int, number_of_trees: int,
                               bounding_box_cache_fraction: float,
                               shingle_size: int, sample_size: int,
                               horizon: int) -> int:
    """MemoryTracker.estimateCasterModelSize:333-345 — TRCF plus the
    forecaster's ErrorHandler buffers."""
    trcf = estimate_trcf_model_size(
        dimension, number_of_trees, bounding_box_cache_fraction,
        shingle_size, sample_size)
    b = dimension / shingle_size
    err = 176 * b * horizon + 28 * b + 12 * horizon * (b * horizon + 6) + 2556
    return int(trcf + err)


def _cache_path(state_dir: str, detector_id: str) -> str:
    return os.path.join(state_dir, detector_id + "__cache")


def _cache_schema(key_fields: list[T.StructField]) -> T.StructType:
    return T.StructType(list(key_fields) + [
        T.StructField("dk_count", T.LongType()),
        T.StructField("priority", T.DoubleType()),
        T.StructField("hosted", T.BooleanType()),
        T.StructField("landmark_ms", T.LongType()),
        T.StructField("dk_reset_ms", T.LongType()),
        # EntityCache.getLastActiveMs — feeds profile_entity's
        # entity_info and inactive-entry maintenance
        T.StructField("last_hit_ms", T.LongType()),
    ])


def admit_entities(spark: SparkSession, state_dir: str, detector_id: str,
                   present: DataFrame, hosted: DataFrame,
                   policy: CachePolicy, now_ms: int, interval_ms: int,
                   ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One interval of PriorityCache.get + selectUpdateCandidate.

    ``present``: distinct entity keys seen this interval.  ``hosted``:
    distinct entity keys currently holding a model (state rows).  Both
    share the same key columns.  Returns ``(hot, cold, evicted)`` —
    ``hot`` are present entities allowed to score this interval (cache
    hits that survived + admitted misses), ``cold`` are present
    entities deferred (doorkeeper-skipped or out-prioritized), and
    ``evicted`` are previously hosted entities whose model rows must
    be dropped.  The cache table is rewritten (tmp + swap).

    Each interval's math follows the reference's sequence: doorkeeper
    gate on misses (count below threshold → bump count, defer;
    PriorityCache.java:188-192), priority update for every admitted
    visit (log-sum-exp accumulation), free dedicated+shared slots
    filled first, then strict-greater replacement of minimum-priority
    hosted entities (CacheBuffer.canReplaceWithinConfig).
    """
    key_cols = [c for c in present.columns]
    cpath = _cache_path(state_dir, detector_id)
    key_fields = [f for f in present.schema.fields]
    schema = _cache_schema(key_fields)
    # a cache written before last_hit_ms existed reads it as null
    cache = read_table(spark, cpath, schema)
    meta = (cache.agg(F.min("landmark_ms"), F.min("dk_reset_ms")).first()
            if os.path.exists(cpath) else (None, None))
    landmark_ms = meta[0] if meta[0] is not None else now_ms
    dk_reset_ms = meta[1] if meta[1] is not None else now_ms
    # DoorKeeper.maintenance: whole-map reset every reset-interval
    if now_ms - dk_reset_ms >= (policy.doorkeeper_reset_intervals
                                * interval_ms):
        cache = cache.withColumn("dk_count", F.lit(0).cast("long"))
        dk_reset_ms = now_ms
    inc = priority_increment(now_ms, landmark_ms, interval_ms)

    hosted = hosted.select(*key_cols).distinct() \
        .withColumn("_hosted_now", F.lit(True))
    merged = (cache.drop("hosted")
              .join(present.select(*key_cols).distinct()
                    .withColumn("_present", F.lit(True)),
                    key_cols, "full_outer")
              .join(hosted, key_cols, "full_outer"))
    merged = (merged
              .withColumn("_present", F.coalesce("_present", F.lit(False)))
              .withColumn("_hosted_now",
                          F.coalesce("_hosted_now", F.lit(False)))
              .withColumn("dk_count",
                          F.coalesce("dk_count", F.lit(0).cast("long"))))
    # doorkeeper gate applies only to cache misses that are not hosted
    # (PriorityCache.get checks isActive to bypass a reset doorkeeper)
    below = (F.col("_present") & ~F.col("_hosted_now")
             & (F.col("dk_count") < policy.doorkeeper_count_threshold))
    admitted_visit = F.col("_present") & ~below
    merged = (merged
              .withColumn("_skipped", below)
              .withColumn("dk_count",
                          F.when(below, F.col("dk_count") + 1)
                          .otherwise(F.col("dk_count")))
              .withColumn("priority",
                          F.when(admitted_visit,
                                 updated_priority(F.col("priority"), inc))
                          .otherwise(F.col("priority"))))
    # a hosted entity always has a tracker entry in the reference; a
    # state table that predates the cache table enters at priority 0
    merged = merged.withColumn(
        "priority",
        F.when(F.col("_hosted_now") & F.col("priority").isNull(),
               F.lit(0.0)).otherwise(F.col("priority")))
    merged = merged.localCheckpoint()

    slots = policy.slots
    hosted_rows = merged.filter(F.col("_hosted_now"))
    hosted_n = hosted_rows.count()
    free = max(0, slots - hosted_n)
    cand = merged.filter(F.col("_present") & ~F.col("_hosted_now")
                         & ~F.col("_skipped"))
    # candidates beyond the total budget can never be admitted — the
    # ranked pairing below therefore runs on <= slots rows (bounded by
    # the model budget, like the reference's in-heap skip list)
    cand_top = (cand.select(*key_cols, "priority")
                .orderBy(F.col("priority").desc(), *key_cols)
                .limit(slots).toPandas())
    admitted_keys = [tuple(r[c] for c in key_cols)
                     for r in cand_top.head(free).to_dict("records")]
    rest = cand_top.iloc[free:]
    evicted_keys: list[tuple] = []
    if len(rest) and hosted_n:
        victims = (hosted_rows.select(*key_cols, "priority")
                   .orderBy(F.col("priority").asc(), *key_cols)
                   .limit(min(hosted_n, len(rest))).toPandas())
        # i-th strongest leftover candidate vs i-th weakest victim —
        # the fixed point of the reference's one-at-a-time
        # strict-greater replacement loop
        for i in range(min(len(rest), len(victims))):
            c = rest.iloc[i]
            v = victims.iloc[i]
            if c["priority"] > v["priority"]:
                admitted_keys.append(tuple(c[k] for k in key_cols))
                evicted_keys.append(tuple(v[k] for k in key_cols))
            else:
                break

    def _keys_df(keys: list[tuple]) -> DataFrame:
        return local_df(spark, keys, T.StructType(key_fields))

    admitted = _keys_df(admitted_keys)
    evicted = _keys_df(evicted_keys)
    hot = (merged.filter(F.col("_present") & F.col("_hosted_now"))
           .select(*key_cols).join(evicted, key_cols, "left_anti")
           .unionByName(admitted))
    cold = (merged.filter(F.col("_present")).select(*key_cols)
            .join(hot, key_cols, "left_anti"))

    new_hosted = (hosted.select(*key_cols)
                  .join(evicted, key_cols, "left_anti")
                  .unionByName(admitted)
                  .withColumn("_h", F.lit(True)))
    out = (merged.select(*key_cols, "dk_count", "priority",
                         F.when(F.col("_present"),
                                F.lit(now_ms).cast("long"))
                         .otherwise(F.col("last_hit_ms"))
                         .alias("last_hit_ms"))
           .join(new_hosted, key_cols, "left_outer")
           .withColumn("hosted", F.coalesce("_h", F.lit(False)))
           .withColumn("landmark_ms", F.lit(landmark_ms).cast("long"))
           .withColumn("dk_reset_ms", F.lit(dk_reset_ms).cast("long")))
    from .detector import _swap_state_dir

    _swap_state_dir(out, cpath, [f.name for f in schema.fields])
    return hot.localCheckpoint(), cold.localCheckpoint(), \
        evicted.localCheckpoint()


_CACHE_META_COLS = ("dk_count", "priority", "hosted", "landmark_ms",
                    "dk_reset_ms", "last_hit_ms")


def _drop_state_keys(spark: SparkSession, state_dir: str,
                     detector_id: str, keys: list[tuple],
                     key_fields: list[T.StructField]) -> None:
    """Drop the state rows (scalar AND joint layouts) of the given
    entity keys — the model-byte release of a shared-cache eviction."""
    from .detector import _state_path, _swap_state_dir

    key_cols = [f.name for f in key_fields]
    kdf = local_df(spark, keys, T.StructType(key_fields))
    for ident in (detector_id, f"{detector_id}__joint"):
        spath = _state_path(state_dir, ident)
        if not os.path.exists(spath):
            continue
        state = spark.read.parquet(spath)
        if not set(key_cols) <= set(state.columns):
            continue
        kept = state.join(kdf, key_cols, "left_anti").localCheckpoint()
        _swap_state_dir(kept, spath, state.columns)


def rebalance_shared_cache(
    spark: SparkSession, state_dir: str,
    configs: list[tuple[str, CachePolicy]],
    shared_memory_bytes: int, now_ms: int, interval_ms: int,
) -> tuple[dict[str, CachePolicy], dict]:
    """Cross-detector shared-cache arbitration —
    ``PriorityCache.canReplaceInSharedCache`` (PriorityCache.java:
    314-326, 515-537) over one GLOBAL shared pool instead of the
    per-detector static split a lone :class:`CachePolicy` models.

    The reference lets any detector's CacheBuffer grow into shared
    memory until ``MemoryTracker.canAllocate`` fails, then lets a
    candidate whose **scaled** priority (``p − inc(now)``, comparable
    across detectors with different landmarks) is STRICTLY greater
    evict the minimum-scaled-priority entity of another buffer — but
    only entities beyond that buffer's dedicated slots
    (``CacheBuffer.canRemove``: size > minimumCapacity).  Run to its
    fixed point, that rule hosts exactly the globally top-priority
    entities in the shared pool, after each detector's dedicated
    slots; this function computes that fixed point once per tick:

    1. per detector, the top ``dedicated_cache_size`` hosted entities
       (by scaled priority) occupy dedicated slots — never arbitrated;
       remaining hosted entities are shared-pool INCUMBENTS, and
       doorkeeper-passed tracked non-hosted entities are CANDIDATES
       (each bounded to the detector's own maximum admissible count
       before the driver-side pull, so the pairing stays
       budget-bounded like :func:`admit_entities`),
    2. candidates first take their own detector's free dedicated
       slots (``dedicatedCacheAvailable`` → put),
    3. incumbents and remaining candidates compete for
       ``shared_memory_bytes`` in scaled-priority order, incumbents
       winning ties (the reference's strict-greater rule); each
       entity costs its own detector's ``model_bytes``,
    4. losing incumbents are EVICTED — their state rows (scalar +
       joint) drop immediately and their cache ``hosted`` flag
       clears; winning candidates flip ``hosted`` (their model rows
       appear on their next interval, the cold-start-on-admission
       posture :func:`admit_entities` already has).

    Returns ``(policies, report)``: ``policies[detector_id]`` is the
    input policy with ``shared_memory_bytes`` set to the bytes this
    detector WON, so the caller's next per-detector
    ``run_once_stateful(cache_policy=...)`` admits exactly the
    arbitrated set; ``report`` lists admissions/evictions per
    detector.  Detectors without a cache table yet keep zero shared
    bytes (nothing tracked to rank)."""
    import pandas as pd

    per_det: list[dict] = []
    for cfg in configs:
        # (det_id, policy) or (det_id, policy, interval_ms) — detector
        # schedules can differ, and the scaled priority uses each
        # tracker's own interval (PriorityTracker.intervalSecs)
        det_id, pol = cfg[0], cfg[1]
        det_interval = cfg[2] if len(cfg) > 2 else interval_ms
        cpath = _cache_path(state_dir, det_id)
        info = {"id": det_id, "pol": pol, "cache": None}
        per_det.append(info)
        if not os.path.exists(cpath):
            continue
        cache = spark.read.parquet(cpath)
        key_cols = [c for c in cache.columns
                    if c not in _CACHE_META_COLS]
        meta = cache.agg(F.min("landmark_ms")).first()
        landmark = meta[0] if meta[0] is not None else now_ms
        inc = priority_increment(now_ms, landmark, det_interval)
        sp = scaled_priority(F.coalesce(F.col("priority"), F.lit(0.0)),
                             inc).alias("_sp")
        hosted = (cache.filter(F.col("hosted"))
                  .select(*key_cols, sp)
                  .orderBy(F.col("_sp").desc(), *key_cols).toPandas())
        max_admit = int(pol.dedicated_cache_size
                        + shared_memory_bytes
                        // max(1, pol.model_bytes))
        cand = (cache.filter(~F.coalesce(F.col("hosted"), F.lit(False))
                             & (F.col("dk_count")
                                >= pol.doorkeeper_count_threshold)
                             & F.col("priority").isNotNull())
                .select(*key_cols, sp)
                .orderBy(F.col("_sp").desc(), *key_cols)
                .limit(max_admit).toPandas())
        info.update(cache=cpath, key_cols=key_cols,
                    key_fields=[f for f in cache.schema.fields
                                if f.name in key_cols],
                    hosted=hosted, cand=cand)

    # step 2/3: one global greedy fill of the shared pool
    entries = []  # (neg scaled, incumbent-first, det idx, key) → cost
    dedicated_admits: dict[int, list[tuple]] = {}
    for i, info in enumerate(per_det):
        if info["cache"] is None:
            continue
        pol, kc = info["pol"], info["key_cols"]
        ded = pol.dedicated_cache_size
        hosted, cand = info["hosted"], info["cand"]
        free_ded = max(0, ded - len(hosted))
        dedicated_admits[i] = [
            tuple(r[c] for c in kc)
            for r in cand.head(free_ded).to_dict("records")]
        for r in hosted.iloc[ded:].to_dict("records"):
            entries.append((-r["_sp"], 0, i,
                            tuple(r[c] for c in kc)))
        for r in cand.iloc[free_ded:].to_dict("records"):
            entries.append((-r["_sp"], 1, i,
                            tuple(r[c] for c in kc)))
    entries.sort(key=lambda e: (e[0], e[1], per_det[e[2]]["id"], e[3]))
    remaining = int(shared_memory_bytes)
    winners: set[tuple[int, tuple]] = set()
    won_bytes = [0] * len(per_det)
    for neg_sp, _inc_first, i, key in entries:
        cost = max(1, per_det[i]["pol"].model_bytes)
        if cost <= remaining:
            remaining -= cost
            winners.add((i, key))
            won_bytes[i] += cost

    # step 4: apply per detector
    from .detector import _swap_state_dir

    policies: dict[str, CachePolicy] = {}
    report: dict = {}
    for i, info in enumerate(per_det):
        det_id, pol = info["id"], info["pol"]
        from dataclasses import replace

        policies[det_id] = replace(pol, shared_memory_bytes=won_bytes[i])
        if info["cache"] is None:
            report[det_id] = {"admitted": [], "evicted": []}
            continue
        kc, ded = info["key_cols"], pol.dedicated_cache_size
        evicted = [tuple(r[c] for c in kc)
                   for r in info["hosted"].iloc[ded:].to_dict("records")
                   if (i, tuple(r[c] for c in kc)) not in winners]
        admitted = dedicated_admits.get(i, []) + [
            key for (_n, first, j, key)
            in ((e[0], e[1], e[2], e[3]) for e in entries)
            if j == i and first == 1 and (i, key) in winners]
        report[det_id] = {"admitted": admitted, "evicted": evicted}
        if not admitted and not evicted:
            continue
        if evicted:
            _drop_state_keys(spark, state_dir, det_id, evicted,
                             info["key_fields"])
        cache = read_table(spark, info["cache"],
                           _cache_schema(info["key_fields"]))
        cols = cache.columns

        def _keys_df(keys: list[tuple]):
            return local_df(spark, keys, T.StructType(info["key_fields"]))

        if evicted:
            cache = (cache.join(_keys_df(evicted).withColumn(
                        "_ev", F.lit(True)), kc, "left_outer")
                     .withColumn("hosted",
                                 F.when(F.coalesce("_ev", F.lit(False)),
                                        F.lit(False))
                                 .otherwise(F.col("hosted")))
                     .drop("_ev"))
        if admitted:
            cache = (cache.join(_keys_df(admitted).withColumn(
                        "_ad", F.lit(True)), kc, "left_outer")
                     .withColumn("hosted",
                                 F.when(F.coalesce("_ad", F.lit(False)),
                                        F.lit(True))
                                 .otherwise(F.col("hosted")))
                     .drop("_ad"))
        _swap_state_dir(cache.localCheckpoint(), info["cache"], cols)
    return policies, report
