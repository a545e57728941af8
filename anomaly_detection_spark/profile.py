"""Profile / state introspection (ProfileRunner analog).

The reference exposes detector profiles — init progress, model
counts/sizes, entity counts, task state —
(``timeseries/ProfileRunner.java:68``, ``ad/ProfileRunner``: init
progress = model updates / required samples; entity + model-size
summaries from the cache/checkpoint layer).  The engine already
persists the equivalent substrates: the per-(entity, feature) model
state table written by ``run_once_stateful`` / ``run_historical``
(shingle window, scored counts, optional serialized model bytes) and
the index's manifest + lineage + metrics parquet.  This module
summarizes them into plain dicts — driver-side aggregates of a few
rows, the same shape a profile API response carries.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .detector import Detector, _expire_state, _state_path


def profile_detector(spark: SparkSession, det: Detector,
                     state_dir: str, job_store=None) -> dict:
    """Detector profile from the checkpointed state table.

    Fields (ProfileRunner parity, engine-shaped):
    - ``state``: INIT (no state yet) / RUNNING (some entity still in
      warm-up) / READY (every entity fully warm) / DISABLED (the
      reference derives it from the job doc — pass ``job_store``, a
      :class:`~anomaly_detection_spark.jobs.JobStore`, and a stopped
      job overrides the model-derived state; the job's ``last_error``
      is surfaced as ``error`` like ProfileRunner's error field)
    - ``init_progress``: min over entities of scored_cnt /
      confidence_ramp, capped at 1.0 (the reference reports
      rcfTotalUpdates / requiredSamples)
    - ``entity_count`` / ``model_count`` (state rows, one per
      (entity, feature)) / ``total_model_bytes`` (serialized RCF
      checkpoints, 0 for the z-state whose window IS the state)
    - ``last_data_time_ms``: newest ingested interval across entities
    """
    # a detector's state lives under its id (scalar per-feature
    # models) and/or '<id>__joint' (run_once_stateful_joint's one
    # multivariate model per entity) — profile whichever exist
    paths = [p for p in (_state_path(state_dir, det.detector_id),
                         _state_path(state_dir,
                                     f"{det.detector_id}__joint"))
             if os.path.exists(p)]
    ent = list(det.category_fields)
    if not paths:
        out = {"detector_id": det.detector_id, "state": "INIT",
               "init_progress": 0.0, "entity_count": 0,
               "model_count": 0, "total_model_bytes": 0,
               "last_data_time_ms": None}
        _apply_job_state(out, det.detector_id, job_store)
        return out
    frames = []
    for p in paths:
        f = spark.read.parquet(p)
        for c, t in (("model", "binary"), ("last_ms", "long")):
            if c not in f.columns:
                f = f.withColumn(c, F.lit(None).cast(t))
        frames.append(f.select(*ent, "scored_cnt", "model", "last_ms"))
    st = frames[0]
    for f in frames[1:]:
        st = st.unionByName(f)
    row = st.agg(F.count("*").alias("models"),
                 F.min("scored_cnt").alias("min_cnt"),
                 F.max("scored_cnt").alias("max_cnt"),
                 F.sum(F.coalesce(F.length("model"), F.lit(0)))
                 .alias("model_bytes"),
                 F.max("last_ms").alias("last_ms")).collect()[0]
    n_entities = (st.select(*ent).distinct().count() if ent
                  else min(1, row["models"]))
    min_cnt = row["min_cnt"] or 0
    progress = min(1.0, min_cnt / float(det.confidence_ramp))
    state = ("READY" if progress >= 1.0
             else ("RUNNING" if row["models"] else "INIT"))
    out = {
        "detector_id": det.detector_id,
        "state": state,
        "init_progress": round(progress, 6),
        # InitProgressProfile content (ProfileRunner wraps the bare
        # percentage the same way) — only while still initializing
        **({"init_progress_detail": {
            "percentage": round(progress, 6),
            "needed_intervals": int(det.confidence_ramp - min_cnt),
            "estimated_minutes_left": round(
                (det.confidence_ramp - min_cnt)
                * det.interval_ms / 60_000.0, 3),
        }} if progress < 1.0 else {}),
        "entity_count": int(n_entities),
        "model_count": int(row["models"]),
        "total_model_bytes": int(row["model_bytes"] or 0),
        "last_data_time_ms": (int(row["last_ms"])
                              if row["last_ms"] is not None else None),
    }
    _apply_job_state(out, det.detector_id, job_store)
    return out


def profile_entity(spark: SparkSession, det: Detector, state_dir: str,
                   entity: dict) -> dict:
    """Per-entity profile (``EntityProfileRunner.java:61`` — the
    ``_profile`` API's entity variant).

    ``entity`` maps every category field to its value.  Fields:

    - ``state``: UNKNOWN (no updates recorded — the reference's
      sendUnknownState for totalUpdates == 0), INIT (warming up) or
      RUNNING (totalUpdates >= required samples;
      EntityProfileRunner.java:358-373 thresholds with required =
      ``det.confidence_ramp``)
    - ``init_progress``: present only in INIT, with the reference's
      InitProgressProfile content as numbers — ``percentage``,
      ``needed_intervals`` and ``estimated_minutes_left``
      (intervals-left × interval minutes)
    - ``total_updates``: min across features of scored intervals (the
      same definition the detector profile and confidence ramp use)
    - ``model``: ``model_id`` (``<detector_id>_entity_<v1[,v2...]>``,
      the reference's Entity.getModelId shape with values in place of
      the attribute digest) and ``model_size_in_bytes`` (serialized
      checkpoints; 0 for the z-window state)
    - ``is_active`` / ``last_active_timestamp_ms``: from the cache
      table when :func:`~anomaly_detection_spark.caching.
      admit_entities` manages this detector (EntityCache.isActive /
      getLastActiveMs); with no cache table every stateful entity is
      hosted, so activity falls back to the state row's presence and
      ``last_ms``.

    Raises for a non-HC detector (NOT_HC_DETECTOR_ERR_MSG) and when
    ``entity``'s keys differ from the category fields (the reference
    validates the entity against the detector's categories).
    """
    ent = list(det.category_fields)
    if not ent:
        raise ValueError("This is not a high cardinality detector")
    if set(entity) != set(ent):
        raise ValueError(
            f"entity keys {sorted(entity)} must match the detector's "
            f"category fields {sorted(ent)}")
    out: dict = {
        "entity": [{"name": c, "value": str(entity[c])} for c in ent],
        "model_id": f"{det.detector_id}_entity_"
                    + ",".join(str(entity[c]) for c in ent),
    }
    paths = [p for p in (_state_path(state_dir, det.detector_id),
                         _state_path(state_dir,
                                     f"{det.detector_id}__joint"))
             if os.path.exists(p)]
    cond = None
    for c in ent:
        e = F.col(c) == entity[c]
        cond = e if cond is None else cond & e
    rows = []
    for p in paths:
        f = spark.read.parquet(p)
        for c, t in (("model", "binary"), ("last_ms", "long")):
            if c not in f.columns:
                f = f.withColumn(c, F.lit(None).cast(t))
        rows.extend(f.filter(cond).select(
            "scored_cnt", F.coalesce(F.length("model"), F.lit(0))
            .alias("mb"), "last_ms").collect())
    total_updates = min((r["scored_cnt"] for r in rows), default=0)
    model_bytes = sum(r["mb"] for r in rows)
    last_ms = max((r["last_ms"] for r in rows
                   if r["last_ms"] is not None), default=None)
    out["total_updates"] = int(total_updates)
    out["model"] = {"model_id": out.pop("model_id"),
                    "model_size_in_bytes": int(model_bytes)}
    required = float(det.confidence_ramp)
    if not rows or total_updates == 0:
        out["state"] = "UNKNOWN"
    elif total_updates >= required:
        out["state"] = "RUNNING"
    else:
        out["state"] = "INIT"
        needed = int(required - total_updates)
        out["init_progress"] = {
            "percentage": round(total_updates / required, 6),
            "needed_intervals": needed,
            "estimated_minutes_left": round(
                needed * det.interval_ms / 60_000.0, 3),
        }
    from .caching import _cache_path

    cpath = _cache_path(state_dir, det.detector_id)
    if os.path.exists(cpath):
        crow = spark.read.parquet(cpath).filter(cond).collect()
        if crow:
            out["is_active"] = bool(crow[0]["hosted"])
            lh = crow[0]["last_hit_ms"] if "last_hit_ms" in crow[0] \
                .__fields__ else None
            out["last_active_timestamp_ms"] = (int(lh) if lh is not None
                                               else None)
        else:
            out["is_active"] = False
            out["last_active_timestamp_ms"] = None
    else:
        out["is_active"] = bool(rows)
        out["last_active_timestamp_ms"] = (int(last_ms)
                                           if last_ms is not None else None)
    return out


def _apply_job_state(profile: dict, detector_id: str, job_store) -> None:
    """Overlay the job doc on the model-derived profile (the reference
    reads the Job to report DISABLED and the latest error)."""
    if job_store is None:
        return
    try:
        job = job_store.get_job(detector_id)
    except FileNotFoundError:
        return
    if not job["enabled"]:
        profile["state"] = "DISABLED"
    if job.get("last_error"):
        profile["error"] = job["last_error"]


def profile_index(spark: SparkSession, index_dir: str) -> dict:
    """Index profile from meta + manifest + lineage + metrics parquet:
    segment/term/posting/byte counts, docid extent, and per-stage
    wall-time totals — the introspection a profile API serves without
    touching a posting block."""
    from .index.storage import (LINEAGE_SCHEMA, MANIFEST_SCHEMA, IndexPaths,
                                read_meta, read_table)

    paths = IndexPaths(index_dir)
    meta = read_meta(index_dir)
    man = read_table(spark, paths.manifest, MANIFEST_SCHEMA)
    row = man.agg(
        F.countDistinct("seg_id").alias("segments"),
        F.sum("n_terms").alias("terms"),
        F.sum("n_postings").alias("postings"),
        F.sum("bytes").alias("bytes"),
        F.min("docid_min").alias("docid_lo"),
        F.max("docid_max").alias("docid_hi"),
    ).collect()[0]
    out = {
        "n_docs": meta.n_docs,
        "avgdl": meta.avgdl,
        "seg_size": meta.seg_size,
        "positions": meta.positions,
        "codec": meta.codec,
        "segments": int(row["segments"] or 0),
        "terms": int(row["terms"] or 0),
        "postings": int(row["postings"] or 0),
        "postings_bytes": int(row["bytes"] or 0),
        "docid_range": [int(row["docid_lo"] or 0),
                        int(row["docid_hi"] or -1) + 1],
    }
    lin = read_table(spark, paths.lineage, LINEAGE_SCHEMA)
    out["stage_walls_s"] = {
        r["stage"]: round(r["wall"], 3)
        for r in lin.groupBy("stage")
        .agg(F.sum("wall_s").alias("wall")).collect()}
    return out


def stats(spark: SparkSession, detectors: list[tuple[Detector, str]]
          ) -> dict:
    """Cluster-stats analog (the reference's
    ``/_plugins/_anomaly_detection/stats``: detector counts by kind
    and state, model counts, total model memory — served node-by-node
    there, one summary here since Spark has no per-node model cache).
    ``detectors`` pairs each Detector with its state_dir."""
    profiles = [profile_detector(spark, d, sd) for d, sd in detectors]
    by_state: dict[str, int] = {}
    for p in profiles:
        by_state[p["state"]] = by_state.get(p["state"], 0) + 1
    return {
        "detector_count": len(profiles),
        "hc_detector_count": sum(
            1 for (d, _) in detectors if d.category_fields),
        "detectors_by_state": by_state,
        "model_count": sum(p["model_count"] for p in profiles),
        "total_model_bytes": sum(p["total_model_bytes"]
                                 for p in profiles),
        "entity_count": sum(p["entity_count"] for p in profiles),
        "detectors": {p["detector_id"]: p for p in profiles},
    }


def maintain_state(spark: SparkSession, det: Detector, state_dir: str,
                   now_ms: int, retention_ms: int = 3 * 86_400_000
                   ) -> dict:
    """Checkpoint-maintenance analog (the reference's hourly cron
    prunes model checkpoints not updated within the TTL — default 3
    days — so dead entities stop holding memory/disk): the retention
    rule of :func:`~anomaly_detection_spark.detector.prune_state`
    over both state layouts, cut at ``now_ms - retention_ms``.
    Returns kept/pruned counts; a no-op when nothing expires."""
    kept, pruned = _expire_state(spark, det.detector_id, state_dir,
                                 int(now_ms) - int(retention_ms))
    return {"kept": kept, "pruned": pruned}


def expire_results(spark: SparkSession, results_path: str,
                   now_ms: int, retention_ms: int = 30 * 86_400_000,
                   ts_col: str = "window_start") -> int:
    """Result-retention analog (the reference rolls result indices and
    deletes those older than the retention period — default 30 days):
    delete result rows whose ``ts_col`` predates the cutoff.  Returns
    the number of deleted rows."""
    from pyspark.sql import types as T

    from .sources.tables import delete_by_query

    df = spark.read.parquet(results_path)
    dt = df.schema[ts_col].dataType
    cutoff = int(now_ms) - int(retention_ms)
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        import datetime as _dt

        bound = _dt.datetime.fromtimestamp(
            cutoff / 1000.0, tz=_dt.timezone.utc
        ).strftime("%Y-%m-%dT%H:%M:%S.%f")
    else:
        bound = cutoff
    return delete_by_query(spark, results_path,
                           {"range": {ts_col: {"lt": bound}}})
