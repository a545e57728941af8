"""Detector job lifecycle: the reference's scheduled-execution ring.

A reference user starts/stops a detector job (``_start``/``_stop``,
``RestAnomalyDetectorJobAction``); the job-scheduler then fires
``JobProcessor.process`` per interval, which acquires a per-job lock,
runs one realtime detection pass, and handles failures with the
EndRunException protocol (``JobProcessor.java:350-420``): an
``endNow`` failure stops the job immediately; a soft EndRunException
stops it on the first failure PAST ``maxRetryForEndRunException``
consecutive occurrences (count > 6, i.e. the 7th — default 6,
``LegacyOpenDistroAnomalyDetectorSettings.java:164-167``; the
reference's comparison is strictly greater) — any other error records an error result row and leaves
the job enabled (transient), resetting the consecutive count.

The Spark analog keeps the job document's exact shape (``Job.java:71-
79``: schedule, window_delay, enabled flag, enabled/disabled/
last_update times, lock_duration_seconds, result_index) in a JSON doc
per job (atomic tmp+rename, same posture as every other registry
here), and replaces the scheduler callback with an explicit
:meth:`JobStore.tick` — a driver/cron calls it with the current time
and every DUE enabled job runs one :func:`~anomaly_detection_spark.
detector.run_once_stateful` pass (which is idempotent per interval,
so an overlapping or retried tick can never double-ingest).  Missed
intervals are NOT backfilled — the reference's scheduler likewise
just fires next time, and gap analysis is what ``run_historical`` is
for.  The lock is a lease field in the job doc (acquire = write
``lock_until``; expired leases are stealable), standing in for the
job-scheduler's LockService at single-driver scope.
"""

from __future__ import annotations

import dataclasses
import json
import os
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from .detector import Detector, run_once_stateful
from .index.storage import write_json

__all__ = ["EndRunError", "JobStore",
           "MAX_RETRY_FOR_END_RUN_EXCEPTION"]

#: consecutive soft EndRunException budget before the job is stopped
MAX_RETRY_FOR_END_RUN_EXCEPTION = 6


class EndRunError(RuntimeError):
    """The detection body judged the job unrunnable (the reference's
    EndRunException: e.g. invalid feature query, missing source
    index).  ``end_now=True`` stops the job immediately; otherwise it
    stops on the failure after :data:`MAX_RETRY_FOR_END_RUN_EXCEPTION`
    consecutive failures (count > 6, the reference's comparison)."""

    def __init__(self, message: str, end_now: bool = False):
        super().__init__(message)
        self.end_now = end_now


def _det_to_json(det: Detector) -> dict:
    d = dataclasses.asdict(det)
    d["category_fields"] = list(d["category_fields"])
    d["suppression_rules"] = list(d["suppression_rules"])
    return d


def _det_from_json(d: dict) -> Detector:
    d = dict(d)
    d["category_fields"] = tuple(d["category_fields"])
    d["suppression_rules"] = tuple(d["suppression_rules"])
    return Detector(**d)


class JobStore:
    """Job registry + scheduler tick over a directory of job docs."""

    def __init__(self, jobs_dir: str):
        self.jobs_dir = jobs_dir
        os.makedirs(jobs_dir, exist_ok=True)

    def _path(self, job_id: str) -> str:
        if "/" in job_id or job_id.startswith("."):
            raise ValueError(f"bad job id {job_id!r}")
        return os.path.join(self.jobs_dir, f"{job_id}.json")

    def _write(self, doc: dict) -> None:
        write_json(self._path(doc["name"]), doc)

    def get_job(self, job_id: str) -> dict:
        with open(self._path(job_id)) as f:
            return json.load(f)

    def list_jobs(self) -> list[str]:
        return sorted(f[:-5] for f in os.listdir(self.jobs_dir)
                      if f.endswith(".json"))

    # -- lifecycle (RestAnomalyDetectorJobAction: _start / _stop) ----------

    def create_job(self, det: Detector, now_ms: int,
                   lock_duration_s: int = 60,
                   result_index: str | None = None) -> dict:
        """Register + start a job for ``det`` (job id = detector id,
        schedule interval = detection interval — the reference creates
        the job doc exactly so, ``IndexJobActionHandler``)."""
        doc = {
            "name": det.detector_id,
            "schedule_interval_ms": det.interval_ms,
            "window_delay_ms": det.window_delay_ms,
            "enabled": True,
            "enabled_time": now_ms,
            "disabled_time": None,
            "last_update_time": now_ms,
            "lock_duration_seconds": lock_duration_s,
            "result_index": result_index,
            "detector": _det_to_json(det),
            # runner state
            "last_end_ms": None,        # newest interval end already run
            "last_attempt_end_ms": None,  # newest interval end attempted
            "lock_until_ms": 0,
            "end_run_count": 0,         # consecutive soft EndRunErrors
            "last_error": None,
        }
        self._write(doc)
        return doc

    def delete_job(self, job_id: str) -> None:
        """Remove the job doc (BaseDeleteConfigTransportAction deletes
        the job before the config; refusal while enabled is the
        caller's check — see ``tasks.delete_detector``)."""
        os.remove(self._path(job_id))

    def stop_job(self, job_id: str, now_ms: int,
                 reason: str | None = None) -> dict:
        doc = self.get_job(job_id)
        doc["enabled"] = False
        doc["disabled_time"] = now_ms
        doc["last_update_time"] = now_ms
        if reason:
            doc["last_error"] = reason
        self._write(doc)
        return doc

    def start_job(self, job_id: str, now_ms: int) -> dict:
        doc = self.get_job(job_id)
        doc["enabled"] = True
        doc["enabled_time"] = now_ms
        doc["disabled_time"] = None
        doc["last_update_time"] = now_ms
        doc["end_run_count"] = 0
        doc["last_error"] = None
        self._write(doc)
        return doc

    # -- the scheduler callback --------------------------------------------

    def _due(self, doc: dict, now_ms: int) -> int | None:
        """The interval end the job would run for at ``now``, or None
        if that interval was already ATTEMPTED (the scheduler fires
        once per interval whether or not the fire succeeded — a failed
        interval is not retried within the interval, so the EndRun
        budget burns once per scheduled fire like the reference, not
        once per tick call)."""
        iv = doc["schedule_interval_ms"]
        end = ((now_ms - doc["window_delay_ms"]) // iv) * iv
        seen = max((doc["last_end_ms"] or 0),
                   (doc.get("last_attempt_end_ms") or 0))
        if seen and end <= seen:
            return None
        return end

    def tick(self, spark: SparkSession, now_ms: int, state_dir: str,
             scorer_factory=None,
             runner: Callable[..., DataFrame] | None = None,
             task_store=None,
             cold_start_history: int | None = None,
             shared_cache: tuple[int, Any] | None = None,
             ) -> dict[str, Any]:
        """Run every due, enabled, unlocked job once for its latest
        closed interval.  Returns ``{job_id: result DataFrame}`` for
        the jobs that ran; failures are recorded on the job doc
        (``last_error`` — the indexResultException analog) and follow
        the EndRunException stop protocol.

        Pass a :class:`~anomaly_detection_spark.tasks.TaskStore` as
        ``task_store`` to mirror the reference's realtime-task
        tracking (``JobProcessor`` → ``updateLatestRealtimeTask``):
        each attempted job refreshes its REALTIME task doc's
        state/init_progress/error, and a job the EndRun protocol
        disables marks it STOPPED.

        ``shared_cache=(shared_memory_bytes, base_policy)`` runs the
        cross-detector shared-pool arbitration
        (:func:`~anomaly_detection_spark.caching.
        rebalance_shared_cache`) over ALL enabled jobs' cache tables
        before any job runs, then passes each detector its awarded
        :class:`~anomaly_detection_spark.caching.CachePolicy` as
        ``cache_policy`` — the reference's one-MemoryTracker-many-
        CacheBuffers posture on the tick path."""
        out: dict[str, Any] = {}
        run = runner or run_once_stateful
        awarded: dict[str, Any] = {}
        base_pol = None
        if shared_cache is not None:
            from .caching import rebalance_shared_cache

            shared_bytes, base_pol = shared_cache
            cfgs = []
            for job_id in self.list_jobs():
                d = self.get_job(job_id)
                if d["enabled"]:
                    cfgs.append((
                        _det_from_json(d["detector"]).detector_id,
                        base_pol, d["schedule_interval_ms"]))
            if cfgs:
                awarded, _rep = rebalance_shared_cache(
                    spark, state_dir, cfgs, shared_bytes, now_ms,
                    cfgs[0][2])
        for job_id in self.list_jobs():
            doc = self.get_job(job_id)
            if not doc["enabled"]:
                continue
            end = self._due(doc, now_ms)
            if end is None:
                continue
            if doc["lock_until_ms"] > now_ms:
                continue                      # another runner holds it
            # acquire the lease
            doc["lock_until_ms"] = now_ms + \
                doc["lock_duration_seconds"] * 1000
            self._write(doc)
            # fields this attempt owns; everything else (enabled,
            # disabled_time, ...) is re-read at release time so a
            # concurrent stop_job/start_job during the (multi-second)
            # run is never clobbered by this stale snapshot
            upd: dict[str, Any] = {"last_attempt_end_ms": end}
            disable = False
            det = None
            try:
                det = _det_from_json(doc["detector"])
                # the reference's job processor always cold-starts new
                # models from history (ModelColdStart); pass-through is
                # opt-in here so custom runners keep their signature
                kw = ({"cold_start_history": cold_start_history}
                      if cold_start_history else {})
                if shared_cache is not None:
                    kw["cache_policy"] = awarded.get(
                        det.detector_id, base_pol)
                res = run(spark, det, now_ms, state_dir,
                          scorer_factory=scorer_factory, **kw)
                out[job_id] = res
                upd["last_end_ms"] = end
                upd["end_run_count"] = 0
                upd["last_error"] = None
            except EndRunError as e:
                upd["last_error"] = str(e)
                if e.end_now:
                    disable = True
                else:
                    upd["end_run_count"] = doc["end_run_count"] + 1
                    if (upd["end_run_count"]
                            > MAX_RETRY_FOR_END_RUN_EXCEPTION):
                        disable = True
            except Exception as e:            # transient: stay enabled
                upd["end_run_count"] = 0
                upd["last_error"] = f"{type(e).__name__}: {e}"
            finally:
                fresh = self.get_job(job_id)
                fresh.update(upd)
                if disable:
                    fresh["enabled"] = False
                    fresh["disabled_time"] = now_ms
                fresh["lock_until_ms"] = 0
                fresh["last_update_time"] = now_ms
                self._write(fresh)
                if task_store is not None and det is not None:
                    from .tasks import update_realtime_task
                    update_realtime_task(spark, task_store, det,
                                         state_dir,
                                         error=upd.get("last_error"))
                    if disable:
                        update_realtime_task(spark, task_store, det,
                                             state_dir, stopped=True)
        return out
