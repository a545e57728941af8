"""Analysis task lifecycle: the reference's ad/task ring.

The reference tracks every analysis run as a task document
(``timeseries/model/TimeSeriesTask.java:23-45`` field set,
``timeseries/model/TaskState.java`` state machine): starting a
historical analysis creates a task (CREATED), the batch runner flips
it to INIT, reports ``init_progress = rcfTotalUpdates /
NUM_MIN_SAMPLES`` and switches to RUNNING once that reaches 1.0
(``ad/task/ADBatchTaskRunner.java:1249-1250,1355-1363``), advances
``task_progress = (pieceStartTime - dataStartTime) / (dataEndTime -
dataStartTime)`` with ``current_piece`` = the next piece's start
timestamp (:1261-1285), checks a cancel flag before each piece and
throws TaskCancelledException → STOPPED (:1377-1396), records FAILED
with the error on any other exception, and finishes with
``task_progress = 1.0``, ``current_piece = dataEndTime`` and
FINISHED (:1315-1330).  Starting a new analysis flips ``is_latest``
off on the detector's older tasks (``ADTaskManager``).

The Spark analog keeps the task document's exact field names in a
JSON doc per task (atomic tmp+rename, the same registry posture as
:class:`~anomaly_detection_spark.jobs.JobStore`) and drives
:func:`~anomaly_detection_spark.detector.run_historical` through its
``on_piece`` / ``cancel_check`` hooks — the piece loop itself is
unchanged, so task tracking composes with resume (done-markers) and
checkpointed scorers.  Realtime tasks mirror the reference's
RealtimeTaskCache: one doc per detector job, refreshed per tick from
the state table's update counts.
"""

from __future__ import annotations

import json
import os
import time
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .detector import (Detector, TaskCancelledError, _state_path,
                       run_historical)
from .index.storage import read_table, write_json

__all__ = ["TaskStore", "start_historical_task", "profile_task",
           "update_realtime_task", "run_once_forecast_task",
           "stop_detector", "delete_detector", "NUM_MIN_SAMPLES"]

#: TimeSeriesSettings.NUM_MIN_SAMPLES — the RCF update count that
#: flips a task's state from INIT to RUNNING (init_progress = 1.0)
NUM_MIN_SAMPLES = 32

#: states a task can still be cancelled in (TaskState.NOT_ENDED_STATES)
NOT_ENDED_STATES = ("CREATED", "INIT", "RUNNING", "INIT_TEST")


def _config_id(cfg) -> str:
    """Detector or Forecaster — tasks track both config families
    (the reference's TimeSeriesTask is shared the same way)."""
    return getattr(cfg, "detector_id", None) or cfg.forecaster_id


def _default_clock() -> int:
    return int(time.time() * 1000)


class TaskStore:
    """Task registry over a directory of task docs.

    ``clock`` supplies epoch-millis for execution/update timestamps
    (injectable for deterministic tests; the reference stamps
    ``Instant.now()``)."""

    def __init__(self, tasks_dir: str,
                 clock: Callable[[], int] | None = None):
        self.tasks_dir = tasks_dir
        self.clock = clock or _default_clock
        os.makedirs(tasks_dir, exist_ok=True)

    def _path(self, task_id: str) -> str:
        if "/" in task_id or task_id.startswith("."):
            raise ValueError(f"bad task id {task_id!r}")
        return os.path.join(self.tasks_dir, f"{task_id}.json")

    def _write(self, doc: dict) -> None:
        write_json(self._path(doc["task_id"]), doc)

    def get_task(self, task_id: str) -> dict:
        with open(self._path(task_id)) as f:
            return json.load(f)

    def list_tasks(self, detector_id: str | None = None) -> list[str]:
        ids = sorted(f[:-5] for f in os.listdir(self.tasks_dir)
                     if f.endswith(".json"))
        if detector_id is None:
            return ids
        return [t for t in ids
                if self.get_task(t)["detector_id"] == detector_id]

    def latest_task(self, detector_id: str,
                    prefix: str = "HISTORICAL") -> dict | None:
        """The detector's ``is_latest`` task of the given type family
        (the reference queries is_latest=true + task_type prefix)."""
        for t in self.list_tasks(detector_id):
            doc = self.get_task(t)
            if doc["is_latest"] and doc["task_type"].startswith(prefix):
                return doc
        return None

    def update_task(self, task_id: str, **fields: Any) -> dict:
        doc = self.get_task(task_id)
        doc.update(fields)
        doc["last_update_time"] = self.clock()
        self._write(doc)
        return doc

    def cancel_task(self, task_id: str, stopped_by: str,
                    reason: str = "Task cancelled by user") -> dict:
        """Flag a not-ended task cancelled; the runner observes the
        flag before its next piece and transitions to STOPPED (the
        reference's two-phase stop: flag now, state change when the
        runner notices — ``ADTaskCacheManager`` cancel flags)."""
        doc = self.get_task(task_id)
        if doc["state"] not in NOT_ENDED_STATES:
            raise ValueError(
                f"task {task_id} already ended ({doc['state']})")
        return self.update_task(task_id, cancelled=True,
                                stopped_by=stopped_by,
                                cancel_reason=reason)

    def _flip_latest(self, detector_id: str, prefix: str) -> None:
        for t in self.list_tasks(detector_id):
            doc = self.get_task(t)
            if doc["is_latest"] and doc["task_type"].startswith(prefix):
                self.update_task(t, is_latest=False)

    def _new_task(self, cfg, task_type: str,
                  prefix: str, extra: dict) -> dict:
        cid = _config_id(cfg)
        n = sum(1 for t in self.list_tasks(cid)
                if self.get_task(t)["task_type"].startswith(prefix))
        self._flip_latest(cid, prefix)
        now = self.clock()
        doc = {
            "task_id": f"{cid}__{prefix.lower()}_{n}",
            "task_type": task_type,
            "detector_id": cid,
            "state": "CREATED",
            "task_progress": 0.0,
            "init_progress": None,
            "current_piece": None,
            "execution_start_time": now,
            "execution_end_time": None,
            "is_latest": True,
            "error": None,
            "started_by": None,
            "stopped_by": None,
            "cancelled": False,
            "cancel_reason": None,
            "last_update_time": now,
        }
        doc.update(extra)
        self._write(doc)
        return doc


def start_historical_task(
    spark: SparkSession,
    store: TaskStore,
    det: Detector,
    start_ms: int,
    end_ms: int,
    state_dir: str,
    results_dir: str,
    piece_intervals: int = 128,
    scorer_factory=None,
    started_by: str = "user",
) -> tuple[dict, DataFrame | None]:
    """Run a tracked historical analysis; returns ``(task_doc,
    results)`` — results ``None`` when the task was stopped.

    Progress semantics follow ``ADBatchTaskRunner.java`` exactly:
    ``current_piece`` is the next piece's start TIMESTAMP,
    ``task_progress`` the span fraction before it, ``init_progress``
    = model updates / NUM_MIN_SAMPLES (min across the task's models —
    the reference tracks its single stream's forest; min is the HC
    generalization the detector profile already uses), state RUNNING
    only once init_progress hits 1.0.  A cancelled task re-raises
    nothing — the STOPPED doc carries ``cancel_reason``/``stopped_by``
    (the reference records the TaskCancelledException message).  Any
    other failure marks FAILED and re-raises.

    The date range must cover at least NUM_MIN_SAMPLES intervals —
    the reference refuses to train on less
    (``ADBatchTaskRunner.java:993``: not enough data to train model).
    """
    start_ms = (start_ms // det.interval_ms) * det.interval_ms
    end_ms = (end_ms // det.interval_ms) * det.interval_ms
    if end_ms - start_ms < NUM_MIN_SAMPLES * det.interval_ms:
        raise ValueError(
            "There is not enough data to train model: the date range "
            f"covers {(end_ms - start_ms) // det.interval_ms} intervals "
            f"but at least {NUM_MIN_SAMPLES} are required")
    task_type = ("HISTORICAL_HC_DETECTOR" if det.category_fields
                 else "HISTORICAL_SINGLE_ENTITY")
    doc = store._new_task(
        det, task_type, "HISTORICAL",
        {"started_by": started_by,
         "detection_date_range": {"start_time": start_ms,
                                  "end_time": end_ms}})
    task_id = doc["task_id"]
    piece_ms = piece_intervals * det.interval_ms
    span = float(end_ms - start_ms)

    def _init_progress(snap_path: str) -> float | None:
        if not os.path.exists(snap_path):
            return None
        r = (read_table(spark, snap_path, "scored_cnt long")
             .agg(F.min("scored_cnt")).first())
        if r[0] is None:
            return 0.0
        return min(1.0, r[0] / float(NUM_MIN_SAMPLES))

    def on_piece(p: int, n_pieces: int, snap_path: str) -> None:
        nxt = min(end_ms, start_ms + (p + 1) * piece_ms)
        ip = _init_progress(snap_path)
        state = "RUNNING" if (ip or 0.0) >= 1.0 else "INIT"
        store.update_task(
            task_id, state=state, current_piece=nxt,
            task_progress=round((nxt - start_ms) / span, 6),
            init_progress=ip)

    def cancel_check() -> tuple[str, str] | None:
        d = store.get_task(task_id)
        if d["cancelled"]:
            return (d["cancel_reason"] or "Task cancelled by user",
                    d["stopped_by"] or "user")
        return None

    store.update_task(task_id, state="INIT", init_progress=0.0,
                      current_piece=start_ms)
    try:
        res = run_historical(
            spark, det, start_ms, end_ms, state_dir, results_dir,
            piece_intervals=piece_intervals,
            scorer_factory=scorer_factory,
            on_piece=on_piece, cancel_check=cancel_check)
    except TaskCancelledError as e:
        doc = store.update_task(
            task_id, state="STOPPED", error=e.reason,
            stopped_by=e.stopped_by,
            execution_end_time=store.clock())
        return doc, None
    except Exception as e:
        store.update_task(task_id, state="FAILED",
                          error=f"{type(e).__name__}: {e}",
                          execution_end_time=store.clock())
        raise
    doc = store.update_task(
        task_id, state="FINISHED", task_progress=1.0,
        current_piece=end_ms,
        init_progress=_init_progress(_state_path(state_dir,
                                                 det.detector_id)),
        execution_end_time=store.clock())
    return doc, res


def profile_task(spark: SparkSession, store: TaskStore, task_id: str,
                 det: Detector, state_dir: str) -> dict:
    """Task profile (``ADTaskProfileRunner`` / ``TaskProfile.java``):
    the task doc plus the model substrate it built — entity/model
    counts and serialized-model bytes from the detector's state table
    (the reference reports them from the task caches on each node)."""
    from .profile import profile_detector

    doc = store.get_task(task_id)
    prof = profile_detector(spark, det, state_dir)
    out = {"task": doc,
           "model_size_in_bytes": prof["total_model_bytes"],
           "model_count": prof["model_count"]}
    if det.category_fields:
        out["total_entities_count"] = prof["entity_count"]
    return out


def run_once_forecast_task(
    spark: SparkSession,
    store: TaskStore,
    fc,
    now_ms: int,
    history_intervals: int = 1024,
    forecaster=None,
    started_by: str = "user",
) -> tuple[dict, DataFrame | None]:
    """Tracked run-once forecast — the reference's test-mode task
    family (``ForecastTaskType.RUN_ONCE_FORECAST_SINGLE_STREAM /
    _HC_FORECASTER``; states ``INIT_TEST`` while running,
    ``TEST_COMPLETE`` on success, ``INIT_TEST_FAILED`` with the error
    recorded on failure, ``TaskState.java:66-69``).

    Returns ``(task_doc, results)``; the results frame is forced
    (``localCheckpoint``) so a failing forecast surfaces here and
    lands on the task doc, not on the caller's first action."""
    from .forecast import run_forecast

    task_type = ("RUN_ONCE_FORECAST_HC_FORECASTER" if fc.category_fields
                 else "RUN_ONCE_FORECAST_SINGLE_STREAM")
    doc = store._new_task(fc, task_type, "RUN_ONCE",
                          {"started_by": started_by})
    store.update_task(doc["task_id"], state="INIT_TEST")
    try:
        res = run_forecast(spark, fc, now_ms,
                           history_intervals=history_intervals,
                           forecaster=forecaster).localCheckpoint()
    except Exception as e:
        store.update_task(doc["task_id"], state="INIT_TEST_FAILED",
                          error=f"{type(e).__name__}: {e}",
                          execution_end_time=store.clock())
        raise
    doc = store.update_task(doc["task_id"], state="TEST_COMPLETE",
                            task_progress=1.0,
                            execution_end_time=store.clock())
    return doc, res


def stop_detector(spark: SparkSession, jobs, tasks: TaskStore,
                  det: Detector, state_dir: str, now_ms: int,
                  stopped_by: str = "user") -> dict:
    """Stop everything running for a detector — the ``_stop`` cascade
    (``IndexJobActionHandler.stopJob``: disable the job, mark the
    realtime task stopped; ``TaskManager.stopHistoricalAnalysis``:
    flag + stop the latest not-ended historical task).

    Returns ``{"job_stopped": bool, "realtime_task": ...,
    "historical_task": ...}`` with the final docs (None where nothing
    existed).  The historical task is both FLAGGED cancelled (so a
    live resumed runner aborts at its next piece) and marked STOPPED
    (this engine's runs are synchronous, so a not-ended doc means no
    runner is alive to observe the flag)."""
    out: dict = {"job_stopped": False, "realtime_task": None,
                 "historical_task": None}
    if jobs is not None:
        try:
            doc = jobs.get_job(det.detector_id)
        except FileNotFoundError:
            doc = None
        if doc is not None and doc["enabled"]:
            jobs.stop_job(det.detector_id, now_ms)
            out["job_stopped"] = True
    out["realtime_task"] = update_realtime_task(
        spark, tasks, det, state_dir, stopped=True) or None
    hist = tasks.latest_task(det.detector_id, prefix="HISTORICAL")
    if hist is not None and hist["state"] in NOT_ENDED_STATES:
        tasks.update_task(hist["task_id"], cancelled=True,
                          stopped_by=stopped_by,
                          cancel_reason="Task cancelled by user")
        hist = tasks.update_task(
            hist["task_id"], state="STOPPED",
            error="Task cancelled by user",
            execution_end_time=tasks.clock())
    out["historical_task"] = hist
    return out


def delete_detector(spark: SparkSession, jobs, tasks: TaskStore,
                    det: Detector, state_dir: str,
                    results_dir: str | None = None) -> None:
    """Delete a detector's job, tasks and model state — refusing while
    anything is running, exactly like the reference
    (``BaseDeleteConfigTransportAction.deleteConfigIfNotRunning``:
    a running historical task → "<task> is running" BAD_REQUEST;
    an enabled job → "Job is running").

    Removes: the job doc, every task doc of the detector, the scalar
    and joint state tables, the entity-cache table, and (only when
    ``results_dir`` is passed) the results — the reference keeps
    results on detector delete too, behind a separate delete-results
    API."""
    import shutil

    if jobs is not None:
        try:
            doc = jobs.get_job(det.detector_id)
        except FileNotFoundError:
            doc = None
        if doc is not None:
            if doc["enabled"]:
                raise ValueError(f"Job is running: {det.detector_id}")
            jobs.delete_job(det.detector_id)
    hist = tasks.latest_task(det.detector_id, prefix="HISTORICAL")
    if hist is not None and hist["state"] in NOT_ENDED_STATES:
        raise ValueError("Historical is running")
    for t in tasks.list_tasks(det.detector_id):
        os.remove(tasks._path(t))
    from .caching import _cache_path

    doomed = [_state_path(state_dir, det.detector_id),
              _state_path(state_dir, f"{det.detector_id}__joint"),
              _cache_path(state_dir, det.detector_id)]
    if results_dir is not None:
        doomed.append(results_dir)
    for p in doomed:
        shutil.rmtree(p, ignore_errors=True)


def update_realtime_task(spark: SparkSession, store: TaskStore,
                         det: Detector, state_dir: str,
                         error: str | None = None,
                         stopped: bool = False) -> dict:
    """Refresh (or create) the detector's realtime task doc — the
    reference's RealtimeTaskCache path: the job processor updates the
    realtime task's state/init_progress after each run
    (``JobProcessor`` → ``TaskManager.updateLatestRealtimeTask``), and
    stopping the job marks it STOPPED.

    State: INIT until the slowest model has NUM_MIN_SAMPLES updates,
    then RUNNING; ``stopped=True`` transitions the latest realtime
    task to STOPPED (no-op without one)."""
    doc = store.latest_task(det.detector_id, prefix="REALTIME")
    if stopped:
        if doc is not None and doc["state"] in NOT_ENDED_STATES:
            return store.update_task(doc["task_id"], state="STOPPED",
                                     execution_end_time=store.clock())
        return doc or {}
    if doc is None:
        task_type = ("REALTIME_HC_DETECTOR" if det.category_fields
                     else "REALTIME_SINGLE_ENTITY")
        doc = store._new_task(det, task_type, "REALTIME", {})
    # min scored_cnt across the detector's state layouts (scalar +
    # joint), same definition as the detector profile
    paths = [p for p in (_state_path(state_dir, det.detector_id),
                         _state_path(state_dir,
                                     f"{det.detector_id}__joint"))
             if os.path.exists(p)]
    min_cnt = None
    for p in paths:
        r = read_table(spark, p, "scored_cnt long").agg(
            F.min("scored_cnt")).first()
        if r[0] is not None:
            min_cnt = r[0] if min_cnt is None else min(min_cnt, r[0])
    ip = min(1.0, (min_cnt or 0) / float(NUM_MIN_SAMPLES))
    return store.update_task(
        doc["task_id"],
        state="RUNNING" if ip >= 1.0 else "INIT",
        init_progress=ip, error=error)
