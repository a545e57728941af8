"""Transform jobs: the index-transform plugin's continuous rollup —
a materialized group-by summary table maintained INCREMENTALLY, so
dashboards read a bounded summary instead of re-aggregating the
corpus.

Reference surface: the transform plugin's job body (``source_index``,
``pivot.group_by`` = terms / date_histogram sources,
``pivot.aggregations``) and its continuous mode (process only new data
past a cursor, merge into the existing summary).

Engine shape (the 100 TB posture): each run aggregates ONLY rows past
the stored cursor (a codegen range filter the scan pushes down), then
merges the partial aggregates into the summary with one full-outer
join keyed NULL-SAFELY by the group tuple — the corpus is never
re-scanned, and the join's small side is the new partials.  Supported
aggregations are the MERGEABLE set: ``sum`` / ``value_count`` /
``min`` / ``max`` (merge = +, +, least, greatest) and ``avg``
(carried as sum+count, derived at read).  Non-decomposable aggs
(percentiles, cardinality) reject by name — a silently-wrong merged
percentile is worse than no rollup.

Crash safety: summaries are VERSIONED (``summary_v<N>``) and the
atomic ``os.replace`` of ``_transform.json`` — which names both the
live version and the cursor — is the single commit point.  A crash
anywhere before it leaves the previous summary + cursor fully intact
(the half-written ``summary_v<N+1>`` is an ignored orphan, removed by
the next successful run); a crash after it is a completed run.  The
new cursor is computed INSIDE the partials aggregation (max is itself
mergeable), not as a separate job, so a source that keeps growing
between jobs cannot slip rows into the summary that the cursor would
re-admit next run.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.storage import write_json

__all__ = ["transform_run", "transform_read", "rollup_aggs"]

_MERGEABLE = {"sum", "value_count", "min", "max", "avg"}


def _meta_path(dest: str) -> str:
    return os.path.join(dest, "_transform.json")


def _summary_path(dest: str, version: int) -> str:
    return os.path.join(dest, f"summary_v{version}")


def _group_cols(df: DataFrame, group_by: list[dict]) -> tuple[
        list, list[str]]:
    from ..query.aggs import to_millis
    from ..query.aggs_body import interval_ms

    cols, names = [], []
    for g in group_by:
        (kind, spec), = g.items()
        fld = spec["field"]
        name = spec.get("target_field", fld)
        if kind == "terms":
            cols.append(F.col(fld).alias(name))
        elif kind == "date_histogram":
            iv = interval_ms(spec["fixed_interval"])
            cols.append(F.timestamp_millis(
                (F.floor(to_millis(fld) / iv) * iv).cast("long"))
                .alias(name))
        elif kind == "histogram":
            iv = float(spec["interval"])
            cols.append((F.floor(F.col(fld) / iv) * iv).alias(name))
        else:
            raise ValueError(
                f"unsupported transform group_by {kind!r} "
                f"(supported: terms date_histogram histogram)")
        names.append(name)
    return cols, names


def _partials(df: DataFrame, cols: list, names: list[str],
              aggs: dict[str, dict],
              cursor_field: str | None) -> DataFrame:
    exprs = [F.count("*").alias("_docs")]
    if cursor_field is not None:
        # per-group max cursor — mergeable, so the GLOBAL new cursor
        # derives from the partials themselves (same job, no re-read)
        exprs.append(F.max(cursor_field).alias("_cursor"))
    for name, spec in aggs.items():
        (kind, body), = spec.items()
        if kind not in _MERGEABLE:
            raise ValueError(
                f"transform aggregation {kind!r} is not mergeable "
                f"across incremental runs (supported: "
                f"{sorted(_MERGEABLE)})")
        fld = body["field"]
        if kind == "sum":
            exprs.append(F.sum(fld).alias(name))
        elif kind == "value_count":
            exprs.append(F.count(fld).alias(name))
        elif kind == "min":
            exprs.append(F.min(fld).alias(name))
        elif kind == "max":
            exprs.append(F.max(fld).alias(name))
        else:  # avg → mergeable sum+count pair
            exprs.append(F.sum(fld).alias(f"{name}__sum"))
            exprs.append(F.count(fld).alias(f"{name}__count"))
    return df.groupBy(*cols).agg(*exprs)


def _merge(old: DataFrame, new: DataFrame, names: list[str],
           aggs: dict[str, dict]) -> DataFrame:
    # NULL-SAFE key join: a null group value is one bucket, not a
    # never-matching phantom that would duplicate per run
    cond = None
    for n in names:
        c = F.col(f"o.{n}").eqNullSafe(F.col(f"n.{n}"))
        cond = c if cond is None else cond & c
    j = old.alias("o").join(new.alias("n"), cond, "full_outer")

    def both(col: str, combine) -> F.Column:
        o, n = F.col(f"o.{col}"), F.col(f"n.{col}")
        return (F.when(o.isNull(), n).when(n.isNull(), o)
                .otherwise(combine(o, n)).alias(col))

    # keys: one side is null-filled on non-matches; null-safe
    # coalesce must distinguish "missing side" from "null key", so
    # pick via the side's _docs (always non-null on a present side)
    out = []
    for n in names:
        out.append(F.when(F.col("o._docs").isNotNull(),
                          F.col(f"o.{n}"))
                   .otherwise(F.col(f"n.{n}")).alias(n))
    out.append(both("_docs", lambda a, b: a + b))
    for name, spec in aggs.items():
        (kind, _), = spec.items()
        if kind in ("sum", "value_count"):
            out.append(both(name, lambda a, b: a + b))
        elif kind == "min":
            out.append(both(name, F.least))
        elif kind == "max":
            out.append(both(name, F.greatest))
        else:
            out.append(both(f"{name}__sum", lambda a, b: a + b))
            out.append(both(f"{name}__count", lambda a, b: a + b))
    return j.select(*out)


def transform_run(spark: SparkSession, source: str | DataFrame,
                  dest: str, body: dict[str, Any]) -> dict[str, Any]:
    """One (incremental) execution of the transform job.  Returns the
    updated state dict.  ``body``: ``{"pivot": {"group_by": [...],
    "aggregations": {...}}, "cursor_field": "ts"}`` — omitting
    ``cursor_field`` makes every run a full rebuild (batch mode)."""
    from .tables import load_table

    df = (source if isinstance(source, DataFrame)
          else load_table(spark, source))
    pivot = body["pivot"]
    aggs = pivot.get("aggregations") or {}
    cols, names = _group_cols(df, pivot["group_by"])

    state: dict[str, Any] = {"cursor": None, "runs": 0, "version": 0}
    if os.path.exists(_meta_path(dest)):
        with open(_meta_path(dest)) as f:
            state = json.load(f)
        if state.get("body_hash") != _body_hash(body):
            raise ValueError(
                "transform body changed since the last run — a "
                "different pivot cannot merge into the existing "
                "summary; use a new dest")

    cursor_field = body.get("cursor_field")
    new_rows = df
    if cursor_field is not None and state["cursor"] is not None:
        # cursor stored as a string, cast back to the column type so
        # the comparison pushes into the scan; rows that arrive LATER
        # with an older cursor value are missed by design (the
        # plugin's continuous mode has the same contract — bound
        # ingestion delay with the cursor field)
        dt = df.schema[cursor_field].dataType
        new_rows = df.filter(
            F.col(cursor_field) > F.lit(state["cursor"]).cast(dt))

    part = _partials(new_rows, cols, names, aggs,
                     cursor_field).persist()
    new_cursor = state.get("cursor")
    if cursor_field is not None:
        mx = part.agg(F.max("_cursor")).collect()[0][0]
        if mx is not None:
            new_cursor = str(mx)
        part = part.drop("_cursor")

    old_version = int(state.get("version", 0))
    old_path = _summary_path(dest, old_version)
    have_old = os.path.exists(os.path.join(old_path, "_SUCCESS"))
    if cursor_field is not None and have_old:
        old = spark.read.parquet(old_path)
        merged = _merge(old, part, names, aggs)
    else:
        merged = part

    new_version = old_version + 1
    new_path = _summary_path(dest, new_version)
    shutil.rmtree(new_path, ignore_errors=True)   # crashed orphan
    merged.write.mode("overwrite").parquet(new_path)
    part.unpersist()

    # the single commit point: version + cursor replace atomically
    state = {"cursor": new_cursor,
             "runs": int(state.get("runs", 0)) + 1,
             "version": new_version, "body_hash": _body_hash(body)}
    os.makedirs(dest, exist_ok=True)
    write_json(_meta_path(dest), state)

    # committed — older/orphaned versions are now garbage
    for d in os.listdir(dest):
        if d.startswith("summary_v") and \
                d != f"summary_v{new_version}":
            shutil.rmtree(os.path.join(dest, d), ignore_errors=True)
    return state


def transform_read(spark: SparkSession, dest: str,
                   body: dict[str, Any]) -> DataFrame:
    """Read the committed summary version, deriving ``avg`` columns
    from their sum/count carriers."""
    with open(_meta_path(dest)) as f:
        state = json.load(f)
    out = spark.read.parquet(
        _summary_path(dest, int(state["version"])))
    for name, spec in (body["pivot"].get("aggregations") or {}).items():
        (kind, _), = spec.items()
        if kind == "avg":
            out = (out.withColumn(
                name, F.col(f"{name}__sum") / F.col(f"{name}__count"))
                .drop(f"{name}__sum", f"{name}__count"))
    return out


def _body_hash(body: dict[str, Any]) -> str:
    import hashlib

    return hashlib.sha256(
        json.dumps(body, sort_keys=True).encode()).hexdigest()[:16]


def rollup_aggs(spark: SparkSession, dest: str,
                job_body: dict[str, Any],
                body: dict[str, Any]) -> DataFrame:
    """Search a rollup summary with regular agg semantics (the rollup
    plugin's search-on-rollup-index rewrite): group_by may be a SUBSET
    of the job's groups, date_histogram/histogram intervals may be any
    MULTIPLE of the job's (coarser re-bucketing), and each requested
    aggregation is rewritten onto its pre-aggregated carrier —
    sum/value_count → SUM of the carrier, min → MIN, max → MAX,
    avg → SUM(sum)/SUM(count), plus doc_count = SUM(_docs).  A request
    with no carrier (different field, finer interval, non-mergeable
    agg) raises by name instead of answering wrong.
    """
    from ..query.aggs_body import interval_ms

    job_pivot = job_body["pivot"]
    job_groups: dict[str, dict] = {}
    for g in job_pivot["group_by"]:
        (kind, spec), = g.items()
        name = spec.get("target_field", spec["field"])
        job_groups[spec["field"]] = {"kind": kind, "spec": spec,
                                     "name": name}
    job_aggs = job_pivot.get("aggregations") or {}

    # always the RAW summary: every carrier (incl. avg's sum/count
    # pair) lives there
    raw = spark.read.parquet(_summary_path(
        dest, int(_read_state(dest)["version"])))

    keys, names = [], []
    for g in body.get("group_by") or []:
        (kind, spec), = g.items()
        fld = spec["field"]
        jg = job_groups.get(fld)
        if jg is None:
            raise ValueError(
                f"rollup search group_by field {fld!r} was not a "
                f"job group_by ({sorted(job_groups)})")
        name = spec.get("target_field", jg["name"])
        col = F.col(jg["name"])
        if kind != jg["kind"]:
            raise ValueError(
                f"group_by kind mismatch on {fld!r}: job rolled up "
                f"by {jg['kind']}, requested {kind}")
        if kind == "date_histogram":
            q_iv = interval_ms(spec["fixed_interval"])
            j_iv = interval_ms(jg["spec"]["fixed_interval"])
            if q_iv % j_iv:
                raise ValueError(
                    f"requested interval must be a multiple of the "
                    f"job interval ({q_iv} % {j_iv} != 0)")
            col = F.timestamp_millis(
                (F.floor(F.unix_millis(col) / q_iv) * q_iv)
                .cast("long"))
        elif kind == "histogram":
            q_iv = float(spec["interval"])
            j_iv = float(jg["spec"]["interval"])
            if q_iv % j_iv:
                raise ValueError(
                    "requested interval must be a multiple of the "
                    "job interval")
            col = F.floor(col / q_iv) * q_iv
        keys.append(col.alias(name))
        names.append(name)

    def carrier(fld: str, kind: str) -> str:
        for cname, spec in job_aggs.items():
            (jk, jb), = spec.items()
            if jb["field"] == fld and jk == kind:
                return cname
        raise ValueError(
            f"no rollup carrier for {kind}({fld!r}) — the job must "
            f"pre-aggregate it")

    exprs = [F.sum("_docs").alias("doc_count")]
    for name, spec in (body.get("aggregations") or {}).items():
        (kind, b), = spec.items()
        fld = b["field"]
        if kind in ("sum", "value_count"):
            exprs.append(F.sum(carrier(fld, kind)).alias(name))
        elif kind == "min":
            exprs.append(F.min(carrier(fld, "min")).alias(name))
        elif kind == "max":
            exprs.append(F.max(carrier(fld, "max")).alias(name))
        elif kind == "avg":
            c = carrier(fld, "avg")
            exprs.append((F.sum(F.col(f"{c}__sum"))
                          / F.sum(F.col(f"{c}__count"))).alias(name))
        else:
            raise ValueError(
                f"unsupported rollup search aggregation {kind!r}")
    return raw.groupBy(*keys).agg(*exprs).orderBy(*names)


def _read_state(dest: str) -> dict[str, Any]:
    with open(_meta_path(dest)) as f:
        return json.load(f)
