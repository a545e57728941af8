"""Star-tree index analog: index-time pre-aggregation across EVERY
dimension combination, with query routing onto the exact pre-computed
slice.

Reference surface: OpenSearch's composite ``star_tree`` index
(star-tree field mapping: ordered dims incl. a date dimension with
calendar/fixed intervals, metric stats sum/value_count/min/max/avg;
the query layer routes supported aggregations onto star-tree nodes
instead of scanning docs).  The reference's tree stores star(*) nodes
that aggregate out a dimension; descending the tree picks, per query,
the node set with exactly the needed dimensions materialized.

Spark-first shape: the star-tree flattened is precisely ``CUBE`` — one
``df.cube(dims).agg(...)`` computes all 2^k groupings in a single
pass (map-side partial aggregation + one shuffle), and
``grouping_id()`` identifies each grouping.  The cube is written
partitioned by that grouping id, so query routing is PARTITION
PRUNING: a query needing dims S reads only the one slice where
exactly S is materialized — the scan never touches the other
groupings, the same read-amplification win as descending the tree.
``max_leaf_docs`` has no analog because there is no tree to balance;
the slice rows are already fully aggregated.

Carried stats are the MERGEABLE set (sum / value_count / min / max,
avg as sum+count carriers — same posture as ``sources/transform.py``):
a filter on a dim outside the grouping re-aggregates carriers within
the slice, which is exact for mergeable stats and would be silently
wrong for percentiles/cardinality — those reject by name at build.

Scale: k dims → 2^k groupings from ONE shuffle over the corpus
(Spark's cube rewrite, partials combine map-side); k is capped at 8
(256 groupings — the reference caps star-tree dims at 10 for the same
blow-up reason).  Query-time work is a partition-pruned scan of one
slice bounded by the distinct-combo count of the needed dims, never
by corpus size.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .storage import write_json

__all__ = ["build_star_tree", "star_tree_search"]

_MERGEABLE = {"sum", "value_count", "min", "max", "avg"}
_MAX_DIMS = 8


def _meta_path(dest: str) -> str:
    return os.path.join(dest, "_star_tree.json")


def _carriers(metrics: dict[str, dict]) -> list:
    """Aggregation carriers for the cube pass (avg → sum+count)."""
    cols = []
    for name, spec in metrics.items():
        (kind, b), = spec.items()
        if kind not in _MERGEABLE:
            raise ValueError(
                f"star_tree metric {kind!r} is not mergeable — "
                f"supported: {sorted(_MERGEABLE)} (a pre-aggregated "
                f"percentile/cardinality would re-merge wrong)")
        fld = b["field"]
        if kind == "sum":
            cols.append(F.sum(fld).alias(name))
        elif kind == "value_count":
            cols.append(F.count(fld).alias(name))
        elif kind == "min":
            cols.append(F.min(fld).alias(name))
        elif kind == "max":
            cols.append(F.max(fld).alias(name))
        else:  # avg
            cols.append(F.sum(fld).alias(f"{name}__sum"))
            cols.append(F.count(fld).alias(f"{name}__count"))
    return cols


def build_star_tree(
    df: DataFrame,
    dest: str,
    dims: list[dict[str, Any] | str],
    metrics: dict[str, dict],
) -> None:
    """Materialize the cube.

    ``dims``: ordered list of ``"field"`` (terms dim) or
    ``{"field": f, "fixed_interval": "1h"}`` (date dim, pre-bucketed —
    queries may re-bucket at any multiple).  ``metrics``:
    ``{name: {kind: {"field": f}}}`` with mergeable kinds only.
    """
    from ..query.aggs import to_millis
    from ..query.aggs_body import interval_ms

    if not dims:
        raise ValueError("star_tree needs at least one dimension")
    if len(dims) > _MAX_DIMS:
        raise ValueError(
            f"star_tree supports at most {_MAX_DIMS} dims "
            f"(2^k groupings — got {len(dims)})")
    dim_meta: list[dict[str, Any]] = []
    dim_cols = []
    for d in dims:
        if isinstance(d, str):
            d = {"field": d}
        unknown = set(d) - {"field", "target_field", "fixed_interval"}
        if unknown:
            raise ValueError(
                f"star_tree dim options {sorted(unknown)} unsupported "
                f"(field/target_field/fixed_interval only — a "
                f"calendar_interval dim would silently degrade to a "
                f"raw-timestamp terms dim)")
        fld = d["field"]
        name = d.get("target_field", fld)
        if "fixed_interval" in d:
            iv = interval_ms(d["fixed_interval"])
            col = F.timestamp_millis(
                (F.floor(to_millis(fld) / iv) * iv)
                .cast("long"))
            dim_meta.append({"field": fld, "name": name,
                             "interval_ms": iv})
        else:
            col = F.col(fld)
            dim_meta.append({"field": fld, "name": name})
        dim_cols.append(col.alias(name))
    names = [m["name"] for m in dim_meta]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate dim names: {names}")

    cube = (df.select(*dim_cols, *{
                spec[next(iter(spec))]["field"]
                for spec in metrics.values()})
            .cube(*[F.col(n) for n in names])
            .agg(F.count(F.lit(1)).alias("_docs"),
                 *_carriers(metrics),
                 F.grouping_id().alias("_gid")))
    os.makedirs(dest, exist_ok=True)
    # repartition by (_gid, dims), not _gid alone: each slice still
    # lands in its own partition dir, but the big gid=0 slice (all k
    # dims materialized) spreads over many writer tasks instead of
    # funneling through one.
    (cube.repartition(F.col("_gid"), *[F.col(n) for n in names])
     .write.mode("overwrite").partitionBy("_gid")
     .parquet(os.path.join(dest, "cube")))
    write_json(_meta_path(dest), {"dims": dim_meta, "metrics": metrics})


def _filter_conds(meta_dims: list[dict], query: dict | None
                  ) -> tuple[list, set[str]]:
    """Compile the query section (term/terms on dims, bool.filter of
    those, match_all) to (conditions, touched dim names)."""
    conds: list = []
    touched: set[str] = set()
    by_field = {m["field"]: m for m in meta_dims}

    def one(q: dict) -> None:
        (kind, body), = q.items()
        if kind == "match_all":
            return
        if kind == "bool":
            extra = set(body) - {"filter"}
            if extra:
                raise ValueError(
                    f"star_tree query bool supports filter only, "
                    f"got {sorted(extra)}")
            subs = body.get("filter") or []
            if isinstance(subs, dict):  # single-clause form
                subs = [subs]
            for sub in subs:
                one(sub)
            return
        if kind not in ("term", "terms"):
            raise ValueError(
                f"star_tree queries support term/terms on dims "
                f"(got {kind!r}) — anything else must scan docs")
        (fld, val), = body.items()
        m = by_field.get(fld)
        if m is None:
            raise ValueError(
                f"star_tree filter field {fld!r} is not a dim "
                f"({sorted(by_field)}) — route this query to the "
                f"docs scan")
        if "interval_ms" in m:
            raise ValueError(
                f"term filter on date dim {fld!r} unsupported — "
                f"filter buckets after a date_histogram grouping")
        touched.add(m["name"])
        if kind == "term":
            v = val["value"] if isinstance(val, dict) else val
            conds.append(F.col(m["name"]) == F.lit(v))
        else:
            conds.append(F.col(m["name"]).isin(list(val)))

    one(query or {"match_all": {}})
    return conds, touched


def star_tree_search(spark: SparkSession, dest: str,
                     body: dict[str, Any]) -> DataFrame:
    """Serve an aggregation body from the cube.

    Supported shape: optional ``query`` (term/terms on dims, bare or
    under bool.filter), ``group_by`` (list of terms /
    date_histogram-on-the-date-dim entries — intervals any MULTIPLE of
    the build interval), ``aggregations`` ({name: {kind: {field}}}
    rewritten onto carriers) — plus ``doc_count`` always.  Routing
    reads exactly ONE cube slice (partition-pruned by grouping id);
    re-aggregation happens only over that slice's carriers.
    """
    from ..query.aggs import to_millis
    from ..query.aggs_body import interval_ms

    with open(_meta_path(dest)) as f:
        meta = json.load(f)
    dims, job_metrics = meta["dims"], meta["metrics"]
    by_field = {m["field"]: m for m in dims}

    conds, filter_dims = _filter_conds(dims, body.get("query"))

    keys, names = [], []
    group_dims: set[str] = set()
    for g in body.get("group_by") or []:
        (kind, spec), = g.items()
        fld = spec["field"]
        m = by_field.get(fld)
        if m is None:
            raise ValueError(
                f"group_by field {fld!r} is not a star_tree dim "
                f"({sorted(by_field)})")
        name = spec.get("target_field", m["name"])
        col = F.col(m["name"])
        if kind == "date_histogram":
            if "interval_ms" not in m:
                raise ValueError(
                    f"dim {fld!r} was not built as a date dim")
            q_iv = interval_ms(spec["fixed_interval"])
            if q_iv % m["interval_ms"]:
                raise ValueError(
                    f"requested interval must be a multiple of the "
                    f"build interval ({q_iv} % {m['interval_ms']})")
            col = F.timestamp_millis(
                (F.floor(F.unix_millis(col.cast("timestamp")) / q_iv) * q_iv)
                .cast("long"))
        elif kind != "terms":
            raise ValueError(
                f"unsupported star_tree group_by kind {kind!r}")
        group_dims.add(m["name"])
        keys.append(col.alias(name))
        names.append(name)

    # slice selection: the grouping with exactly (group ∪ filter) dims
    # materialized.  grouping_id bit i (dim order, MSB-first) is 1
    # when dim i was aggregated out (starred).
    needed = group_dims | filter_dims
    gid = 0
    for i, m in enumerate(dims):
        if m["name"] not in needed:
            gid |= 1 << (len(dims) - 1 - i)
    # read the routed slice's partition DIRECTORY directly (basePath
    # keeps _gid as a column): pruning happens at file-listing time —
    # the reader never lists or footer-reads the other 2^k−1 slices,
    # the literal analog of descending the star tree to one node set
    cube_path = os.path.join(dest, "cube")
    slice_dir = os.path.join(cube_path, f"_gid={gid}")
    from pyspark.errors import AnalysisException

    try:
        # try/except instead of a local isdir so the pruning also
        # holds for hdfs://-style dests Spark can read but the local
        # os module can't see (the meta JSON above is the documented
        # local/shared-fs scope; the cube itself may live anywhere)
        raw = (spark.read.option("basePath", cube_path)
               .parquet(slice_dir))
    except AnalysisException:
        # degenerate cube (e.g. built from an empty frame writes no
        # partition dirs): fall back to the root read — same result,
        # no listing-pruning win to be had
        raw = (spark.read.parquet(cube_path)
               .filter(F.col("_gid") == gid))
    for c in conds:
        raw = raw.filter(c)

    def carrier(fld: str, kind: str) -> str:
        for cname, spec in job_metrics.items():
            (jk, jb), = spec.items()
            if jb["field"] == fld and jk == kind:
                return cname
        raise ValueError(
            f"no star_tree carrier for {kind}({fld!r}) — add it to "
            f"the build metrics")

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
            exprs.append((F.sum(f"{c}__sum")
                          / F.sum(f"{c}__count")).alias(name))
        else:
            raise ValueError(
                f"unsupported star_tree search aggregation {kind!r}")
    if not keys:
        return raw.agg(*exprs)
    return raw.groupBy(*keys).agg(*exprs).orderBy(*names)
