"""Filtered aliases — the OpenSearch alias API analog
(``IndicesAliasesRequest``; detector configs routinely point at an
alias whose filter scopes a shared physical index, and time-sliced
corpora hide N monthly tables behind one read alias).

An alias registry is one JSON file (atomic tmp+rename writes, like the
index meta):

    {"alias": {"tables": ["/data/tx_2024*", "db.events"],
               "filter": {...query DSL...} | null,
               "write_table": "db.events" | null}}

``resolve_alias`` loads the union of the member tables (glob/list
semantics from :func:`load_table`) and applies the stored filter as a
compiled filter-context predicate — the alias filter composes with any
query the caller runs on top, exactly like the reference ANDs the
alias filter into every search.  ``write_table`` designates the single
member writes go to (the reference's ``is_write_index``); appends
through an alias without one raise, like OpenSearch.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..index.storage import write_json
from .tables import load_table, write_table


def _read(path: str) -> dict:
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def _write(path: str, reg: dict) -> None:
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    write_json(path, reg, indent=1, sort_keys=True)


def put_alias(
    registry_path: str,
    alias: str,
    tables: list[str] | str,
    filter_query: dict[str, Any] | None = None,
    write_table_ident: str | None = None,
    spark: SparkSession | None = None,
) -> None:
    """Create or replace an alias (the add-alias action).  Pass
    ``spark`` to validate the filter at PUT time by compiling it
    against the member union's schema — a bad filter then fails here,
    like OpenSearch, not at first search."""
    tables = [tables] if isinstance(tables, str) else list(tables)
    if filter_query is not None and spark is not None:
        from ..query.planner import compile_filter

        compile_filter(load_table(spark, tables), filter_query)
    if not tables:
        raise ValueError("alias needs at least one member table")
    if write_table_ident is not None and write_table_ident not in tables:
        raise ValueError(
            f"write table {write_table_ident!r} must be an alias member")
    reg = _read(registry_path)
    reg[alias] = {"tables": tables, "filter": filter_query,
                  "write_table": write_table_ident}
    _write(registry_path, reg)


def delete_alias(registry_path: str, alias: str) -> None:
    reg = _read(registry_path)
    if alias not in reg:
        raise KeyError(f"alias {alias!r} does not exist")
    del reg[alias]
    _write(registry_path, reg)


def get_aliases(registry_path: str) -> dict:
    """The whole registry (the GET _alias shape)."""
    return _read(registry_path)


def resolve_alias(spark: SparkSession, registry_path: str,
                  alias: str) -> DataFrame:
    """Alias → filtered union DataFrame.  The stored filter compiles in
    filter context against the union's columns; callers' queries stack
    on top (AND), mirroring the reference."""
    reg = _read(registry_path)
    if alias not in reg:
        raise KeyError(f"alias {alias!r} does not exist")
    spec = reg[alias]
    df = load_table(spark, spec["tables"])
    if spec.get("filter") is not None:
        from ..query.planner import compile_filter

        df = df.filter(compile_filter(df, spec["filter"]))
    return df


def write_through_alias(df: DataFrame, registry_path: str, alias: str,
                        mode: str = "append") -> None:
    """Append via the alias's designated write table; no write table →
    raise (OpenSearch: 'no write index is defined for alias')."""
    reg = _read(registry_path)
    if alias not in reg:
        raise KeyError(f"alias {alias!r} does not exist")
    wt = reg[alias].get("write_table")
    if not wt:
        raise ValueError(
            f"no write table is defined for alias {alias!r}")
    write_table(df, wt, mode=mode)


def rollover_alias(
    spark: SparkSession,
    registry_path: str,
    alias: str,
    conditions: dict[str, Any] | None = None,
    new_table_ident: str | None = None,
) -> dict[str, Any]:
    """``_rollover`` analog: when the alias's WRITE table satisfies any
    condition (``max_docs``, ``max_size_bytes``), create the next
    generation table, point the alias's write table at it, and keep
    the old generation as a read member — the index-lifecycle rollover
    the reference's ISM policies drive.

    ``new_table_ident`` defaults to the ``<stem>-NNNNNN`` convention:
    a trailing number in the current write table's name increments,
    otherwise ``-000002`` is appended.  Returns the rollover response
    shape: ``{"rolled_over": bool, "conditions": {name: bool}, "old":
    ..., "new": ...}``.  With no conditions the rollover is
    unconditional (the reference's empty-body behavior).
    """
    import re

    reg = _read(registry_path)
    if alias not in reg:
        raise KeyError(f"alias {alias!r} does not exist")
    spec = reg[alias]
    wt = spec.get("write_table")
    if not wt:
        raise ValueError(
            f"no write table is defined for alias {alias!r}")

    met: dict[str, bool] = {}
    if conditions:
        unknown = set(conditions) - {"max_docs", "max_size_bytes"}
        if unknown:
            raise ValueError(
                f"unsupported rollover conditions: {sorted(unknown)}")
        cur = load_table(spark, wt)
        if "max_docs" in conditions:
            met["max_docs"] = cur.count() >= int(conditions["max_docs"])
        if "max_size_bytes" in conditions:
            size = sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _, fs in os.walk(wt) for f in fs) \
                if os.path.isdir(wt) else 0
            met["max_size_bytes"] = (
                size >= int(conditions["max_size_bytes"]))
        if not any(met.values()):
            return {"rolled_over": False, "conditions": met,
                    "old": wt, "new": None}

    if new_table_ident is None:
        m = re.fullmatch(r"(.*?)(\d+)", wt)
        if m:
            new_table_ident = (m.group(1)
                               + str(int(m.group(2)) + 1)
                               .zfill(len(m.group(2))))
        else:
            new_table_ident = wt + "-000002"
    if new_table_ident in spec["tables"]:
        raise ValueError(
            f"rollover target {new_table_ident!r} is already an "
            f"alias member")
    # the new generation starts EMPTY with the old schema, so reads
    # union cleanly before the first write lands
    load_table(spark, wt).limit(0).write.mode("error") \
        .parquet(new_table_ident)
    reg[alias] = {**spec,
                  "tables": spec["tables"] + [new_table_ident],
                  "write_table": new_table_ident}
    _write(registry_path, reg)
    return {"rolled_over": True, "conditions": met, "old": wt,
            "new": new_table_ident}
