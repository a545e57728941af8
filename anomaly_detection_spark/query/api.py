"""Small search-API surface around the planner: ``validate_query``
(_validate/query), ``field_caps`` (_field_caps), ``msearch``
(_msearch), ``count`` (_count) — the introspection/convenience
endpoints a reference user calls around ``search`` itself."""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .index_search import doc_frame
from .planner import compile_filter, search


def validate_query(target, query: dict[str, Any]) -> dict[str, Any]:
    """_validate/query analog: compile (never execute) the query and
    report whether the engine accepts it.  ``explanation`` carries
    the compiled Catalyst predicate string on success (the closest
    analog of the rewritten-Lucene-query string the reference
    returns with explain=true), ``error`` the rejection reason."""
    df = doc_frame(target)
    try:
        cond = compile_filter(df, query)
    except (ValueError, KeyError, TypeError) as e:
        return {"valid": False, "error": str(e)}
    return {"valid": True, "explanation": str(cond)}


_SEARCHABLE_TEXT = {T.StringType()}


def field_caps(target) -> list[dict[str, Any]]:
    """_field_caps analog: one row per field with its engine type and
    capabilities.  Every stored column is filterable ("searchable");
    numeric / timestamp / string scalars are aggregatable (they can
    key or feed an aggregation); array/struct columns aggregate only
    through the dedicated scope aggs — reported not aggregatable,
    like non-doc-values fields in the reference."""
    out = []
    for f in doc_frame(target).schema.fields:
        if f.name in ("tokens", "doc_len"):  # analysis internals
            continue
        scalar = not isinstance(f.dataType,
                                (T.ArrayType, T.StructType, T.MapType))
        out.append({
            "field": f.name,
            "type": f.dataType.simpleString(),
            "searchable": True,
            "aggregatable": scalar,
        })
    return out


def msearch(target, bodies: list[dict[str, Any]],
            text_field: str = "text", **kw) -> list[DataFrame]:
    """_msearch analog: plan every body against the shared target and
    return one (lazy) result frame per body — planning is sequential,
    execution stays deferred so callers can union / collect however
    they want (the reference's batched transport concern doesn't
    exist here)."""
    return [search(target, b, text_field=text_field, **kw)
            for b in bodies]


def count(target, query: dict[str, Any] | None = None) -> int:
    """_count analog: matching-doc count in filter context (scores
    never computed — the same shortcut the reference takes)."""
    df = doc_frame(target)
    if query and query != {"match_all": {}}:
        df = df.filter(compile_filter(df, query))
    return df.count()


def analyze(text: str) -> list[str]:
    """_analyze endpoint analog: the engine's (single, fixed) analysis
    chain — lowercase + Unicode word-break — applied to one string.
    The same tokenizer every index build and query path uses, so this
    IS the round-trip debugging surface the endpoint exists for."""
    from ..functions.tokenizer import tokenize_query

    return tokenize_query(text)


def suggest(target, sections: dict[str, Any]) -> dict[str, DataFrame]:
    """The search body's ``suggest`` section: named suggesters, each
    ``{"text": ..., "term": {...}}`` or ``{"text": ..., "phrase":
    {...}}``, dispatched to the term / phrase suggesters.  Returns
    one result frame per named section (lazy)."""
    from .suggest import (suggest_completions, suggest_phrases,
                          suggest_terms)

    out: dict[str, DataFrame] = {}
    for name, spec in sections.items():
        text = spec.get("text", spec.get("prefix"))
        if text is None:
            raise ValueError(
                f"suggest section {name!r} needs 'text' (or 'prefix')")
        kinds = set(spec) & {"term", "phrase", "completion"}
        if len(kinds) != 1:
            raise ValueError(
                f"suggest section {name!r} needs exactly one of "
                f"'term'/'phrase'/'completion'")
        kind = kinds.pop()
        body = dict(spec[kind])
        body.pop("field", None)  # single analyzed text field engine
        if kind == "term":
            out[name] = suggest_terms(target, text, **body)
        elif kind == "phrase":
            out[name] = suggest_phrases(target, text, **body)
        else:
            out[name] = suggest_completions(target, text, **body)
    return out


# ---------------------------------------------------------------------------
# search templates (_render/template + _search/template) — a mustache
# subset: {{var}} substitution, {{#toJson}}var{{/toJson}}, truthy
# sections {{#var}}...{{/var}}, inverted/default sections
# {{^var}}...{{/var}}.  List iteration (mustache's remaining feature)
# raises by name rather than silently mis-rendering.
# ---------------------------------------------------------------------------

def render_template(source: str | dict[str, Any],
                    params: dict[str, Any] | None = None
                    ) -> dict[str, Any]:
    """Render a stored search template to a search body.  ``source``
    is the template JSON text (or an already-parsed dict re-serialized
    first, convenient in tests); ``params`` the substitution values.
    Missing params render empty, like mustache — callers wanting a
    default write ``{{var}}{{^var}}fallback{{/var}}``."""
    import json
    import re

    params = params or {}
    text = source if isinstance(source, str) else json.dumps(source)

    def _tojson(m):
        name = m.group(1)
        if name not in params:
            raise ValueError(f"toJson param {name!r} missing")
        return json.dumps(params[name])

    text = re.sub(r"\{\{#toJson\}\}\s*(\w+)\s*\{\{/toJson\}\}",
                  _tojson, text)

    def _section(m):
        kind, name, body = m.group(1), m.group(2), m.group(3)
        v = params.get(name)
        if isinstance(v, (list, tuple)):
            raise ValueError(
                f"mustache list iteration over {name!r} unsupported — "
                f"pass the list through {{{{#toJson}}}}")
        truthy = bool(v) or v == 0 and v is not False
        return body if (truthy if kind == "#" else not truthy) else ""

    sec_re = re.compile(r"\{\{([#^])(\w+)\}\}(.*?)\{\{/\2\}\}", re.S)
    while sec_re.search(text):
        text = sec_re.sub(_section, text)

    def _var(m):
        v = params.get(m.group(1), "")
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, (dict, list)):
            raise ValueError(
                f"param {m.group(1)!r} is structured — use "
                f"{{{{#toJson}}}}")
        return str(v)

    text = re.sub(r"\{\{(\w+)\}\}", _var, text)
    try:
        return json.loads(text)
    except json.JSONDecodeError as e:
        raise ValueError(
            f"rendered template is not valid JSON: {e}\n{text}") from e


def search_template(target, source: str | dict[str, Any],
                    params: dict[str, Any] | None = None,
                    **kw) -> DataFrame:
    """_search/template analog: render then search."""
    return search(target, render_template(source, params), **kw)


def msearch_template(target, entries: list[dict[str, Any]],
                     **kw) -> list[DataFrame]:
    """_msearch/template analog: each entry is
    ``{"source"|"template": ..., "params": {...}}`` — render every
    template, then plan like :func:`msearch` (lazy frames)."""
    bodies = []
    for e in entries:
        src = e.get("source", e.get("template"))
        if src is None:
            raise ValueError(
                "msearch_template entries need 'source' (or "
                "'template')")
        bodies.append(render_template(src, e.get("params")))
    return msearch(target, bodies, **kw)


# ---------------------------------------------------------------------------
# point in time (_pit) — a DataFrame is already an immutable logical
# plan, but it re-reads storage per action; the PIT pins the ROWS via
# an eager local checkpoint, so searches against the handle see the
# same data even if the backing table is rewritten (delete_by_query /
# update_by_query) meanwhile — the reference's segment-retention
# contract.
# ---------------------------------------------------------------------------

class PointInTime:
    """Snapshot handle: ``pit.df`` is the pinned frame; ``search``
    plans against it."""

    def __init__(self, df: DataFrame):
        self.df = df.localCheckpoint(eager=True)
        self.open = True

    def search(self, body: dict[str, Any], **kw) -> DataFrame:
        if not self.open:
            raise ValueError("point in time is closed")
        return search(self.df, body, **kw)

    def close(self) -> None:
        self.df.unpersist()
        self.open = False


def open_point_in_time(target) -> PointInTime:
    """_pit analog over a table frame (index targets are already
    immutable segment directories — pass ``reader.doc_stats()`` if a
    pinned stats view is wanted)."""
    return PointInTime(doc_frame(target))


def termvectors(target, docid: int, text_field: str = "text"
                ) -> list[dict[str, Any]]:
    """_termvectors analog: per-term (term, tf, positions) for ONE doc.

    The reference re-analyzes the stored source on the fly when the
    field doesn't store term vectors — same here: one-row fetch (index
    doc fetch or a docid filter), the shared analyzer on the driver,
    positions = token indices.  Sorted by term."""
    from collections import defaultdict

    from ..functions.tokenizer import tokenize_query

    row = doc_frame(target).filter(F.col("docid") == int(docid)).collect()
    if not row:
        raise ValueError(f"docid {docid} not found")
    cols = row[0].asDict()
    if text_field not in cols:
        raise ValueError(
            f"field {text_field!r} is not stored on this target "
            f"(index targets need keep_cols at build time)")
    toks = tokenize_query(str(cols[text_field] or ""))
    pos: dict[str, list[int]] = defaultdict(list)
    for i, t in enumerate(toks):
        pos[t].append(i)
    return [{"term": t, "tf": len(ps), "positions": ps}
            for t, ps in sorted(pos.items())]


def mtermvectors(target, docids: list[int],
                 text_field: str = "text") -> dict[int, list[dict]]:
    """_mtermvectors analog: one :func:`termvectors` result per id
    (single fetch per id — callers wanting corpus-scale term stats use
    the analyzed frame / postings directly)."""
    return {d: termvectors(target, d, text_field=text_field)
            for d in docids}
