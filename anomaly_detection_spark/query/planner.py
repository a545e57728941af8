"""Query-DSL planner: the OpenSearch query JSON subset the plugin
accepts (SURVEY.md §2.1) → Catalyst ``Column`` predicates + scored
match clauses.

The plugin parses user ``filter_query`` JSON through the OpenSearch
registry and wraps it in a bool with a timestamp range
(``ParseUtils.java:120-123``, ``SearchFeatureDao.java:295-302``); we
compile the same shapes onto a DataFrame:

    bool(must/filter/should/must_not)   → &, |, ~ on Columns (Q1)
    term / terms                        → ==, isin (Q2, Q3)
    range (gte/gt/lte/lt, epoch_millis) → comparisons (Q4)
    match_all                           → lit(True) (Q5)
    match (filter ctx)                  → any-analyzed-token containment (Q6)
    exists                              → isNotNull (Q7)
    wildcard                            → LIKE translation (Q8)
    nested                              → F.exists over array<struct> (Q9)

Scored ``match`` (top-level must/should) routes to the BM25 engine via
:func:`search`; everything else is filter-context (ScoreMode.None, as
the plugin uses nested/filters — ``ParseUtils.java:458-461``).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from ..localdf import local_df

from ..functions.tokenizer import tokenize_column, tokenize_query


@dataclass
class QueryPlan:
    """Filter predicate (may be None = match_all) + scored match clauses."""
    filter_cond: Column | None
    # (field, text, operator) — operator "or" (default) or "and"
    matches: list[tuple[str, str, str]] = field(default_factory=list)
    # query-time synonym table of the scored match clauses (SynonymQuery
    # blended scoring); one table per query — conflicting tables raise
    synonyms: dict | None = None


def _ts_type(df: DataFrame, fld: str) -> T.DataType | None:
    try:
        dt = df.schema[fld].dataType
    except KeyError:
        return None
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return dt
    return None


def _ts_value(v: Any, dt: T.DataType) -> Column:
    """epoch_millis number or ISO string → timestamp literal matching the
    column's type (TIMESTAMP or TIMESTAMP_NTZ; session TZ pinned UTC, so
    the cast is value-preserving).  Half-open [gte, lt) semantics as in
    SearchFeatureDao.java:295-300."""
    if isinstance(v, (int, float)):
        return F.timestamp_millis(F.lit(int(v))).cast(dt)
    return F.lit(v).cast(dt)


def _glob_to_like(pat: str) -> str:
    esc = pat.replace("\\", "\\\\").replace("%", r"\%").replace("_", r"\_")
    return esc.replace("*", "%").replace("?", "_")


def _field_value(spec: Any, key: str = "value") -> Any:
    return spec.get(key) if isinstance(spec, dict) else spec


def _ci(spec: Any) -> bool:
    """``case_insensitive`` flag (term/wildcard/prefix/regexp specs)."""
    return isinstance(spec, dict) and bool(spec.get("case_insensitive"))


def parse_msm(msm, n_clauses: int) -> int:
    """``minimum_should_match`` → required count: int / "N" / "N%"
    (percent of clauses, rounded DOWN like Lucene), clamped to
    [1, n_clauses]; negative forms mean "all but N" / "all but N%"."""
    s = str(msm).strip()
    if s.endswith("%"):
        pct = float(s[:-1])
        n = (int(n_clauses * pct / 100.0) if pct >= 0
             else n_clauses + int(n_clauses * pct / 100.0))
    else:
        v = int(s)
        n = v if v >= 0 else n_clauses + v
    return max(1, min(n, n_clauses))


def compile_filter(df: DataFrame, query: dict[str, Any]) -> Column:
    """Compile a filter-context query (no scoring) to a Column.  One
    ``now`` is pinned for the whole tree, so every date-math clause in
    one query agrees (the reference pins `now` per request)."""
    from ..functions.datemath import pin_now

    with pin_now():
        plan = plan_query(df, query, scoring=False)
    cond = plan.filter_cond
    return F.lit(True) if cond is None else cond


def _span_tree_plan(fld: str, node: dict) -> QueryPlan:
    """Filter plan for a parsed span tree: single-field trees run the
    batch kernel over one token array; trees with masked leaves
    (field_masking_span) read every involved field's token array."""
    from ..functions.spans import (span_tree_match_expr,
                                   span_tree_match_expr_fields,
                                   tree_leaf_fields)
    from ..functions.tokenizer import tokenize_column

    leaf_fields = tree_leaf_fields(node)
    if leaf_fields - {None}:
        fields = sorted({f for f in leaf_fields if f} | {fld})
        cols = {f: tokenize_column(f) for f in fields}
        return QueryPlan(
            F.coalesce(span_tree_match_expr_fields(cols, node, fld),
                       F.lit(False)))
    return QueryPlan(
        F.coalesce(span_tree_match_expr(tokenize_column(fld), node),
                   F.lit(False)))


def plan_query(df: DataFrame, query: dict[str, Any], scoring: bool = True) -> QueryPlan:
    if not query:
        return QueryPlan(None)
    (kind, body), = query.items()

    if kind == "match_all":
        return QueryPlan(None)

    if kind == "match_none":
        return QueryPlan(F.lit(False))

    if kind == "wrapper":
        # WrapperQueryBuilder: base64-encoded JSON query, re-planned
        import base64
        import json as _json

        raw = body["query"] if isinstance(body, dict) else body
        inner = _json.loads(base64.b64decode(raw))
        return plan_query(df, inner, scoring=scoring)

    if kind == "bool":
        conds: list[Column] = []
        matches: list[tuple[str, str]] = []
        syn_merged: dict | None = None

        def _merge_syn(p):
            nonlocal syn_merged
            if p.synonyms is None:
                return
            if syn_merged is not None and syn_merged != p.synonyms:
                raise ValueError(
                    "conflicting synonym tables across scored match "
                    "clauses of one bool query")
            syn_merged = p.synonyms

        for ctx in ("must", "filter"):
            for sub in _as_list(body.get(ctx)):
                p = plan_query(df, sub, scoring=scoring and ctx == "must")
                if p.filter_cond is not None:
                    conds.append(p.filter_cond)
                matches.extend(p.matches)
                _merge_syn(p)
        shoulds = _as_list(body.get("should"))
        if shoulds:
            # OpenSearch defaults: minimum_should_match is 0 when must/
            # filter clauses exist (should affects scoring only) and 1
            # otherwise (BoolQueryBuilder minimumShouldMatch semantics).
            has_required = bool(conds) or bool(matches)
            msm = body.get("minimum_should_match", 0 if has_required else 1)
            if not isinstance(msm, int) or msm < 0 or msm > len(shoulds):
                raise ValueError(
                    f"minimum_should_match must be an int in "
                    f"[0, {len(shoulds)}]: {msm!r}")
            sub_plans = [plan_query(df, s, scoring=scoring) for s in shoulds]
            for p in sub_plans:
                matches.extend(p.matches)
                _merge_syn(p)
            pure_scored = scoring and all(
                p.matches and p.filter_cond is None for p in sub_plans)
            if msm == 0 or (msm == 1 and pure_scored):
                # msm=0: scoring-only.  Pure scored disjunction: BM25
                # SHOULD already enforces msm=1 (score > 0 ⇔ ≥1 clause).
                pass
            elif msm == 1:
                # msm=1 with a mixed disjunction: every clause — scored
                # match included — contributes its filter-context
                # predicate to the OR, so docs matching only the match
                # clause stay in the result set.
                ors = []
                for s in shoulds:
                    fp = plan_query(df, s, scoring=False)
                    ors.append(F.lit(True) if fp.filter_cond is None
                               else fp.filter_cond)
                acc = ors[0]
                for c in ors[1:]:
                    acc = acc | c
                conds.append(acc)
            else:
                # msm >= 2 ("at least m of k", BoolQueryBuilder
                # minimumShouldMatch): Σ int(clause_i) >= m.  NULL
                # predicates count as non-matching (coalesce→FALSE),
                # matching OpenSearch's null-never-matches semantics.
                total = None
                for s in shoulds:
                    fp = plan_query(df, s, scoring=False)
                    c = (F.lit(True) if fp.filter_cond is None
                         else fp.filter_cond)
                    hit = F.coalesce(c, F.lit(False)).cast("int")
                    total = hit if total is None else total + hit
                conds.append(total >= F.lit(msm))
        for sub in _as_list(body.get("must_not")):
            p = plan_query(df, sub, scoring=False)
            if p.filter_cond is not None:
                # NOT with OpenSearch semantics: null never matches either side
                conds.append(~F.coalesce(p.filter_cond, F.lit(False)))
        cond = None
        for c in conds:
            cond = c if cond is None else cond & c
        return QueryPlan(cond, matches, synonyms=syn_merged)

    if kind == "term":
        (fld, spec), = body.items()
        if _ci(spec):
            return QueryPlan(F.lower(F.col(fld))
                             == F.lit(str(_field_value(spec)).lower()))
        return QueryPlan(F.col(fld) == F.lit(_field_value(spec)))

    if kind == "terms":
        (fld, vals), = body.items()
        if isinstance(vals, dict):
            # terms LOOKUP (TermsQueryBuilder termsLookup): fetch the
            # value list from another document's field at rewrite time
            # — the reference issues a GET during query rewrite, here
            # a one-row driver fetch against this target (an explicit
            # ``index`` naming a different store is out of scope — the
            # engine is single-table per search)
            if "path" not in vals or "id" not in vals:
                raise ValueError(
                    "terms lookup needs {'id': ..., 'path': ...}")
            if set(vals) - {"id", "path", "index"}:
                raise ValueError(
                    f"unsupported terms lookup keys: "
                    f"{sorted(set(vals) - {'id', 'path', 'index'})}")
            row = (df.filter(F.col("docid") == int(vals["id"]))
                   .select(vals["path"]).limit(1).collect())
            got = row[0][0] if row else None
            looked = (got if isinstance(got, list)
                      else [] if got is None else [got])
            if not looked:
                return QueryPlan(F.lit(False))
            return QueryPlan(F.col(fld).isin(list(looked)))
        return QueryPlan(F.col(fld).isin(list(vals)))

    if kind == "range":
        (fld, spec), = body.items()
        ts_dt = _ts_type(df, fld)
        # date-math endpoints ("now-7d/d", "2025-06-01||+1M/M" — the
        # reference's DateMathParser grammar) resolve to epoch millis
        # at compile time; "now_ms" in the spec pins `now` (the
        # reference pins it per request; tests and replayable jobs
        # need the pin explicit).  One value captured up front so
        # every endpoint in this clause sees the same `now`.
        import time as _time

        from ..functions.datemath import (datemath_ms, is_date_math,
                                          pinned_now_ms)

        now_ms = spec.get("now_ms")
        if now_ms is None:
            # one `now` per request: compile_filter pins it, so every
            # now-based clause in one query tree agrees
            now_ms = pinned_now_ms()
        if now_ms is None:
            now_ms = int(_time.time() * 1000)

        def conv(v):
            if ts_dt is not None and is_date_math(v):
                v = datemath_ms(v, now_ms)
            return _ts_value(v, ts_dt) if ts_dt is not None else F.lit(v)

        cond = None
        for op, fn in (("gte", "__ge__"), ("gt", "__gt__"),
                       ("lte", "__le__"), ("lt", "__lt__")):
            if op in spec:
                c = getattr(F.col(fld), fn)(conv(spec[op]))
                cond = c if cond is None else cond & c
        return QueryPlan(cond)

    if kind == "exists":
        fld = body["field"]
        cond = F.col(fld).isNotNull()
        if isinstance(df.schema[fld].dataType, T.ArrayType):
            # the reference treats [] as "no value" — an empty array
            # does NOT exist (ExistsQueryBuilder over doc values)
            cond = cond & (F.size(fld) > 0)
        return QueryPlan(cond)

    if kind == "wildcard":
        (fld, spec), = body.items()
        col, val = F.col(fld), _field_value(spec)
        if _ci(spec):
            col, val = F.lower(col), str(val).lower()
        return QueryPlan(col.like(_glob_to_like(val)))

    if kind == "prefix":
        (fld, spec), = body.items()
        col, val = F.col(fld), _field_value(spec)
        if _ci(spec):
            col, val = F.lower(col), str(val).lower()
        return QueryPlan(col.startswith(F.lit(val)))

    if kind == "regexp":
        # Lucene RegexpQuery is FULLY ANCHORED (the pattern must match
        # the whole keyword value); Spark rlike is substring — anchor it
        (fld, spec), = body.items()
        pat = _field_value(spec)
        flags = "(?i)" if _ci(spec) else ""
        return QueryPlan(F.col(fld).rlike(f"{flags}^(?:{pat})$"))

    if kind == "fuzzy":
        # FuzzyQuery (transpositions=true default): OSA edit distance ≤
        # fuzziness on the keyword value — adjacent transposition = ONE
        # edit, matching Lucene's transposition automaton ('ab'~'ba' at
        # fuzziness 1 matches; plain levenshtein would miss it).  Edits
        # of 0 shortcut to equality (pure codegen, no UDF).
        from ..functions.fuzzy import osa_distance, parse_fuzziness

        (fld, spec), = body.items()
        val = str(_field_value(spec))
        fz = spec.get("fuzziness", "AUTO") if isinstance(spec, dict) else "AUTO"
        max_edits = parse_fuzziness(fz, val)
        if max_edits == 0:
            return QueryPlan(F.col(fld) == F.lit(val))
        # cheap codegen pre-filter: |len(a)-len(b)| > f ⇒ distance > f,
        # so the Arrow UDF only sees length-plausible candidates
        len_ok = F.abs(F.length(fld) - F.lit(len(val))) <= F.lit(max_edits)
        return QueryPlan(len_ok
                         & (osa_distance(fld, val) <= F.lit(max_edits)))

    if kind == "ids":
        # IdsQueryBuilder — docid membership (get-by-id's query twin)
        return QueryPlan(F.col(body.get("field", "docid"))
                         .isin(list(body["values"])))

    if kind == "geo_distance":
        # GeoDistanceQueryBuilder: haversine(point, origin) ≤ distance.
        # Pure-codegen arithmetic predicate — pushes to the scan.
        from ..functions.geo import (geo_columns, haversine_m,
                                     parse_distance, parse_point)

        opts = {"distance", "distance_type", "validation_method",
                "_name", "ignore_unmapped", "boost"}
        dtype = body.get("distance_type", "arc")
        if dtype != "arc":
            raise ValueError(
                f"geo_distance distance_type {dtype!r} unsupported "
                "(only 'arc'; 'plane' is an accuracy downgrade the "
                "engine never needs — haversine is already codegen)")
        flds = [k for k in body if k not in opts]
        if len(flds) != 1:
            raise ValueError(f"geo_distance needs exactly one field, "
                             f"got {flds}")
        fld = flds[0]
        lat, lon = parse_point(body[fld])
        lat_c, lon_c = geo_columns(df, fld)
        meters = parse_distance(body["distance"])
        if meters <= 0:
            # GeoDistanceQueryBuilder: "distance must be greater than
            # zero" — a sign typo must not silently match nothing
            raise ValueError(
                f"geo_distance distance must be > 0, got {meters} m")
        return QueryPlan(haversine_m(lat_c, lon_c, lat, lon)
                         <= F.lit(meters))

    if kind == "geo_bounding_box":
        # GeoBoundingBoxQueryBuilder; a box whose left > right crosses
        # the dateline and matches the wrapped lon range (the
        # reference's LatLonPoint.newBoxQuery splits the same way)
        from ..functions.geo import geo_columns, parse_point

        opts = {"validation_method", "type", "_name", "ignore_unmapped",
                "boost"}
        flds = [k for k in body if k not in opts]
        if len(flds) != 1:
            raise ValueError(f"geo_bounding_box needs exactly one "
                             f"field, got {flds}")
        fld = flds[0]
        spec = body[fld]
        if {"top_left", "bottom_right"} <= set(spec):
            top, left = parse_point(spec["top_left"])
            bottom, right = parse_point(spec["bottom_right"])
        elif {"top", "left", "bottom", "right"} <= set(spec):
            top, left = float(spec["top"]), float(spec["left"])
            bottom, right = float(spec["bottom"]), float(spec["right"])
        else:
            raise ValueError(
                f"geo_bounding_box needs top_left/bottom_right or "
                f"top/left/bottom/right, got {sorted(spec)}")
        if top < bottom:
            # GeoBoundingBoxQueryBuilder rejects "top is below bottom
            # corner" — swapped lat corners must not silently match 0
            raise ValueError(
                f"geo_bounding_box top ({top}) is below bottom "
                f"({bottom})")
        lat_c, lon_c = geo_columns(df, fld)
        cond = (lat_c <= F.lit(top)) & (lat_c >= F.lit(bottom))
        if left <= right:
            cond = cond & (lon_c >= F.lit(left)) & (lon_c <= F.lit(right))
        else:
            cond = cond & ((lon_c >= F.lit(left)) | (lon_c <= F.lit(right)))
        return QueryPlan(cond)

    if kind == "geo_polygon":
        # GeoPolygonQueryBuilder: even-odd ray casting, edge loop
        # unrolled into codegen XOR terms
        from ..functions.geo import (geo_columns, parse_point,
                                     point_in_polygon)

        opts = {"validation_method", "_name", "ignore_unmapped", "boost"}
        flds = [k for k in body if k not in opts]
        if len(flds) != 1:
            raise ValueError(f"geo_polygon needs exactly one field, "
                             f"got {flds}")
        fld = flds[0]
        pts = [parse_point(p) for p in body[fld]["points"]]
        lat_c, lon_c = geo_columns(df, fld)
        return QueryPlan(point_in_polygon(lat_c, lon_c, pts))

    if kind == "match":
        (fld, spec), = body.items()
        text = _field_value(spec, key="query")
        op = (spec.get("operator", "or").lower()
              if isinstance(spec, dict) else "or")
        if op not in ("or", "and"):
            raise ValueError(f"match operator must be or/and: {op!r}")
        fz = spec.get("fuzziness") if isinstance(spec, dict) else None
        if fz is not None:
            # match fuzziness (MatchQuery#setFuzziness): every analyzed
            # query token becomes a fuzzy term matcher (OSA distance,
            # like the fuzzy query kind).  Filter context only — the
            # scored form needs Lucene's blended-statistics FuzzyQuery
            # rewrite, which is out of the supported subset and raises
            # rather than mis-scoring.
            if scoring:
                raise ValueError(
                    "match fuzziness is supported in filter context "
                    "only (blended fuzzy BM25 is out of subset) — "
                    "wrap in bool.filter, or use the fuzzy query kind")
            from ..functions.fuzzy import parse_fuzziness
            from ..functions.spans import span_tree_match_expr

            toks = tokenize_query(text)
            if not toks:
                return QueryPlan(F.lit(False))
            preds = [{"k": "pred", "kind": "fuzzy", "val": t,
                      "max_edits": parse_fuzziness(fz, t)}
                     for t in toks]
            doc_toks = tokenize_column(fld)
            conds = [F.coalesce(span_tree_match_expr(doc_toks, p),
                                F.lit(False)) for p in preds]
            out = conds[0]
            for c in conds[1:]:
                out = (out & c) if op == "and" else (out | c)
            return QueryPlan(out)
        syn = spec.get("synonyms") if isinstance(spec, dict) else None
        if syn is not None and not isinstance(syn, dict):
            raise ValueError("match synonyms must be a "
                             "{token: [synonyms...]} table")
        if scoring:
            return QueryPlan(None, matches=[(fld, text, op)],
                             synonyms=syn)
        doc_toks = tokenize_column(fld)
        if syn:
            # filter-context synonym match: a group matches through
            # ANY of its members (SynonymQuery matching semantics)
            from .synonyms import expand_groups

            groups = expand_groups(text, syn)
            if not groups:
                return QueryPlan(F.lit(False))
            conds = [F.arrays_overlap(
                doc_toks, F.array(*[F.lit(t) for t in g]))
                for g in groups]
            out = conds[0]
            for c in conds[1:]:
                out = (out & c) if op == "and" else (out | c)
            return QueryPlan(out)
        toks = tokenize_query(text)
        if not toks:
            return QueryPlan(F.lit(False))
        tok_arr = F.array(*[F.lit(t) for t in toks])
        if op == "and":
            # conjunctive match (operator: and): every analyzed query
            # token present in the doc
            return QueryPlan(
                F.forall(tok_arr, lambda t: F.array_contains(doc_toks, t)))
        # operator OR (default): any analyzed token present
        return QueryPlan(F.arrays_overlap(doc_toks, tok_arr))

    if kind == "match_phrase":
        # filter-context phrase: the analyzed query tokens appear
        # CONSECUTIVELY in the analyzed field (slop=0, like Lucene
        # PhraseQuery).  Tokens contain no spaces (the analyzer splits
        # on them), so consecutiveness ≡ substring match on the
        # space-joined token stream with boundary sentinels — pure
        # codegen, no positions index needed for filter context.
        # slop > 0: the sloppy anchor-nearest freq expression
        # (brute_force.sloppy_phrase_freq) > 0, still pure codegen.
        (fld, spec), = body.items()
        text = _field_value(spec, key="query")
        slop = int(spec.get("slop", 0)) if isinstance(spec, dict) else 0
        if slop < 0:
            raise ValueError(f"match_phrase slop must be >= 0: {slop}")
        toks = tokenize_query(text)
        if not toks:
            return QueryPlan(F.lit(False))
        if slop > 0:
            sem = (spec.get("slop_semantics", "anchor")
                   if isinstance(spec, dict) else "anchor")
            if sem == "lucene":
                # reference-exact sweep; the codegen all-terms
                # prefilter keeps the Arrow batch off non-candidates
                from .brute_force import (_all_terms_present,
                                          lucene_sloppy_freq_col)

                doc_toks = tokenize_column(fld)
                return QueryPlan(
                    _all_terms_present(doc_toks, toks)
                    & (lucene_sloppy_freq_col(doc_toks, toks, slop) > 0))
            from .brute_force import sloppy_phrase_freq

            return QueryPlan(
                sloppy_phrase_freq(tokenize_column(fld), toks, slop) > 0)
        joined = F.concat(F.lit(" "),
                          F.array_join(tokenize_column(fld), " "),
                          F.lit(" "))
        return QueryPlan(joined.contains(" " + " ".join(toks) + " "))

    if kind == "match_phrase_prefix":
        # filter-context: the m−1 exact analyzed terms consecutively,
        # followed by a token starting with the trailing prefix — pure
        # codegen over the analyzed token array
        (fld, spec), = body.items()
        text = _field_value(spec, key="query")
        toks = tokenize_query(text)
        if not toks:
            return QueryPlan(F.lit(False))
        first, prefix = toks[:-1], toks[-1]
        m = len(toks)
        doc_toks = tokenize_column(fld)
        if m == 1:
            return QueryPlan(
                F.exists(doc_toks, lambda t: t.startswith(F.lit(prefix))))
        head = F.array(*[F.lit(t) for t in first])
        return QueryPlan(
            (F.size(doc_toks) >= m)
            & F.exists(
                F.sequence(F.lit(1), F.size(doc_toks) - m + 1),
                lambda i: (F.slice(doc_toks, i, m - 1) == head)
                & F.element_at(doc_toks, i + m - 1)
                .startswith(F.lit(prefix))))

    if kind in ("query_string", "simple_query_string"):
        # Lucene query-string syntaxes → compiled to the engine's own
        # DSL, then planned like any other query (one parser, zero new
        # execution paths)
        from .query_string import compile_query_string

        return plan_query(
            df, compile_query_string(body, simple=kind ==
                                     "simple_query_string"),
            scoring=scoring)

    if kind in ("span_term", "span_near", "span_first"):
        # Lucene span family, filter context (matching only — span
        # scoring is out of subset, functions/spans.py docstring).
        # span_term degenerates to pure-codegen token containment /
        # position bound; the general cases run the span kernels as a
        # batch Arrow UDF over the analyzed token array.
        from ..functions.spans import (parse_span_query, parse_span_tree,
                                       span_match_expr,
                                       span_tree_match_expr)

        try:
            fld, terms, slop, in_order, end = parse_span_query(kind, body)
        except ValueError:
            # clauses beyond plain span_term (span_or / span_multi /
            # field_masking_span inside near/first) take the
            # tree-enumeration kernel
            fld, node = parse_span_tree(kind, body)
            return _span_tree_plan(fld, node)
        doc_toks = tokenize_column(fld)
        if len(terms) == 1:
            t = terms[0]
            if end is None:
                return QueryPlan(F.array_contains(doc_toks, t))
            return QueryPlan(
                F.array_contains(F.slice(doc_toks, 1, end), t))
        return QueryPlan(
            F.coalesce(span_match_expr(doc_toks, terms, slop, in_order,
                                       end), F.lit(False)))

    if kind in ("span_or", "span_not", "span_containing", "span_within",
                "span_multi", "field_masking_span"):
        # compound span family (SpanOrQuery / SpanNotQuery /
        # SpanContainingQuery / SpanWithinQuery /
        # SpanMultiTermQueryWrapper / FieldMaskingSpanQuery): span
        # ENUMERATION set algebra — functions/spans.py enum_spans
        # kernel over the analyzed token array (span_or of plain
        # matches degenerates to a boolean OR, but the general tree
        # needs positions); span_multi preds expand per Arrow batch
        # against the batch vocabulary (exact — docs only contribute
        # tokens they hold); masked trees read every involved field's
        # token array
        from ..functions.spans import parse_span_tree

        fld, node = parse_span_tree(kind, body)
        return _span_tree_plan(fld, node)

    if kind == "constant_score":
        # filter context: matching is the inner filter's; the boost
        # only affects scores
        return QueryPlan(compile_filter(df, body["filter"]))

    if kind == "dis_max":
        # filter context: a doc matches iff any sub-query matches
        subs = body.get("queries") or []
        if not subs:
            raise ValueError("dis_max requires at least one sub-query")
        acc = None
        for s in subs:
            c = compile_filter(df, s)
            acc = c if acc is None else acc | c
        return QueryPlan(acc)

    if kind == "boosting":
        # filter context: the negative query only DISCOUNTS scores
        # (BoostingQuery semantics) — matching is the positive query's
        return QueryPlan(compile_filter(df, body["positive"]))

    if kind == "function_score":
        # filter context: functions reshape scores, not matching —
        # except min_score, which depends on the combined score and is
        # only computable on the scored path
        if "min_score" in body:
            raise ValueError(
                "function_score min_score requires scoring — use "
                "search(), not a filter context")
        return QueryPlan(
            compile_filter(df, body.get("query", {"match_all": {}})))

    if kind == "terms_set":
        # TermsSetQueryBuilder: docs where at least
        # minimum_should_match_field of the given terms occur in the
        # field (array fields element-wise; text fields over analyzed
        # tokens; keyword scalars as one-element sets) — pure codegen
        # set intersection, no UDF
        (fld, spec), = body.items()
        terms = [str(t) for t in spec["terms"]]
        if "minimum_should_match_field" in spec:
            msm = F.col(spec["minimum_should_match_field"])
        elif "minimum_should_match" in spec:  # constant convenience
            msm = F.lit(int(spec["minimum_should_match"]))
        else:
            raise ValueError(
                "terms_set requires minimum_should_match_field (or a "
                "constant minimum_should_match)")
        dt = df.schema[fld].dataType if fld in df.columns else None
        if isinstance(dt, T.ArrayType):
            vals = F.col(fld)
        elif isinstance(dt, T.StringType):
            # one analyzer everywhere (like match): the field's indexed
            # terms are its analyzed tokens; single-token keyword
            # values reduce to the scalar case
            vals = tokenize_column(fld)
        else:
            vals = F.array(F.col(fld).cast("string"))
        hits = F.size(F.array_intersect(
            vals, F.array(*[F.lit(t) for t in terms])))
        # Lucene CoveringScorer clamps the per-doc minimum to >= 1
        return QueryPlan(hits >= F.greatest(msm.cast("long"), F.lit(1)))

    if kind == "match_bool_prefix":
        # MatchBoolPrefixQueryBuilder: analyzed terms as term clauses +
        # the last as a prefix, bool-combined with operator (default
        # OR, like the reference)
        (fld, spec), = body.items()
        text = _field_value(spec, key="query")
        op = (spec.get("operator", "or").lower()
              if isinstance(spec, dict) else "or")
        toks = tokenize_query(text)
        if not toks:
            return QueryPlan(F.lit(False))
        doc_toks = tokenize_column(fld)
        clauses = [F.array_contains(doc_toks, t) for t in toks[:-1]]
        clauses.append(F.exists(
            doc_toks, lambda t: t.startswith(F.lit(toks[-1]))))
        acc = clauses[0]
        for c in clauses[1:]:
            acc = (acc & c) if op == "and" else (acc | c)
        return QueryPlan(acc)

    if kind == "intervals":
        return QueryPlan(_intervals_filter(df, body))

    if kind == "script_score":
        # filter context: matching is the inner query's (the script
        # only reshapes scores; min_score needs the scored path)
        if "min_score" in body:
            raise ValueError(
                "script_score min_score requires scoring — use "
                "search(), not a filter context")
        return QueryPlan(
            compile_filter(df, body.get("query", {"match_all": {}})))

    if kind == "script":
        # ScriptQueryBuilder: matches where the boolean script is
        # true.  Filter context either way (the reference scores
        # matches a constant boost); the painless subset compiles to
        # ONE codegen predicate, so it pushes down like any filter.
        from .compound import compile_filter_script

        spec = body.get("script", body) if isinstance(body, dict) else body
        if isinstance(spec, dict):
            src = spec.get("source")
            sparams = spec.get("params") or {}
            extra = set(spec) - {"source", "params", "lang"}
            if extra:
                raise ValueError(
                    f"unsupported script query keys: {sorted(extra)}")
            if spec.get("lang") not in (None, "painless"):
                raise ValueError(
                    f"unsupported script lang {spec['lang']!r}")
        else:
            src, sparams = str(spec), {}
        if not isinstance(src, str) or not src:
            raise ValueError("script query needs a 'source' string")
        return QueryPlan(
            compile_filter_script(src, sparams, set(df.columns)))

    if kind == "pinned":
        # filter context: pinned ids OR the organic query
        idc = F.col("docid").isin([int(i) for i in body["ids"]])
        return QueryPlan(idc | compile_filter(df, body["organic"]))

    if kind == "distance_feature":
        # filter context: matches every doc carrying the field (the
        # query only boosts; DistanceFeatureQuery matches has-value)
        return QueryPlan(F.col(body["field"]).isNotNull())

    if kind == "rank_feature":
        # filter context: RankFeatureQuery matches positive features
        return QueryPlan(F.col(body["field"]).cast("double") > 0)

    if kind == "nested":
        path = body["path"]
        inner = body["query"]
        (ikind, ibody), = inner.items()
        (ifld, ispec), = ibody.items()
        leaf = ifld[len(path) + 1:] if ifld.startswith(path + ".") else ifld
        if ikind == "term":
            v = _field_value(ispec)
            return QueryPlan(F.exists(F.col(path), lambda e: e[leaf] == F.lit(v)))
        if ikind == "range":
            def pred(e):
                c = None
                for op, fn in (("gte", "__ge__"), ("gt", "__gt__"),
                               ("lte", "__le__"), ("lt", "__lt__")):
                    if op in ispec:
                        cc = getattr(e[leaf], fn)(F.lit(ispec[op]))
                        c = cc if c is None else c & cc
                return c
            return QueryPlan(F.exists(F.col(path), pred))
        if ikind == "exists":
            return QueryPlan(F.exists(F.col(path), lambda e: e[leaf].isNotNull()))
        raise ValueError(f"nested supports term/range/exists, got {ikind}")

    raise ValueError(f"unsupported query kind: {kind}")


def _intervals_filter(df: DataFrame, body: dict[str, Any]) -> Column:
    """``intervals`` query, filter context (IntervalQueryBuilder):
    sources supported are ``match`` (ordered / max_gaps), ``any_of``
    (disjunction of sources) and ``all_of`` over term-level sources
    (ordered / max_gaps).  The interval semantics map onto the span
    kernels already used for span_near: ordered+max_gaps ≡
    span_near(slop=max_gaps, in_order) — both count total
    non-matching positions inside the matched window.  max_gaps=-1
    (unlimited) becomes presence (unordered) / a subsequence check
    (ordered) via a corpus-length slop bound."""
    from ..functions.spans import span_match_expr

    (fld, src), = body.items()
    doc_toks = tokenize_column(fld)

    def compile_src(source: dict[str, Any]) -> Column:
        (skind, sbody), = source.items()
        if skind == "match":
            toks = tokenize_query(str(sbody["query"]))
            if not toks:
                return F.lit(False)
            ordered = bool(sbody.get("ordered", False))
            max_gaps = int(sbody.get("max_gaps", -1))
            if len(toks) == 1:
                return F.array_contains(doc_toks, toks[0])
            if max_gaps < 0 and not ordered:
                return F.forall(
                    F.array(*[F.lit(t) for t in toks]),
                    lambda t: F.array_contains(doc_toks, t))
            slop = max_gaps if max_gaps >= 0 else (1 << 30)
            return F.coalesce(
                span_match_expr(doc_toks, toks, slop, ordered, None),
                F.lit(False))
        if skind == "any_of":
            subs = [compile_src(s) for s in sbody["intervals"]]
            acc = subs[0]
            for c in subs[1:]:
                acc = acc | c
            return acc
        if skind == "all_of":
            # term-level sub-sources compose into one span_near
            terms: list[str] = []
            for s in sbody["intervals"]:
                if set(s) != {"match"}:
                    raise ValueError(
                        "intervals all_of supports term-level match "
                        "sub-sources only")
                t = tokenize_query(str(s["match"]["query"]))
                if len(t) != 1:
                    raise ValueError(
                        "intervals all_of sub-sources must analyze "
                        "to single terms")
                terms.append(t[0])
            ordered = bool(sbody.get("ordered", False))
            max_gaps = int(sbody.get("max_gaps", -1))
            slop = max_gaps if max_gaps >= 0 else (1 << 30)
            if len(terms) == 1:
                return F.array_contains(doc_toks, terms[0])
            return F.coalesce(
                span_match_expr(doc_toks, terms, slop, ordered, None),
                F.lit(False))
        raise ValueError(f"unsupported intervals source {skind!r}")

    def _needs_tree(source: dict) -> bool:
        (skind, sbody), = source.items()
        if skind in ("prefix", "wildcard", "fuzzy"):
            return True
        if not isinstance(sbody, dict):
            return False
        if sbody.get("filter"):
            return True
        subs = sbody.get("intervals") or []
        return any(_needs_tree(s) for s in subs)

    if _needs_tree(src):
        # sources beyond the boolean fast path — prefix/wildcard/fuzzy
        # term matchers and `filter` rules — need span ENUMERATION:
        # compile to the span tree kernel (intervals are the
        # minimal-window enumeration the near kernel already emits)
        from ..functions.spans import span_tree_match_expr

        node = _interval_tree(src)
        return F.coalesce(span_tree_match_expr(doc_toks, node),
                          F.lit(False))
    return compile_src(src)


def _interval_tree(source: dict[str, Any]) -> dict:
    """Intervals source → span-tree node (enumeration semantics:
    match = per-start minimal windows, any_of = union, all_of =
    near over unit sub-sources; prefix/wildcard/fuzzy = dictionary
    predicates).  A ``filter`` wraps the node in the positional-
    relation rule (containing / contained_by / overlapping and the
    not_ forms) evaluated by the enum kernel."""
    from ..functions.fuzzy import parse_fuzziness
    from ..functions.tokenizer import tokenize_query

    (skind, sbody), = source.items()
    filt = sbody.get("filter") if isinstance(sbody, dict) else None

    if skind == "match":
        toks = tokenize_query(str(sbody["query"]))
        if not toks:
            node = {"k": "or", "cl": []}
        elif len(toks) == 1:
            node = {"k": "term", "t": toks[0]}
        else:
            max_gaps = int(sbody.get("max_gaps", -1))
            node = {"k": "near",
                    "cl": [{"k": "term", "t": t} for t in toks],
                    "slop": max_gaps if max_gaps >= 0 else (1 << 30),
                    "ord": bool(sbody.get("ordered", False))}
    elif skind == "prefix":
        node = {"k": "pred", "kind": "prefix",
                "val": str(sbody["prefix"])}
    elif skind == "wildcard":
        node = {"k": "pred", "kind": "wildcard",
                "val": str(sbody["pattern"])}
    elif skind == "fuzzy":
        term = str(sbody["term"])
        node = {"k": "pred", "kind": "fuzzy", "val": term,
                "max_edits": parse_fuzziness(
                    sbody.get("fuzziness", "AUTO"), term)}
    elif skind == "any_of":
        node = {"k": "or", "cl": [_interval_tree(s)
                                  for s in sbody["intervals"]]}
    elif skind == "all_of":
        cl = [_interval_tree(s) for s in sbody["intervals"]]
        from ..functions.spans import _unit_len

        if not all(_unit_len(c) for c in cl):
            raise ValueError(
                "intervals all_of supports unit-length sub-sources "
                "(match of one term / prefix / wildcard / fuzzy / "
                "any_of of those)")
        max_gaps = int(sbody.get("max_gaps", -1))
        node = {"k": "near", "cl": cl,
                "slop": max_gaps if max_gaps >= 0 else (1 << 30),
                "ord": bool(sbody.get("ordered", False))}
    else:
        raise ValueError(f"unsupported intervals source {skind!r}")

    if filt:
        (rule, fsrc), = filt.items()
        if rule not in ("containing", "not_containing", "contained_by",
                        "not_contained_by", "overlapping",
                        "not_overlapping"):
            raise ValueError(
                f"unsupported intervals filter rule {rule!r}")
        node = {"k": "ifilter", "rule": rule, "src": node,
                "flt": _interval_tree(fsrc)}
    return node


def _norm_sort(s) -> tuple[str, str, object]:
    """One sort entry → (field, order, missing): accepts ``"field"``,
    ``(field, order)`` pairs, ``{field: "desc"}`` and
    ``{field: {"order": "desc", "missing": ...}}`` (the OpenSearch
    body shapes).  ``missing`` is ``"_first"`` / ``"_last"`` (null
    placement) or a literal substitute value (FieldSortBuilder
    missing); default ``"_last"`` — OpenSearch's default for both
    directions, unlike Spark's asc_nulls_first."""
    if isinstance(s, str):
        return s, "asc", "_last"
    if isinstance(s, dict):
        (c, spec), = s.items()
        if isinstance(spec, dict):
            return (c, str(spec.get("order", "asc")).lower(),
                    spec.get("missing", "_last"))
        return c, str(spec).lower(), "_last"
    if len(s) == 2:
        c, d = s
        return c, str(d).lower(), "_last"
    c, d, m = s
    return c, str(d).lower(), m


def _sort_col(c: str, d: str, m) -> Column:
    """One ordering Column honoring the ``missing`` spec: a literal
    substitute orders as coalesce(col, lit); ``_first``/``_last``
    place nulls explicitly."""
    col = F.col(c)
    if m not in ("_first", "_last"):
        col = F.coalesce(col, F.lit(m))
        return col.desc() if d == "desc" else col.asc()
    if d == "desc":
        return (col.desc_nulls_first() if m == "_first"
                else col.desc_nulls_last())
    return (col.asc_nulls_first() if m == "_first"
            else col.asc_nulls_last())


def _as_list(x) -> list:
    if x is None:
        return []
    return x if isinstance(x, list) else [x]


def _apply_runtime_mappings(df: DataFrame,
                            rmaps: dict[str, Any]) -> DataFrame:
    """``runtime_mappings``: search-time derived fields usable in
    query / sort / aggs like mapped columns.  Script subset = one
    ``emit(<expr>)`` over the painless arithmetic subset (ternary,
    ``params``, ``Math.*`` — the scripted_metric compiler); types
    double/long/keyword/boolean.  Script sorts aren't a separate
    surface here — define a runtime field and sort by it, the
    documented modern equivalent."""
    import re

    from .aggs import _painless_arith, require_safe_names

    require_safe_names(rmaps, "runtime field names")
    casts = {"double": "double", "long": "long", "keyword": "string",
             "boolean": "boolean"}
    for name, spec in rmaps.items():
        rtype = spec.get("type", "double")
        if rtype not in casts:
            raise ValueError(
                f"runtime field {name!r}: unsupported type {rtype!r} "
                f"(supported: {sorted(casts)})")
        script = spec.get("script")
        src = (script.get("source") if isinstance(script, dict)
               else script)
        if not src:
            raise ValueError(f"runtime field {name!r} needs a script")
        m = re.fullmatch(r"\s*emit\((.+)\)\s*;?\s*", src, re.S)
        if not m:
            raise ValueError(
                f"runtime field {name!r}: scripts support a single "
                f"emit(<expr>), got {src!r}")
        params = (script.get("params") or {}
                  if isinstance(script, dict) else {})
        sql = _painless_arith(m.group(1), params)
        df = df.withColumn(name, F.expr(sql).cast(casts[rtype]))
    return df


def _field_list(spec) -> list[str]:
    """docvalue_fields / stored_fields: plain names or
    ``{"field": name}`` entries; a ``format`` raises by name (no
    response-formatting layer here — values come back typed)."""
    out = []
    for e in _as_list(spec):
        if isinstance(e, dict):
            if "format" in e:
                raise ValueError(
                    f"docvalue_fields format is unsupported — values "
                    f"are returned typed: {e}")
            out.append(e["field"])
        else:
            out.append(e)
    return out


def search(
    target,
    body: dict[str, Any],
    docs_df: DataFrame | None = None,
    k: int | None = None,
    text_field: str = "text",
    timeout_s: float | None = None,
    field_readers: dict[str, Any] | None = None,
):
    """Detector-style search entry: query JSON + size → DataFrame.

    ``target`` is an :class:`~anomaly_detection_spark.query.index_search.
    IndexReader` (index-backed) or an analyzed docs DataFrame (brute
    force).  A scored ``match`` routes to BM25 top-k; a pure filter
    returns the filtered rows (size-limited if given).

    Scored-match scope: exactly one analyzed text field is indexed
    (``text_field``) — a ``match`` against any other field raises.
    Multiple scored match clauses are scored as one SHOULD bag over the
    union of their analyzed tokens (disjunctive, like a single bool
    SHOULD of term queries); conjunctive multi-match (``operator: and``
    across clauses) is out of the supported subset.  A top-level
    ``multi_match`` (best_fields / most_fields, tie_breaker) scores
    every named field with its own corpus statistics — over an index
    target, pass ``field_readers`` (one IndexReader per field, like one
    Lucene field index each).  A scored top-level ``match_phrase`` over
    an index target needs the index built with ``positions=True``.
    """
    from .brute_force import bm25_topk_bruteforce
    from .index_search import IndexReader, bm25_topk_indexed, fetch_docs

    query = body.get("query", {"match_all": {}})
    if body.get("aggs"):
        # search() returns HITS; silently dropping an aggs section
        # would be a wrong answer — the aggregation entry point is
        # run_aggs (same body shape, query respected)
        raise ValueError(
            "search bodies with an aggs section run through "
            "aggs_body.run_aggs(df, body) — search() returns hits "
            "only (call both for hits + aggs)")
    page_from = int(body.get("from", 0))
    if page_from < 0:
        raise ValueError(f"from must be >= 0: {page_from}")
    # offset pagination (SearchSourceBuilder from/size): every scored
    # branch computes top-(from+size) then drops the first `from` rows
    # — same cost shape as OpenSearch, which also materializes
    # from+size per shard.  Deep paging is as expensive as it is
    # there; deep exports should use search_after / :func:`scroll`.
    size = (k if k is not None else body.get("size", 10)) + page_from
    rmaps = body.get("runtime_mappings")
    if rmaps:
        if isinstance(target, IndexReader):
            raise ValueError(
                "runtime_mappings need the docs frame — search the "
                "brute-force target, or keep the referenced columns "
                "at build time (build_index keep_cols) and filter on "
                "them directly")
        target = _apply_runtime_mappings(target, rmaps)
    sort_in = body.get("sort") or []
    if any(isinstance(s, dict) and "_geo_distance" in s for s in sort_in):
        # GeoDistanceSortBuilder: materialize the codegen haversine
        # column once, then sort on it like any field — the distance
        # column stays in the hit frame (OpenSearch returns the same
        # value in the hit's sort array)
        from ..functions.geo import (_UNIT_M, geo_columns, haversine_m,
                                     parse_point)

        if isinstance(target, IndexReader):
            raise ValueError(
                "_geo_distance sort needs the docs frame — keep the "
                "lat/lon columns at build time (build_index keep_cols) "
                "and search the brute-force target")
        new_sort: list = []
        n_g = 0
        for s in sort_in:
            if not (isinstance(s, dict) and "_geo_distance" in s):
                new_sort.append(s)
                continue
            spec = dict(s["_geo_distance"])
            order = str(spec.pop("order", "asc")).lower()
            unit = spec.pop("unit", "m")
            dtype = spec.pop("distance_type", "arc")
            spec.pop("ignore_unmapped", None)
            if dtype != "arc":
                raise ValueError(
                    f"_geo_distance distance_type {dtype!r} "
                    "unsupported (only 'arc')")
            if "mode" in spec:
                raise ValueError(
                    "_geo_distance sort over multi-valued points "
                    "(mode) is unsupported — one point per doc")
            if unit not in _UNIT_M:
                raise ValueError(f"unknown distance unit {unit!r}")
            if len(spec) != 1:
                raise ValueError(
                    f"_geo_distance needs exactly one field, "
                    f"got {sorted(spec)}")
            (gfld, pt), = spec.items()
            glat, glon = parse_point(pt)
            cname = "_geo_distance" if n_g == 0 else f"_geo_distance_{n_g}"
            n_g += 1
            lat_c, lon_c = geo_columns(target, gfld)
            target = target.withColumn(
                cname, haversine_m(lat_c, lon_c, glat, glon)
                / F.lit(_UNIT_M[unit]))
            new_sort.append({cname: order})
        body = {**body, "sort": new_sort}
    if isinstance(target, IndexReader):
        schema_df = target.doc_stats()
    else:
        schema_df = target
        if text_field in target.columns and \
                "tokens" not in target.columns:
            # scored brute paths need the analyzed frame (tokens +
            # doc_len); analysis is implicit in the reference, so a
            # raw docs frame analyzes here rather than failing with
            # an unresolved-column error.  Catalyst prunes the two
            # derived columns whenever a branch doesn't read them, so
            # filter-only searches pay nothing, and result schemas
            # are unchanged (finish() joins back through schema_df).
            from .brute_force import analyze_docs

            target = analyze_docs(target, text_col=text_field)

    def finish(out):
        # shared tail: when a highlight section (or an explicit
        # _source request) needs doc columns a (docid, score)-only
        # scored result doesn't carry, fetch them first (index: doc
        # fetch join; brute: join back to the analyzed frame, minus
        # analysis columns), keeping rank order
        hl = body.get("highlight")
        src = body.get("_source")
        sfields = body.get("script_fields")
        dvfields = (_field_list(body.get("docvalue_fields"))
                    + _field_list(body.get("stored_fields")))
        if ((src not in (None, False) or sfields or dvfields)
                and "score" in out.columns
                and set(out.columns) == {"docid", "score"}):
            if isinstance(target, IndexReader):
                out = fetch_docs(target, out)
            else:
                cols = [c for c in schema_df.columns
                        if c not in ("tokens", "doc_len", "docid")]
                out = (out.join(schema_df.select("docid", *cols),
                                "docid")
                       .orderBy(F.desc("score"), F.asc("docid")))
        if hl:
            missing = [f for f in (hl.get("fields") or {text_field: {}})
                       if f not in out.columns]
            if missing and "score" in out.columns:
                unavailable = [f for f in missing
                               if f not in schema_df.columns]
                if unavailable:
                    raise ValueError(
                        f"highlight fields {unavailable} are not stored "
                        f"by this target — index-backed highlighting "
                        f"needs the field kept at build time "
                        f"(build_index keep_cols)")
                if isinstance(target, IndexReader):
                    out = fetch_docs(target, out.select("docid", "score"))
                else:
                    cols = [c for c in schema_df.columns
                            if c not in ("tokens", "doc_len")
                            and c not in out.columns]
                    out = (out.join(schema_df.select("docid", *cols),
                                    "docid")
                           .orderBy(F.desc("score"), F.asc("docid")))
        return _finish_search(out, size, timeout_s, page_from,
                              highlight=hl, query=query,
                              text_field=text_field,
                              min_score=body.get("min_score"),
                              source_filter=src,
                              script_fields=sfields,
                              value_fields=dvfields)

    if set(query) & {"query_string", "simple_query_string"}:
        # compile the Lucene syntax down to DSL FIRST, so a compiled
        # match_phrase / match_phrase_prefix takes its dedicated scored
        # branch below
        from .query_string import compile_query_string

        (kind, spec), = query.items()
        query = compile_query_string(
            spec, simple=kind == "simple_query_string",
            text_field=text_field)

    rescore = body.get("rescore")
    if rescore:
        # query rescorer (RescorerBuilder / Lucene QueryRescorer): the
        # top window_size hits of the primary query are re-scored with
        # a second query and re-sorted; hits beyond the window keep
        # their primary order BELOW the window (Lucene re-sorts only
        # the rescored TopDocs slice).  Exact, full-score-set posture:
        # the window is a distributed TakeOrdered over the primary's
        # full score set, the secondary score set is narrowed by a
        # broadcast semi-join on the window's docids before the
        # combine, so at corpus scale neither side materializes an
        # unbounded shuffle.
        if body.get("collapse"):
            raise ValueError(
                "rescore cannot be combined with collapse (the "
                "reference rejects this combination too)")
        from .compound import COMPOUND_KINDS, compound_scores

        scoreable = COMPOUND_KINDS + ("match", "match_all")
        qkind = next(iter(query)) if query else "match_all"
        if qkind not in scoreable:
            raise ValueError(
                f"rescore needs a scored primary query "
                f"(match/compound); got {qkind!r}")
        # ordering invariant carried between passes: (_blk asc,
        # score desc, docid asc)
        scored = (compound_scores(target, query, text_field=text_field)
                  .withColumn("_blk", F.lit(0)))
        for spec in (rescore if isinstance(rescore, list) else [rescore]):
            rs = spec["query"]
            window = int(spec.get("window_size", 10))
            rq = rs["rescore_query"]
            rkind = next(iter(rq))
            if rkind not in scoreable:
                raise ValueError(
                    f"rescore_query must be scored (match/compound); "
                    f"got {rkind!r}")
            qw = float(rs.get("query_weight", 1.0))
            rw = float(rs.get("rescore_query_weight", 1.0))
            mode = rs.get("score_mode", "total")
            prim = F.col("score") * F.lit(qw)
            secw = F.col("_rs") * F.lit(rw)
            comb = {"total": prim + secw, "multiply": prim * secw,
                    "avg": (prim + secw) / F.lit(2.0),
                    "max": F.greatest(prim, secw),
                    "min": F.least(prim, secw)}.get(mode)
            if comb is None:
                raise ValueError(f"unsupported rescore score_mode "
                                 f"{mode!r}")
            win = (scored.orderBy(F.asc("_blk"), F.desc("score"),
                                  F.asc("docid"))
                   .limit(window)
                   .localCheckpoint(eager=False))  # reused 3×
            sec = (compound_scores(target, rq, text_field=text_field)
                   .withColumnRenamed("score", "_rs")
                   .join(F.broadcast(win.select("docid")), "docid"))
            new = (win.join(F.broadcast(sec), "docid", "left")
                   .select("docid",
                           F.when(F.col("_rs").isNull(), prim)
                           .otherwise(comb).alias("score"),
                           F.lit(0).alias("_blk")))
            rest = (scored.join(F.broadcast(win.select("docid")),
                                "docid", "left_anti")
                    .select("docid", "score",
                            (F.col("_blk") + 1).alias("_blk")))
            scored = new.unionByName(rest)
        out = (scored.orderBy(F.asc("_blk"), F.desc("score"),
                              F.asc("docid"))
               .limit(size))
        if isinstance(target, IndexReader):
            # fetch_docs re-sorts by score, which would break the
            # window-above-remainder block ordering — join manually
            # and re-assert the rescore order
            out = (F.broadcast(out).join(target.doc_stats(), "docid")
                   .orderBy(F.asc("_blk"), F.desc("score"),
                            F.asc("docid")))
        return finish(out.drop("_blk"))

    collapse = body.get("collapse")
    if collapse:
        # field collapse (CollapseBuilder): ONE hit per distinct field
        # value — the best-ranked — applied to the FULL result set
        # before any top-k cut (collapsing after a cut would lose
        # groups whose best hit ranked below it, which is exactly the
        # bug the reference avoids by collapsing in the collector).
        from pyspark.sql import Window as _W

        from .compound import COMPOUND_KINDS, compound_scores
        from .index_search import fetch_docs as _fetch

        cfld = collapse["field"]
        ih = collapse.get("inner_hits")
        ih_size = 3
        if ih:
            # inner_hits (CollapseBuilder#setInnerHits): up to
            # ``size`` hits PER collapsed group of the returned page,
            # ranked by the SAME ordering as the collapse itself
            # (``_inner_rank`` 1 = the collapsed head row).  A custom
            # inner sort is out of the supported subset and raises.
            if ih.get("sort"):
                raise ValueError(
                    "inner_hits with its own sort is unsupported — "
                    "inner hits follow the collapse ordering")
            ih_size = int(ih.get("size", 3))
        qkind = next(iter(query)) if query else "match_all"
        if qkind in COMPOUND_KINDS or qkind in ("match", "match_all"):
            scored = compound_scores(target, query,
                                     text_field=text_field)
            side = schema_df.select("docid", cfld)
            w = _W.partitionBy(cfld).orderBy(F.desc("score"),
                                             F.asc("docid"))
            ranked = (scored.join(side, "docid")
                      .withColumn("_ck", F.row_number().over(w)))
            heads = (ranked.filter(F.col("_ck") == 1).drop("_ck")
                     .orderBy(F.desc("score"), F.asc("docid"))
                     .limit(size))
            if ih:
                keys = heads.select(F.col(cfld),
                                    F.col("score").alias("_head"))
                out = (ranked.filter(F.col("_ck") <= ih_size)
                       .withColumnRenamed("_ck", "_inner_rank")
                       .join(F.broadcast(keys), cfld)
                       .orderBy(F.desc("_head"), F.asc("docid"),
                                F.asc("_inner_rank"))
                       .drop("_head"))
                return finish(out)
            out = heads
            if isinstance(target, IndexReader):
                out = _fetch(target, out.select("docid", "score"))
            return finish(out)
        csort = [_norm_sort(s) for s in (body.get("sort") or [])]
        if not csort:
            raise ValueError(
                "collapse needs a scored query (match/compound) or an "
                "explicit sort in filter context")
        plan0 = plan_query(schema_df, query, scoring=False)
        base = (schema_df if plan0.filter_cond is None
                else schema_df.filter(plan0.filter_cond))
        order = [_sort_col(c, d, m) for c, d, m in csort]
        w = _W.partitionBy(cfld).orderBy(*order)
        ranked = base.withColumn("_ck", F.row_number().over(w))
        heads = (ranked.filter(F.col("_ck") == 1).drop("_ck")
                 .orderBy(*order).limit(size))
        if ih:
            keys = heads.select(cfld)
            out = (ranked.filter(F.col("_ck") <= ih_size)
                   .withColumnRenamed("_ck", "_inner_rank")
                   .join(F.broadcast(keys), cfld)
                   .orderBy(*order))
            return finish(out)
        return finish(heads)

    if set(query) == {"knn"}:
        # k-NN vector query (OpenSearch k-NN plugin's query kind):
        # exact scored scan over a vector column — score per
        # space_type (cosinesimil = cosine, innerproduct = dot,
        # l2 = 1/(1+d²), the plugin's published formulas), optional
        # pre-FILTER (the plugin's efficient-filtering semantics:
        # filter first, then k nearest among survivors).  One
        # broadcast-free codegen pass + TakeOrdered — the exact twin;
        # the ANN scale paths (IVF/LSH/PQ) live in
        # pipeline/similarity.py and share the maths.
        import numpy as np

        if isinstance(target, IndexReader):
            raise ValueError(
                "knn runs over a DataFrame with a vector column, not "
                "a postings index")
        (fld, spec), = query["knn"].items()
        qv = [float(x) for x in spec["vector"]]
        radial = {k_ for k_ in ("max_distance", "min_score")
                  if k_ in spec}
        if radial and "k" in spec:
            raise ValueError(
                "knn takes k OR a radial bound (max_distance / "
                "min_score), not both")
        if len(radial) > 1:
            raise ValueError(
                "knn radial search takes max_distance OR min_score, "
                "not both")
        kk = int(spec.get("k", size))
        space = spec.get("space_type", "cosinesimil")
        base = schema_df
        if spec.get("filter"):
            base = base.filter(compile_filter(base, spec["filter"]))
        col = F.col(fld)
        dot = F.aggregate(
            F.zip_with(col, F.lit(qv), lambda a, b_: a * b_),
            F.lit(0.0), lambda acc, x: acc + x)
        if space == "cosinesimil":
            qn = float(np.sqrt(np.dot(qv, qv)))
            if qn == 0:
                raise ValueError("knn query vector must be non-zero")
            cn = F.sqrt(F.aggregate(col, F.lit(0.0),
                                    lambda acc, x: acc + x * x))
            score = F.when(cn > 0, dot / (cn * F.lit(qn)))
        elif space == "innerproduct":
            score = dot
        elif space == "l2":
            d2 = F.aggregate(
                F.zip_with(col, F.lit(qv),
                           lambda a, b_: (a - b_) * (a - b_)),
                F.lit(0.0), lambda acc, x: acc + x)
            score = F.lit(1.0) / (F.lit(1.0) + d2)
        else:
            raise ValueError(f"unsupported knn space_type {space!r}")
        id_sort = ([F.asc("docid")] if "docid" in base.columns
                   else [F.asc(base.columns[0])])
        out = (base.filter(col.isNotNull())
               .withColumn("score", score.cast("double"))
               .filter(F.col("score").isNotNull()))
        if radial:
            # radial search (k-NN plugin 2.14+): every neighbor inside
            # the bound instead of the k nearest.  max_distance is in
            # the space's native distance and converts to the
            # equivalent score floor via the plugin's own published
            # score formulas (l2: score = 1/(1+d²), distance = squared
            # euclidean → floor 1/(1+max_distance); cosinesimil:
            # distance = 1 − cos → floor 1 − max_distance;
            # innerproduct: distance = −dot → floor −max_distance);
            # min_score is already in score units for every space.
            if "min_score" in spec:
                floor = float(spec["min_score"])
            else:
                md = float(spec["max_distance"])
                if space == "l2":
                    floor = 1.0 / (1.0 + md)
                elif space == "cosinesimil":
                    floor = 1.0 - md
                else:           # innerproduct
                    floor = -md
            out = (out.filter(F.col("score") >= F.lit(floor))
                   .orderBy(F.desc("score"), *id_sort).limit(size))
        else:
            out = (out.orderBy(F.desc("score"), *id_sort)
                   .limit(min(kk, size)))
        return finish(out)

    if set(query) == {"neural_sparse"}:
        # neural sparse query (the neural-search plugin's sparse mode,
        # raw query_tokens form): score = Σ_t w_q(t) · doc_weight(t)
        # over a map<string,double> column (pipeline.text.sparse_encode
        # builds the doc side); only docs carrying ≥1 query token
        # match — Lucene's disjunction-of-FeatureQueries shape.
        # query_text encodes with the same deterministic encoder
        # (the plugin would call a learned model — documented
        # stand-in).  Pure codegen: one map-lookup sum per doc, no
        # shuffle below the final TakeOrdered.
        if isinstance(target, IndexReader):
            raise ValueError(
                "neural_sparse runs over a DataFrame with a sparse "
                "map column, not a postings index")
        (fld, spec), = query["neural_sparse"].items()
        qtok = spec.get("query_tokens")
        if qtok is None:
            if "query_text" not in spec:
                raise ValueError(
                    "neural_sparse needs query_tokens or query_text")
            import math
            from collections import Counter

            qtok = {t: 1.0 + math.log(c) for t, c in
                    Counter(tokenize_query(spec["query_text"])).items()}
        if not qtok:
            raise ValueError("neural_sparse query has no tokens")
        base = schema_df
        if spec.get("filter"):
            base = base.filter(compile_filter(base, spec["filter"]))
        col = F.col(fld)
        score = None
        matched = None
        for t, w in sorted(qtok.items()):
            part = F.coalesce(col.getItem(t) * F.lit(float(w)),
                              F.lit(0.0))
            score = part if score is None else score + part
            hit = col.getItem(t).isNotNull()
            matched = hit if matched is None else (matched | hit)
        id_sort = ([F.asc("docid")] if "docid" in base.columns
                   else [F.asc(base.columns[0])])
        out = (base.filter(col.isNotNull()).filter(matched)
               .withColumn("score", score.cast("double"))
               .orderBy(F.desc("score"), *id_sort)
               .limit(size))
        return finish(out)

    if set(query) == {"more_like_this"}:
        from .mlt import more_like_this_topk

        mlt = dict(query["more_like_this"])
        flds = mlt.pop("fields", [text_field])
        if list(flds) != [text_field]:
            raise ValueError(
                f"more_like_this supports the analyzed text field "
                f"[{text_field!r}]; got {flds}")
        like = mlt.pop("like")
        out = more_like_this_topk(target, like, k=size,
                                  text_field=text_field, **mlt)
        return finish(out)

    if len(query) == 1 and next(iter(query)) in (
            "dis_max", "constant_score", "boosting", "function_score",
            "script_score", "pinned", "distance_feature",
            "rank_feature"):
        # compound scored queries: exact full-score-set combination,
        # then one top-k over the combined score (query/compound.py)
        from .compound import compound_scores

        scored = compound_scores(target, query, text_field=text_field)
        out = (scored.orderBy(F.desc("score"), F.asc("docid"))
               .limit(size))
        if isinstance(target, IndexReader):
            out = fetch_docs(target, out)
        return finish(out)

    if set(query) == {"combined_fields"}:
        # merged-field BM25 (CombinedFieldQuery / BM25F) — see
        # query/combined_fields.py for the exact statistics model
        from .combined_fields import combined_fields_topk

        cf = dict(query["combined_fields"])
        if isinstance(target, IndexReader):
            readers = dict(field_readers or {})
            readers.setdefault(text_field, target)
            names = [f.split("^")[0] for f in cf["fields"]]
            missing = [f for f in names if f not in readers]
            if missing:
                raise ValueError(
                    f"combined_fields over an index target needs "
                    f"field_readers for {missing}")
            out = combined_fields_topk({f: readers[f] for f in names},
                                       cf["query"], list(cf["fields"]),
                                       k=size)
            out = fetch_docs(target, out)
        else:
            out = combined_fields_topk(target, cf["query"],
                                       list(cf["fields"]), k=size)
        return finish(out)

    if set(query) == {"multi_match"}:
        # multi-field scored match (MultiMatchQueryBuilder) — each field
        # scored with its own corpus statistics, combined best_fields /
        # most_fields (one Lucene field index per field).
        mm = dict(query["multi_match"])
        if isinstance(target, IndexReader):
            from .index_search import multi_match_topk_indexed

            readers = dict(field_readers or {})
            readers.setdefault(text_field, target)
            out = multi_match_topk_indexed(
                readers, mm["query"], list(mm["fields"]), k=size,
                match_type=mm.get("type", "best_fields"),
                tie_breaker=float(mm.get("tie_breaker", 0.0)))
        else:
            from .brute_force import multi_match_topk

            out = multi_match_topk(
                target, mm["query"], list(mm["fields"]), k=size,
                match_type=mm.get("type", "best_fields"),
                tie_breaker=float(mm.get("tie_breaker", 0.0)))
        return finish(out)

    if len(query) == 1 and next(iter(query)) in ("match_phrase",
                                                 "match_phrase_prefix"):
        # scored phrase (Lucene PhraseQuery): tf = positional phrase
        # frequency (slop=0) or the sloppy anchor-nearest frequency
        # (slop>0), weight = Σ term idfs; phrase-prefix expands the
        # last term (MultiPhraseQuery).  Over an index target this
        # reads the positional posting lists (positions=True builds);
        # otherwise a codegen scan of the analyzed corpus.
        (kind, clause), = query.items()
        (fld, spec), = clause.items()
        text = _field_value(spec, key="query")
        opts = spec if isinstance(spec, dict) else {}
        if kind == "match_phrase_prefix":
            kw = {"max_expansions": opts.get("max_expansions", 50)}
        else:
            slop = int(opts.get("slop", 0))
            if slop < 0:
                raise ValueError(f"match_phrase slop must be >= 0: {slop}")
            # engine extension: "slop_semantics": "lucene" selects the
            # reference-exact SloppyPhraseScorer sweep (default "anchor"
            # is the oracle-checkable engine semantics)
            kw = {"slop": slop,
                  "slop_semantics": opts.get("slop_semantics", "anchor")}
        if isinstance(target, IndexReader):
            from .index_search import (match_phrase_prefix_topk_indexed,
                                       match_phrase_topk_indexed)

            if fld != text_field:
                raise ValueError(
                    f"scored {kind} over an index target supports the "
                    f"indexed text field {text_field!r}; got {fld!r}")
            run = (match_phrase_prefix_topk_indexed
                   if kind == "match_phrase_prefix"
                   else match_phrase_topk_indexed)
            out = run(target, text, k=size, **kw)
        else:
            from .brute_force import (analyze_docs, match_phrase_prefix_topk,
                                      match_phrase_topk)

            tgt = (target if "tokens" in target.columns
                   else analyze_docs(target, text_col=fld))
            run = (match_phrase_prefix_topk if kind == "match_phrase_prefix"
                   else match_phrase_topk)
            out = run(tgt, text, k=size, **kw)
        return finish(out)

    if set(query) == {"match"}:
        (mfld, mspec), = query["match"].items()
        if isinstance(mspec, dict) and "minimum_should_match" in mspec:
            # match + minimum_should_match (MatchQueryBuilder): scored
            # disjunction requiring ≥ N distinct query terms per doc.
            # Brute: bm25_scores(min_match=); index: the same
            # matched-distinct-term floor in the scoring kernel (only
            # the query terms' postings are read).
            if mfld != text_field:
                raise ValueError(
                    f"scored match supports only the indexed text "
                    f"field {text_field!r}; got {mfld!r}")
            text = mspec["query"]
            need = parse_msm(mspec["minimum_should_match"],
                             len(set(tokenize_query(text))))
            from .brute_force import bm25_scores
            from .index_search import bm25_scores_indexed

            scores = (bm25_scores_indexed if isinstance(target, IndexReader)
                      else bm25_scores)
            out = (scores(target, text, min_match=need)
                   .orderBy(F.desc("score"), F.asc("docid")).limit(size))
            if isinstance(target, IndexReader):
                out = fetch_docs(target, out)
            return finish(out)

    plan = plan_query(schema_df, query)
    cond = plan.filter_cond

    if plan.matches:
        bad = sorted({m[0] for m in plan.matches if m[0] != text_field})
        if bad:
            raise ValueError(
                f"scored match supports only the indexed text field "
                f"{text_field!r}; got match on {bad}")
        ops = {m[2] for m in plan.matches}
        if "and" in ops and len(plan.matches) > 1:
            raise ValueError(
                "match operator:and is supported for a single match "
                "clause (conjunctive multi-clause bags are ambiguous)")
        conjunctive = ops == {"and"}
        text = " ".join(m[1] for m in plan.matches)
        if plan.synonyms:
            # SynonymQuery blended scoring (query/synonyms.py)
            if conjunctive:
                raise ValueError(
                    "match synonyms with operator:and is unsupported "
                    "in scored context (group-conjunctive blended "
                    "scoring is out of subset) — use filter context")
            from .synonyms import (synonym_match_topk,
                                   synonym_match_topk_indexed)

            if isinstance(target, IndexReader):
                top = synonym_match_topk_indexed(
                    target, text, plan.synonyms, k=size, filter_cond=cond)
                out = fetch_docs(target, top)
            else:
                out = synonym_match_topk(target, text, plan.synonyms,
                                         k=size, filter_cond=cond)
        elif isinstance(target, IndexReader):
            top = bm25_topk_indexed(target, text, k=size, filter_cond=cond,
                                    conjunctive=conjunctive)
            out = fetch_docs(target, top)
        else:
            out = bm25_topk_bruteforce(target, text, k=size,
                                       filter_cond=cond,
                                       conjunctive=conjunctive)
    else:
        out = schema_df if cond is None else schema_df.filter(cond)
        sort = [_norm_sort(s) for s in (body.get("sort") or [])]
        after = body.get("search_after")
        if after is not None:
            # S5 search_after, properly: resume strictly AFTER the
            # last page's sort tuple via a lexicographic predicate the
            # scan can push down — no server-side cursor state, the
            # exact statelessness OpenSearch search_after was built
            # for.  Requires an explicit (deterministic) sort; callers
            # should end it with a unique tiebreaker like docid.
            if not sort:
                raise ValueError("search_after requires a sort spec")
            if len(after) != len(sort):
                raise ValueError(
                    f"search_after values ({len(after)}) must match "
                    f"the sort spec length ({len(sort)})")
            pred = None
            eq = None
            for (c, d, m), v in zip(sort, after):
                col = F.col(c)
                if m not in ("_first", "_last"):
                    # a literal `missing` makes null rows reachable by
                    # the resume predicate too — same mapping as the
                    # ordering column
                    col = F.coalesce(col, F.lit(m))
                ts_dt = _ts_type(schema_df, c)
                lit = _ts_value(v, ts_dt) if ts_dt else F.lit(v)
                cmp = col < lit if d == "desc" else col > lit
                branch = cmp if eq is None else eq & cmp
                pred = branch if pred is None else pred | branch
                eq = (col == lit) if eq is None else eq & (col == lit)
            out = out.filter(pred)
        if sort:
            out = out.orderBy(*[_sort_col(c, d, m) for c, d, m in sort])
        if body.get("size") is not None or k is not None \
                or timeout_s is not None:
            # The timeout path collect()s below — always page-bound it
            # (default size) so a no-size filter search can never pull an
            # unbounded result onto the driver.
            out = out.limit(size)

    return finish(out)


def _finish_search(out: DataFrame, size: int, timeout_s: float | None,
                   page_from: int = 0, highlight: dict | None = None,
                   query: dict | None = None, text_field: str = "text",
                   min_score: float | None = None,
                   source_filter=None,
                   script_fields: dict | None = None,
                   value_fields: list[str] | None = None):
    if min_score is not None:
        # SearchSourceBuilder#minScore: hits below the floor are
        # excluded.  Score-sorted results make post-top-k filtering
        # equivalent to pre-top-k (the dropped docs are the ordered
        # tail); only the rescore block ordering can differ in the
        # sub-window corner, same as the reference's collector timing.
        if "score" not in out.columns:
            raise ValueError(
                "min_score needs a scored query (filter-context hits "
                "carry no score)")
        out = out.filter(F.col("score") >= float(min_score))
    if page_from:
        out = out.offset(page_from)
    if highlight:
        from ..functions.highlight import apply_highlight

        out = apply_highlight(out, highlight, query,
                              text_field=text_field)
    if script_fields:
        # script_fields (SearchSourceBuilder#scriptField): derived
        # response columns from the painless arithmetic subset —
        # doc['f'].value / _score / Math.* — compiled to codegen
        # expressions (same compiler as script_score)
        from .compound import _compile_score_script

        for sfname, spec in script_fields.items():
            ssrc = (spec["script"]["source"]
                    if isinstance(spec.get("script"), dict)
                    else spec["script"])
            out = out.withColumn(
                sfname, _compile_score_script(ssrc, set(out.columns)))
    if value_fields:
        # docvalue_fields / stored_fields: per-hit field values next
        # to the hit (columnar columns ARE doc values here) — kept as
        # metadata through _source filtering, like the reference's
        # separate fields section
        missing = [f for f in value_fields if f not in out.columns]
        if missing:
            raise ValueError(
                f"docvalue/stored fields {missing} are not available "
                f"on this target")
    if source_filter is not None:
        out = _apply_source_filter(out, source_filter,
                                   extra_meta=(list(script_fields or ())
                                               + list(value_fields
                                                      or ())))
    if timeout_s is not None:
        # S7 (CompositeRetriever.java:371-400 expiry): materialize the
        # (size-bounded) result under the budget; a runaway plan is
        # cancelled, not left running.  The collected rows are tiny —
        # top-k hits or a size-limited page — so re-wrapping them in a
        # DataFrame keeps the lazy API surface.
        from .budget import time_budget

        spark = out.sparkSession
        with time_budget(spark, timeout_s, desc=f"search size={size}"):
            rows = out.collect()
        return local_df(spark, rows, out.schema)
    return out


def _apply_source_filter(out: DataFrame, spec,
                         extra_meta: list[str] | None = None) -> DataFrame:
    """``_source`` response filtering (FetchSourceContext): ``False``
    (metadata only), a pattern / list of patterns (includes), or
    ``{"includes": [...], "excludes": [...]}`` — patterns use the
    reference's ``*`` wildcards.  ``docid``, ``score`` and
    ``highlight`` are hit METADATA, not source fields, and are always
    kept when present (like _id/_score in the reference response)."""
    from fnmatch import fnmatchcase

    meta = [c for c in out.columns
            if c in ("docid", "score", *(extra_meta or ()))
            or c.endswith("_highlight")]
    source_cols = [c for c in out.columns if c not in meta]
    if spec is True:
        return out
    if spec is False:
        keep = []
    else:
        if isinstance(spec, (str, list)):
            spec = {"includes": _as_list(spec)}
        inc = _as_list(spec.get("includes")) or ["*"]
        exc = _as_list(spec.get("excludes"))
        keep = [c for c in source_cols
                if any(fnmatchcase(c, p) for p in inc)
                and not any(fnmatchcase(c, p) for p in exc)]
    return out.select(*meta, *keep)


def scroll(target, body: dict[str, Any], page_size: int = 1000,
           text_field: str = "text"):
    """S4 ``scroll``: iterate a filter query's full result set in
    stable pages — a generator of row-lists.

    Implemented over :func:`search`'s ``search_after`` machinery (the
    reference itself deprecated scroll in favor of search_after +
    point-in-time): each page resumes strictly after the previous
    page's last sort tuple, so no server-side cursor state exists and
    an interrupted scroll resumes from its last tuple for free.
    Requires an explicit sort; ``docid`` is appended as a tiebreaker
    when absent so the tuple is always unique.  Snapshot consistency
    is the engine's normal posture (immutable parquet inputs).

    Scored queries page via ``from``/``size`` in :func:`search`
    instead — scroll is for the big filter-context exports
    (InsightsJobProcessor.java:380-435's usage shape).
    """
    from .compound import COMPOUND_KINDS

    qkind = next(iter(body.get("query") or {"match_all": {}}))
    scored_kinds = COMPOUND_KINDS + (
        "match", "multi_match", "match_phrase", "match_phrase_prefix",
        "combined_fields", "more_like_this", "knn", "query_string",
        "simple_query_string")
    if qkind in scored_kinds or body.get("rescore"):
        # scored branches compute top-k and ignore search_after — a
        # scroll over one would return the same page forever.  Scored
        # exports page via from/size; scroll is filter-context (wrap
        # scored clauses in bool.filter to export their match SET).
        raise ValueError(
            f"scroll supports filter-context queries; {qkind!r} is "
            f"scored — page it with from/size, or wrap it in "
            f"bool.filter to export the unscored match set")
    sort = [_norm_sort(s) for s in (body.get("sort") or [])]
    if not sort:
        raise ValueError("scroll requires a sort spec")
    if "docid" not in [c for c, _, _ in sort]:
        sort = sort + [("docid", "asc", "_last")]
    body = dict(body)
    sl = body.pop("slice", None)
    if sl is not None:
        # sliced scroll (SliceBuilder): `max` independent workers each
        # export a disjoint hash partition of the result set — the
        # reference's parallel-reindex fan-out.  The slice is one
        # codegen hash filter on the target frame, so each worker's
        # scan prunes before the query filter; the union over
        # id = 0..max-1 is exactly the unsliced set (the slice field
        # must be unique and non-null, docid by default).
        from .index_search import IndexReader

        if isinstance(target, IndexReader):
            raise ValueError(
                "sliced scroll needs the docs frame target — slice "
                "predicates hash a doc field, which index postings "
                "don't carry")
        sid, smax = int(sl["id"]), int(sl["max"])
        if not 0 <= sid < smax:
            raise ValueError(f"slice id must be in [0, max): {sl}")
        sfld = sl.get("field", "docid")
        target = target.filter(
            F.pmod(F.xxhash64(F.col(sfld)), F.lit(smax)) == F.lit(sid))
    after = body.get("search_after")
    while True:
        page_body = {**body, "sort": sort, "size": page_size}
        page_body.pop("from", None)
        if after is not None:
            page_body["search_after"] = after
        else:
            page_body.pop("search_after", None)
        rows = search(target, page_body, text_field=text_field).collect()
        if not rows:
            return
        yield rows
        if len(rows) < page_size:
            return
        # resume on the EFFECTIVE sort key: a null field value under a
        # literal `missing` sorts (and must resume) as that literal
        after = [rows[-1][c] if rows[-1][c] is not None
                 or m in ("_first", "_last") else m
                 for c, _, m in sort]
