"""Compound scored queries: ``dis_max``, ``constant_score``,
``boosting``, ``function_score``.

The user-surface ring after ``query_string`` (round 5): the Lucene
compound queries OpenSearch exposes, combined EXACTLY — every
sub-query contributes its full per-doc score set (``bm25_scores`` /
``bm25_scores_indexed``, no top-k cut), scores are combined in
DataFrame land (joins + codegen arithmetic), and only the final
combined score is top-k'd.  Truncating sub-queries first would break
rank correctness whenever the combinator reorders (tie_breaker,
negative_boost, field_value_factor all do), so no pruning applies
below the combine — the same posture as ``multi_match``
(``index_search.bm25_scores_indexed`` docstring).

Reference surface: the OpenSearch DSL the plugin's user-facing config
accepts (filter_query is an arbitrary registered query,
``ParseUtils.java:120-123``).  Scoring semantics follow the public
Lucene queries: DisjunctionMaxQuery (max + tie_breaker · rest),
ConstantScoreQuery (boost), the (deprecated-in-Lucene, still-served)
BoostingQuery (positive score × negative_boost where the negative
query matches), and FunctionScoreQuery (function value combined with
the query score via boost_mode after score_mode-combining the
functions).

Scoring subset, documented: leaf scored clauses are ``match`` /
``match_all`` (BM25 / 1.0); any other leaf (term, range, exists,
wildcard, prefix, …) scores as a CONSTANT 1.0 filter — the
constant-score rewrite OpenSearch itself applies to filter-context
clauses.  Compounds nest arbitrarily.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from ..localdf import local_df

COMPOUND_KINDS = ("dis_max", "constant_score", "boosting",
                  "function_score", "script_score", "pinned",
                  "distance_feature", "rank_feature")

_NEUTRAL = {"multiply": 1.0, "sum": 0.0, "avg": 0.0,
            "max": float("-inf"), "min": float("inf")}


def _combine(mode: str, cols: list[Column]) -> Column:
    if mode == "multiply":
        out = cols[0]
        for c in cols[1:]:
            out = out * c
        return out
    if mode == "sum":
        out = cols[0]
        for c in cols[1:]:
            out = out + c
        return out
    if mode == "avg":
        return _combine("sum", cols) / F.lit(float(len(cols)))
    if mode == "max":
        return F.greatest(*cols) if len(cols) > 1 else cols[0]
    if mode == "min":
        return F.least(*cols) if len(cols) > 1 else cols[0]
    raise ValueError(f"unsupported combine mode: {mode}")


class _Target:
    """Uniform access to the two target shapes: an IndexReader or an
    analyzed docs DataFrame (tokens + doc_len + source columns)."""

    def __init__(self, target, text_field: str):
        from .index_search import IndexReader

        self.is_index = isinstance(target, IndexReader)
        self.target = target
        self.text_field = text_field

    @property
    def docs(self) -> DataFrame:
        return (self.target.doc_stats() if self.is_index else self.target)

    def match_scores(self, fld: str, text: str,
                     conjunctive: bool) -> DataFrame:
        # both paths score the one analyzed text field — the brute
        # path's bm25_scores reads the shared `tokens` column, so a
        # different field would be SILENTLY scored against the wrong
        # text; raise exactly like the index path does
        if fld != self.text_field:
            raise ValueError(
                f"scored match inside a compound query supports the "
                f"indexed text field {self.text_field!r}; got {fld!r}")
        from ..functions.tokenizer import tokenize_query
        from .brute_force import bm25_scores
        from .index_search import bm25_scores_indexed

        # operator:and: a doc must match every distinct query term
        need = len(set(tokenize_query(text))) if conjunctive else 0
        scores = bm25_scores_indexed if self.is_index else bm25_scores
        return scores(self.target, text, min_match=need)

    def filter_docids(self, query: dict[str, Any]) -> DataFrame:
        """docids matching ``query`` in filter context."""
        from .planner import compile_filter

        return (self.docs.filter(compile_filter(self.docs, query))
                .select("docid"))


def compound_scores(target, query: dict[str, Any],
                    text_field: str = "text") -> DataFrame:
    """Full per-doc score set (docid, score) for a compound query —
    the combining layer :func:`~.planner.search` top-k's."""
    return _scores(_Target(target, text_field), query)


def _scores(tgt: _Target, query: dict[str, Any]) -> DataFrame:
    (kind, body), = query.items()

    if kind == "match_all":
        boost = (body.get("boost", 1.0) if isinstance(body, dict) else 1.0)
        return tgt.docs.select("docid",
                               F.lit(float(boost)).alias("score"))

    if kind == "match":
        (fld, spec), = body.items()
        text = spec.get("query") if isinstance(spec, dict) else spec
        op = (spec.get("operator", "or").lower()
              if isinstance(spec, dict) else "or")
        boost = (float(spec.get("boost", 1.0))
                 if isinstance(spec, dict) else 1.0)
        out = tgt.match_scores(fld, text, conjunctive=op == "and")
        if boost != 1.0:
            out = out.withColumn("score", F.col("score") * F.lit(boost))
        return out

    if kind == "constant_score":
        boost = float(body.get("boost", 1.0))
        return (tgt.filter_docids(body["filter"])
                .select("docid", F.lit(boost).alias("score")))

    if kind == "dis_max":
        subs = body["queries"]
        if not subs:
            raise ValueError("dis_max requires at least one sub-query")
        tb = float(body.get("tie_breaker", 0.0))
        union = _scores(tgt, subs[0])
        for s in subs[1:]:
            union = union.unionByName(_scores(tgt, s))
        # score = max + tie_breaker · (sum − max), per
        # DisjunctionMaxQuery
        return (union.groupBy("docid")
                .agg(F.max("score").alias("_mx"), F.sum("score").alias("_sm"))
                .select("docid",
                        (F.col("_mx") + F.lit(tb)
                         * (F.col("_sm") - F.col("_mx"))).alias("score")))

    if kind == "boosting":
        nb = float(body.get("negative_boost", 0.5))
        pos = _scores(tgt, body["positive"])
        neg = (tgt.filter_docids(body["negative"])
               .withColumn("_neg", F.lit(True)))
        # no broadcast hint: the negative set can be a large fraction
        # of the corpus; AQE picks broadcast when it is actually small
        return (pos.join(neg, "docid", "left")
                .select("docid",
                        F.when(F.col("_neg"), F.col("score") * F.lit(nb))
                        .otherwise(F.col("score")).alias("score")))

    if kind == "function_score":
        return _function_score(tgt, body)

    if kind == "script_score":
        # ScriptScoreQuery: the inner query's score is REPLACED by the
        # script value (which may reference _score and doc fields).
        # Painless arithmetic subset, compiled to one codegen Column —
        # same safety posture as aggs._compile_bucket_script.
        inner = body.get("query", {"match_all": {}})
        qscores = _scores(tgt, inner)
        expr = _compile_score_script(
            body["script"]["source"] if isinstance(body["script"], dict)
            else body["script"],
            doc_cols=set(tgt.docs.columns))
        joined = qscores.join(tgt.docs.drop("score"), "docid")
        out = joined.select("docid", expr.cast("double").alias("score"))
        if "min_score" in body:
            out = out.filter(F.col("score")
                             >= F.lit(float(body["min_score"])))
        return out

    if kind == "pinned":
        # PinnedQueryBuilder: listed ids rank first, in list order,
        # above every organic hit (reference gives them descending
        # near-Float.MAX scores; same device here), organic results
        # follow with their own scores; pinned docs are removed from
        # the organic set so they appear once.
        ids = list(body["ids"])
        organic = _scores(tgt, body["organic"])
        spark = organic.sparkSession
        # step must survive float64 granularity at 3e38 (~4e22); 1e30
        # keeps 3e8 pins strictly ordered and far above any BM25 score
        pin = local_df(
            spark,
            [(int(i), _PIN_BASE - r * 1e30) for r, i in enumerate(ids)],
            "docid long, score double")
        # only ids that exist in the corpus pin (like the reference,
        # which silently skips unknown ids)
        pin = pin.join(tgt.docs.select("docid"), "docid", "left_semi")
        return (organic.join(F.broadcast(pin.select("docid")),
                             "docid", "left_anti")
                .unionByName(pin))

    if kind == "rank_feature":
        # RankFeatureQuery: matches docs with a positive feature value;
        # score by saturation x/(x+pivot) (pivot required here — the
        # reference's default learns a per-shard geometric mean we
        # refuse to guess), log ln(a + x), or sigmoid x^e/(x^e+p^e).
        fld = body["field"]
        boost = float(body.get("boost", 1.0))
        x = F.col(fld).cast("double")
        if "log" in body:
            sc = F.log(F.lit(float(body["log"]["scaling_factor"])) + x)
        elif "sigmoid" in body:
            p = float(body["sigmoid"]["pivot"])
            e = float(body["sigmoid"]["exponent"])
            sc = F.pow(x, e) / (F.pow(x, e) + F.lit(p ** e))
        else:
            sat = body.get("saturation")
            if not sat or "pivot" not in sat:
                raise ValueError(
                    "rank_feature requires saturation.pivot (or log/"
                    "sigmoid): the reference's pivot-free default uses "
                    "index statistics this engine won't silently guess")
            sc = x / (x + F.lit(float(sat["pivot"])))
        return (tgt.docs.filter(x > 0)
                .select("docid", (F.lit(boost) * sc).alias("score")))

    if kind == "distance_feature":
        # DistanceFeatureQuery: score = boost · pivot/(pivot + dist),
        # matching docs with a value; dist in millis for timestamp
        # fields (origin epoch/ISO, pivot a duration string), absolute
        # difference for numerics.
        return _distance_feature_scores(tgt, body)

    # any other leaf: OpenSearch's filter-context constant-score
    # rewrite — matching docs score 1.0
    return (tgt.filter_docids(query)
            .select("docid", F.lit(1.0).alias("score")))


def _function_value(tgt: _Target, fn: dict[str, Any],
                    docs: DataFrame) -> tuple[Column, Column]:
    """(applies?, value) Columns for one function entry over the doc
    frame.  Supported: ``filter`` (gates applicability), ``weight``,
    ``field_value_factor`` {field, factor, modifier, missing}."""
    from .planner import compile_filter

    applies = (compile_filter(docs, fn["filter"]) if "filter" in fn
               else F.lit(True))
    weight = float(fn.get("weight", 1.0))
    if "field_value_factor" in fn:
        fvf = fn["field_value_factor"]
        raw = F.col(fvf["field"]).cast("double")
        if "missing" in fvf:
            raw = F.coalesce(raw, F.lit(float(fvf["missing"])))
        v = raw * F.lit(float(fvf.get("factor", 1.0)))
        mod = fvf.get("modifier", "none")
        if mod == "log1p":
            v = F.log1p(v)
        elif mod == "ln":
            v = F.log(v)
        elif mod == "sqrt":
            v = F.sqrt(v)
        elif mod == "square":
            v = v * v
        elif mod == "reciprocal":
            v = F.lit(1.0) / v
        elif mod != "none":
            raise ValueError(f"unsupported field_value_factor modifier: "
                             f"{mod!r} (none/log1p/ln/sqrt/square/"
                             f"reciprocal)")
        value = v * F.lit(weight)
    else:
        value = F.lit(weight)
    return applies, value


def _function_score(tgt: _Target, body: dict[str, Any]) -> DataFrame:
    inner = body.get("query", {"match_all": {}})
    fns = list(body.get("functions", []))
    for short in ("field_value_factor", "weight"):
        if short in body:          # shorthand single-function form
            fns.append({short: body[short]} if short != "weight"
                       else {"weight": body[short]})
    score_mode = body.get("score_mode", "multiply")
    boost_mode = body.get("boost_mode", "multiply")
    if score_mode not in _NEUTRAL:
        raise ValueError(f"unsupported score_mode: {score_mode!r}")
    if boost_mode not in ("multiply", "sum", "avg", "max", "min",
                          "replace"):
        raise ValueError(f"unsupported boost_mode: {boost_mode!r}")

    qscores = _scores(tgt, inner)
    docs = tgt.docs
    joined = qscores.join(docs.drop("score"), "docid")

    if fns:
        parts: list[tuple[Column, Column]] = [
            _function_value(tgt, fn, docs) for fn in fns]
        # score_mode-combine only the functions whose filter matches;
        # no matching function → neutral 1.0 (the query score passes
        # through unchanged, as in FunctionScoreQuery)
        neutral = _NEUTRAL[score_mode]
        vals = [F.when(a, v).otherwise(F.lit(neutral))
                for a, v in parts]
        any_applies = parts[0][0]
        for a, _ in parts[1:]:
            any_applies = any_applies | a
        fval = _combine(score_mode, vals)
        if score_mode == "avg":
            # average over APPLYING functions only
            n_app = parts[0][0].cast("int")
            for a, _ in parts[1:]:
                n_app = n_app + a.cast("int")
            fval = (_combine("sum",
                             [F.when(a, v).otherwise(F.lit(0.0))
                              for a, v in parts])
                    / F.greatest(n_app.cast("double"), F.lit(1.0)))
        fval = F.when(any_applies, fval).otherwise(F.lit(1.0))
        if "max_boost" in body:
            fval = F.least(fval, F.lit(float(body["max_boost"])))
    else:
        fval = F.lit(1.0)

    q = F.col("score")
    if boost_mode == "multiply":
        final = q * fval
    elif boost_mode == "sum":
        final = q + fval
    elif boost_mode == "avg":
        final = (q + fval) / F.lit(2.0)
    elif boost_mode == "max":
        final = F.greatest(q, fval)
    elif boost_mode == "min":
        final = F.least(q, fval)
    else:                           # replace
        final = fval
    out = joined.select("docid", final.alias("_final"))
    if "min_score" in body:
        out = out.filter(F.col("_final") >= F.lit(float(body["min_score"])))
    return out.select("docid", F.col("_final").alias("score"))


# near Float.MAX_VALUE, like PinnedQueryBuilder's descending pin scores
_PIN_BASE = 3.0e38


def _compile_score_script(source: str, doc_cols: set[str]) -> Column:
    """Painless-subset score script → Column.  ``_score`` maps to the
    inner query's score column; ``doc['f'].value`` to field ``f``
    (existence-checked); ``Math.log|log1p|sqrt|exp|abs|max|min`` to the
    SQL functions.  After substitution anything but pure arithmetic
    rejects, so no unmapped name reaches Catalyst."""
    import re

    expr = source
    fields = re.findall(r"doc\['([^']+)'\]\.value", expr)
    for fld in fields:
        if fld not in doc_cols:
            raise ValueError(
                f"script_score references unknown field {fld!r}")
        expr = expr.replace(f"doc['{fld}'].value", f"`{fld}`")
    # standalone _score only — a substring replace would corrupt
    # backticked field names like `raw_score`
    expr = re.sub(r"(?<![\w`])_score\b", "`score`", expr)
    for fn, sql in (("Math.log1p", "LOG1P"), ("Math.log", "LN"),
                    ("Math.sqrt", "SQRT"), ("Math.exp", "EXP"),
                    ("Math.abs", "ABS"), ("Math.max", "GREATEST"),
                    ("Math.min", "LEAST")):
        expr = expr.replace(fn, sql)
    bare = re.sub(r"`[^`]*`", "", expr)
    bare = re.sub(r"\b(LOG1P|LN|SQRT|EXP|ABS|GREATEST|LEAST)\b", "", bare)
    if re.search(r"[A-Za-z_`\[\]']", bare) or \
            not set(bare) <= set("0123456789. +-*/()%,"):
        raise ValueError(f"unsupported script_score script: {source!r}")
    return F.expr(expr)


def compile_filter_script(source: str, params: dict[str, Any],
                          doc_cols: set[str]) -> Column:
    """Boolean painless subset (the ``script`` query,
    ScriptQueryBuilder — filter context, matches where the script
    returns true) → Catalyst predicate.

    Subset: ``doc['f'].value`` field access (existence-checked),
    ``params.name`` substitution (numbers / strings / booleans),
    arithmetic, ``Math.*`` (same table as script_score), comparisons
    (== != > >= < <=), string-literal equality, and ``&& || !``
    connectives.  Everything compiles to one codegen predicate — the
    script never leaves the JVM, and Catalyst can push it into the
    scan like any other filter.  Anything outside the subset rejects
    BY NAME after substitution, so no unmapped identifier reaches
    ``F.expr``.
    """
    import re

    expr = source
    for fld in re.findall(r"doc\['([^']+)'\]\.value", expr):
        if fld not in doc_cols:
            raise ValueError(
                f"script query references unknown field {fld!r}")
        expr = expr.replace(f"doc['{fld}'].value", f"`{fld}`")

    # pull string literals (and string params) out into placeholders
    # BEFORE the operator rewrites, so values like 'a&&b' or a
    # backslash-bearing param are never touched by the && / == / Math
    # substitutions (re.sub replacement is a lambda for the same
    # reason — a raw replacement string would interpret backslashes)
    stash: list[str] = []

    def _stash(lit: str) -> str:
        stash.append(lit)
        return f"\x00{len(stash) - 1}\x00"

    expr = re.sub(r"'(?:[^'])*'", lambda m: _stash(m.group(0)), expr)
    for name in sorted(params, key=len, reverse=True):
        v = params[name]
        if isinstance(v, bool):
            lit = "true" if v else "false"
        elif isinstance(v, (int, float)):
            # stashed: repr may use exponent form (1e-09), whose 'e'
            # would otherwise trip the bare-identifier validator
            lit = _stash(repr(v))
        elif isinstance(v, str):
            # param values are RAW strings: escape backslashes for the
            # SQL literal parser (painless SOURCE literals pass
            # through untouched — painless and Spark SQL share the
            # backslash escape convention there)
            lit = _stash("'" + v.replace("\\", "\\\\")
                         .replace("'", "''") + "'")
        else:
            raise ValueError(
                f"script query param {name!r} must be a scalar, "
                f"got {type(v).__name__}")
        expr = re.sub(rf"\bparams\.{re.escape(name)}\b",
                      lambda m, lit=lit: lit, expr)
    for fn, sql in (("Math.log1p", "LOG1P"), ("Math.log", "LN"),
                    ("Math.sqrt", "SQRT"), ("Math.exp", "EXP"),
                    ("Math.abs", "ABS"), ("Math.max", "GREATEST"),
                    ("Math.min", "LEAST")):
        expr = expr.replace(fn, sql)
    # painless connectives → SQL (protect != before mapping bare !)
    expr = (expr.replace("!=", "<>").replace("&&", " AND ")
            .replace("||", " OR ").replace("==", " = ")
            .replace("!", " NOT "))
    bare = re.sub(r"`[^`]*`", "", expr)        # field names
    bare = re.sub(r"\x00\d+\x00", "", bare)    # stashed literals
    bare = re.sub(r"\b(LOG1P|LN|SQRT|EXP|ABS|GREATEST|LEAST|AND|OR|NOT"
                  r"|true|false)\b", "", bare)
    if re.search(r"[A-Za-z_`\[\]']", bare) or \
            not set(bare) <= set("0123456789. +-*/()%,<>="):
        raise ValueError(f"unsupported script query script: {source!r}")
    expr = re.sub(r"\x00(\d+)\x00",
                  lambda m: stash[int(m.group(1))], expr)
    return F.expr(expr).cast("boolean")


def _distance_feature_scores(tgt: _Target,
                             body: dict[str, Any]) -> DataFrame:
    from pyspark.sql import types as T

    fld = body["field"]
    boost = float(body.get("boost", 1.0))
    docs = tgt.docs
    dt = docs.schema[fld].dataType
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        from .aggs import to_millis
        from .aggs_body import interval_ms

        origin = body["origin"]
        o = (F.lit(int(origin)) if isinstance(origin, (int, float))
             else F.unix_millis(F.lit(str(origin)).cast("timestamp")))
        pivot = float(interval_ms(body["pivot"]))
        dist = F.abs(to_millis(fld) - o).cast("double")
    else:
        pivot = float(body["pivot"])
        dist = F.abs(F.col(fld).cast("double")
                     - F.lit(float(body["origin"])))
    score = F.lit(boost) * F.lit(pivot) / (F.lit(pivot) + dist)
    return (docs.filter(F.col(fld).isNotNull())
            .select("docid", score.alias("score")))
