"""Span queries and ``intervals`` sources: one span tree, one kernel.

The Lucene span family the reference's search layer serves
(SpanTermQuery / SpanNearQuery / SpanFirstQuery / SpanOrQuery /
SpanNotQuery / SpanContainingQuery / SpanWithinQuery /
SpanMultiTermQueryWrapper / FieldMaskingSpanQuery — public semantics)
and the ``intervals`` query share one algebra of position windows:

- a ``span_term`` matches at every position p of the term, as the
  span [p, p+1);
- ``span_near`` (clauses, ``slop``, ``in_order``) matches a doc iff
  one sub-span per clause can be chosen, pairwise non-overlapping and
  clause-ordered when ``in_order``, whose enclosing window has
  total gap ``(window_len − Σ sub-span lengths) ≤ slop``.  Unordered,
  EVERY pair of clauses needs distinct positions, whether their
  position lists are equal, overlapping or disjoint: one ``a`` cannot
  serve both ``span_or(a, b)`` and ``span_term a``;
- ``span_first`` restricts the inner span to end at position
  ``≤ end`` (span end is exclusive, Lucene convention);
- the compounds are set algebra over those enumerations.

:func:`parse_span_tree` is the one parser: it turns every span query
body into a node tree (kinds term / pred / or / near / first / not /
containing / within; ``query/planner._interval_tree`` builds the
same nodes from an ``intervals`` source, plus a filter node for its
filter rules).  :func:`enum_spans` is the one kernel: it enumerates
a node's spans over one doc's term → positions map.  Matching only
(filter context / candidate generation) — span SCORING is out of the
supported subset, like the other filter-context rewrites
(``query/compound.py`` docstring).  The kernel reads positions from
either source: the analyzed token arrays (:func:`span_tree_match_expr`,
a batch pandas UDF; positions are array indices) or the positional
postings (``index_search.span_tree_docs_indexed``, which reads only
the tree terms' postings).

Algorithms: ordered near is a greedy nearest-successor chain from
each first-clause occurrence (greedy minimizes the window per start,
so existence is decided exactly); unordered near is the classic
minimal covering window over the merged position stream, one window
per right end with its start pushed as far right as it goes, where
"covering" is an assignment check (a bipartite matching of clauses
to distinct positions) inside the window.
"""

from __future__ import annotations

from bisect import bisect_left, bisect_right

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["UNBOUNDED_GAPS", "parse_span_tree", "tree_terms",
           "tree_preds", "tree_leaf_fields", "pred_matcher",
           "rewrite_preds", "expand_preds", "enum_spans", "span_tree_match",
           "span_tree_match_expr", "span_tree_match_fields",
           "span_tree_match_expr_fields"]

# the near slop of an unbounded gap (intervals max_gaps -1): wider
# than any document
UNBOUNDED_GAPS = 1 << 30

# child keys of each node kind; "cl" holds a list of nodes, every
# other key one node.  term and pred are the leaves.
_CHILDREN = {"term": (), "pred": (), "or": ("cl",), "near": ("cl",),
             "first": ("inner",), "not": ("inc", "exc"),
             "ifilter": ("src", "flt"),
             "containing": ("little", "big"),
             "within": ("little", "big")}


def _parse_clause(c: dict) -> tuple[str, dict]:
    """Parse one nested span clause; returns (field, node)."""
    (kind, body), = c.items()
    return parse_span_tree(kind, body)


def parse_span_tree(kind: str, body: dict) -> tuple[str, dict]:
    """Normalize any span query to (field, node tree).  Node kinds:
    term / pred / or / near / first / not / containing / within."""
    from .tokenizer import tokenize_query

    if kind == "span_term":
        (fld, spec), = body.items()
        val = spec.get("value") if isinstance(spec, dict) else spec
        toks = tokenize_query(str(val))
        if len(toks) != 1:
            raise ValueError(
                f"span_term value must analyze to one token: {val!r} "
                f"-> {toks}")
        return fld, {"k": "term", "t": toks[0]}
    if kind == "span_or":
        subs = [_parse_clause(c) for c in body["clauses"]]
        if not subs:
            raise ValueError("span_or requires at least one clause")
        _one_field(subs)
        return subs[0][0], {"k": "or", "cl": [n for _, n in subs]}
    if kind == "span_near":
        subs = [_parse_clause(c) for c in body["clauses"]]
        if not subs:
            raise ValueError("span_near requires at least one clause")
        _one_field(subs)
        for _, n in subs:
            if not _unit_len(n):
                raise ValueError(
                    "span_near clauses support span_term / span_or of "
                    "span_terms (unit-length sub-spans)")
        slop = int(body.get("slop", 0))
        if slop < 0:
            raise ValueError(f"span_near slop must be >= 0: {slop}")
        return subs[0][0], {"k": "near", "cl": [n for _, n in subs],
                            "slop": slop,
                            "ord": bool(body.get("in_order", True))}
    if kind == "span_first":
        e = int(body["end"])
        if e < 1:
            raise ValueError(f"span_first end must be >= 1: {e}")
        fld, inner = _parse_clause(body["match"])
        return fld, {"k": "first", "inner": inner, "end": e}
    if kind == "span_not":
        fi, inc = _parse_clause(body["include"])
        fe, exc = _parse_clause(body["exclude"])
        if fi != fe:
            raise ValueError(
                f"span_not include/exclude must share one field: "
                f"{fi!r} vs {fe!r}")
        dist = int(body.get("dist", 0))
        return fi, {"k": "not", "inc": inc, "exc": exc,
                    "pre": int(body.get("pre", dist)),
                    "post": int(body.get("post", dist))}
    if kind == "span_multi":
        # SpanMultiTermQueryWrapper (public semantics): wraps a
        # multi-term query and rewrites it to a span_or over every
        # index term the predicate accepts.  Kept as a "pred" node
        # here; expansion happens per execution path — against the
        # doc/batch vocabulary on the brute path (exact: the terms a
        # doc can contribute ARE its tokens), against the term
        # dictionary with a max_expansions cap on the index path
        # (TooManyClauses parity).
        inner = body["match"]
        (mkind, mbody), = inner.items()
        if mkind not in ("prefix", "wildcard", "regexp", "fuzzy"):
            raise ValueError(
                f"span_multi supports prefix/wildcard/regexp/fuzzy, "
                f"got {mkind}")
        (fld, spec), = mbody.items()
        val = spec.get("value") if isinstance(spec, dict) else spec
        node = {"k": "pred", "kind": mkind, "val": str(val)}
        if mkind == "fuzzy":
            from .fuzzy import parse_fuzziness
            fz = (spec.get("fuzziness", "AUTO")
                  if isinstance(spec, dict) else "AUTO")
            node["max_edits"] = parse_fuzziness(fz, str(val))
        return fld, node
    if kind == "field_masking_span":
        # FieldMaskingSpanQuery (public semantics): the inner span
        # query runs against its OWN field's positions but REPORTS the
        # mask field, letting span compounds mix fields.  Leaves keep
        # their source field in "f"; the compound sees the mask field.
        # (Lucene warns the masked scores are not meaningful — this
        # engine's span family is matching-only anyway.)
        mask = body["field"]
        fld_inner, inner = _parse_clause(body["query"])
        return mask, _map_leaves(
            inner, lambda n: n if n.get("f") else {**n, "f": fld_inner})
    if kind in ("span_containing", "span_within"):
        fl, little = _parse_clause(body["little"])
        fb, big = _parse_clause(body["big"])
        if fl != fb:
            raise ValueError(
                f"{kind} little/big must share one field: "
                f"{fl!r} vs {fb!r}")
        return fl, {"k": kind.removeprefix("span_"),
                    "little": little, "big": big}
    raise ValueError(f"not a span query: {kind}")


def _one_field(subs: list[tuple[str, dict]]) -> None:
    fields = {f for f, _ in subs}
    if len(fields) != 1:
        raise ValueError(
            f"span clauses must share one field: {sorted(fields)}")


def _unit_len(node: dict) -> bool:
    if node["k"] in ("term", "pred"):
        # pred expansions are single dictionary tokens
        return True
    return (node["k"] == "or"
            and all(_unit_len(c) for c in node["cl"]))


def _leaves(node: dict):
    """The term and pred leaves, in DFS order."""
    keys = _CHILDREN[node["k"]]
    if not keys:
        yield node
    for key in keys:
        for sub in (node[key] if key == "cl" else [node[key]]):
            yield from _leaves(sub)


def _map_leaves(node: dict, fn) -> dict:
    """The tree with each term / pred leaf replaced by ``fn(leaf)``;
    leaves are visited in the DFS order :func:`tree_preds` lists."""
    keys = _CHILDREN[node["k"]]
    if not keys:
        return fn(node)
    out = dict(node)
    for key in keys:
        out[key] = ([_map_leaves(c, fn) for c in node[key]]
                    if key == "cl" else _map_leaves(node[key], fn))
    return out


def tree_terms(node: dict) -> set[str]:
    """Fixed terms of the tree.  ``pred`` nodes (span_multi, not yet
    expanded) contribute none — expand with :func:`expand_preds`
    before any positions-map lookup."""
    return {n["t"] for n in _leaves(node) if n["k"] == "term"}


def tree_preds(node: dict) -> list[dict]:
    """All ``pred`` (span_multi) nodes, DFS order — the SAME order
    :func:`rewrite_preds` visits, so expansions can be zipped."""
    return [n for n in _leaves(node) if n["k"] == "pred"]


def tree_leaf_fields(node: dict) -> set:
    """Source fields stamped on leaves (``None`` = the tree's default
    field).  Non-trivial only for field_masking_span trees."""
    return {n.get("f") for n in _leaves(node)}


def _wildcard_re(pat: str):
    """Lucene wildcard (``*``/``?``, ``\\`` escape) → anchored regex."""
    import re
    out, i = [], 0
    while i < len(pat):
        c = pat[i]
        if c == "\\" and i + 1 < len(pat):
            out.append(re.escape(pat[i + 1]))
            i += 2
            continue
        out.append(".*" if c == "*" else "." if c == "?"
                   else re.escape(c))
        i += 1
    return re.compile("".join(out), re.DOTALL)


def pred_matcher(node: dict):
    """Batch token predicate for one ``pred`` node:
    ``pd.Series[str] -> np.ndarray[bool]``.  Values are matched
    against ANALYZED tokens (already lowercased), so pattern inputs
    are lowercased to agree with the analyzer — the same convention
    the planner's term-level prefix/wildcard queries use."""
    import re
    kind, val = node["kind"], node["val"]
    if kind == "prefix":
        v = val.lower()
        return lambda s: s.str.startswith(v).to_numpy()
    if kind == "wildcard":
        rx = _wildcard_re(val.lower())
        return lambda s: s.map(
            lambda t: rx.fullmatch(t) is not None).to_numpy()
    if kind == "regexp":
        # Lucene regexp is ANCHORED (whole-term); tokens are already
        # lowercase so the pattern is matched case-sensitively
        rx = re.compile(val)
        return lambda s: s.map(
            lambda t: rx.fullmatch(t) is not None).to_numpy()
    if kind == "fuzzy":
        from .fuzzy import osa_distance_batch
        v = val.lower()
        me = int(node["max_edits"])
        return lambda s: (osa_distance_batch(s, v).to_numpy() <= me)
    raise ValueError(f"unknown span_multi predicate kind {kind!r}")


def rewrite_preds(node: dict, expansions) -> dict:
    """Replace each ``pred`` node with a span_or of term nodes (which
    keep the pred's source field).  ``expansions`` is an iterator
    yielding one ``list[str]`` per pred, in :func:`tree_preds` DFS
    order (Lucene's SpanRewriteMethod → SpanOrQuery rewrite).  An
    empty expansion enumerates no spans."""
    def leaf(n: dict) -> dict:
        if n["k"] != "pred":
            return n
        f = {"f": n["f"]} if n.get("f") else {}
        return {"k": "or",
                "cl": [{"k": "term", "t": t, **f} for t in next(expansions)]}

    return _map_leaves(node, leaf)


def expand_preds(node: dict, vocab_of,
                 max_expansions: int | None = None) -> dict:
    """Expand every ``pred`` node to the terms of ``vocab_of(pred)``
    (an iterable of tokens) that it accepts.  More than
    ``max_expansions`` terms for one pred raise (Lucene's
    TooManyClauses posture)."""
    exps: list[list[str]] = []
    for p in tree_preds(node):
        vs = pd.Series(sorted(set(vocab_of(p))), dtype="object")
        matched = sorted(vs[pred_matcher(p)(vs)]) if len(vs) else []
        if max_expansions is not None and len(matched) > max_expansions:
            raise ValueError(
                f"span_multi {p['kind']} {p['val']!r} expands to "
                f"{len(matched)} terms > max_expansions "
                f"{max_expansions} (TooManyClauses)")
        exps.append(matched)
    return rewrite_preds(node, iter(exps)) if exps else node


_EMPTY_SPANS = np.empty((0, 2), dtype=np.int64)
_UNIT_SPAN = np.array([0, 1], dtype=np.int64)


def _dedup_sorted(sp: np.ndarray) -> np.ndarray:
    if len(sp) == 0:
        return _EMPTY_SPANS
    order = np.lexsort((sp[:, 1], sp[:, 0]))
    sp = sp[order]
    keep = np.ones(len(sp), dtype=bool)
    keep[1:] = np.any(sp[1:] != sp[:-1], axis=1)
    return sp[keep]


def _assignable(starts: list[list[int]], lo: int, hi: int) -> bool:
    """Whether every clause can take a DISTINCT position of its own
    ascending ``starts`` inside ``[lo, hi]`` — a bipartite matching
    of clauses to positions by augmenting paths."""
    cands = [ps[bisect_left(ps, lo):bisect_right(ps, hi)] for ps in starts]
    owner: dict[int, int] = {}

    def place(ci: int, seen: set) -> bool:
        for x in cands[ci]:
            if x not in seen:
                seen.add(x)
                if x not in owner or place(owner[x], seen):
                    owner[x] = ci
                    return True
        return False

    return all(place(ci, set()) for ci in range(len(cands)))


def enum_spans(positions: dict[str, np.ndarray], node: dict) -> np.ndarray:
    """All spans (rows of [start, end), end exclusive) the node
    enumerates over one doc's term→positions map — sorted, deduped."""
    k = node["k"]
    if k == "pred":
        raise ValueError(
            "unexpanded span_multi pred node — rewrite_preds first")
    if k == "term":
        ps = positions.get(node["t"])
        if ps is None or len(ps) == 0:
            return _EMPTY_SPANS
        return ps[:, None] + _UNIT_SPAN
    if k == "or":
        subs = [enum_spans(positions, c) for c in node["cl"]]
        return _dedup_sorted(np.concatenate([s for s in subs if len(s)]
                                            or [_EMPTY_SPANS]))
    if k == "near":
        cls = [enum_spans(positions, c) for c in node["cl"]]
        if any(len(c) == 0 for c in cls):
            return _EMPTY_SPANS
        # unit-length sub-spans: each clause is its ascending starts
        starts = [c[:, 0].tolist() for c in cls]
        m, slop = len(starts), node["slop"]
        out = []
        if node["ord"]:
            # per first-clause start: greedy nearest-successor chain
            # (the minimal window per start — NearSpansOrdered)
            for p1 in starts[0]:
                prev = p1
                for ps in starts[1:]:
                    i = bisect_right(ps, prev)
                    prev = ps[i] if i < len(ps) else None
                    if prev is None:
                        break
                if prev is None:
                    # chains from later starts cannot complete either
                    break
                if (prev - p1 + 1) - m <= slop:
                    out.append((p1, prev + 1))
        else:
            # minimal covering windows over the merged stream: per
            # right end p the rightmost start whose window gives every
            # clause a DISTINCT position (the start never moves left as
            # p grows).  Per-clause counts of window positions decide
            # that when no position serves two clauses; else a
            # matching over the window does
            at: dict[int, list[int]] = {}
            for ci, ps in enumerate(starts):
                for x in ps:
                    at.setdefault(x, []).append(ci)
            merged = sorted(at)
            shared = len(merged) < sum(map(len, starts))
            cnt = [0] * m
            have = lo = 0
            for p in merged:
                for ci in at[p]:
                    have += cnt[ci] == 0
                    cnt[ci] += 1
                if have < m or (shared and not _assignable(
                        starts, merged[lo], p)):
                    continue
                while all(cnt[ci] > 1 for ci in at[merged[lo]]) and (
                        not shared
                        or _assignable(starts, merged[lo + 1], p)):
                    for ci in at[merged[lo]]:
                        cnt[ci] -= 1
                    lo += 1
                if (p - merged[lo] + 1) - m <= slop:
                    out.append((merged[lo], p + 1))
        # both scans emit windows in (start, end) order, so the rows
        # come out sorted and deduped
        return np.asarray(out, dtype=np.int64).reshape(-1, 2)
    if k == "first":
        sp = enum_spans(positions, node["inner"])
        return sp[sp[:, 1] <= node["end"]]
    if k == "not":
        inc = enum_spans(positions, node["inc"])
        exc = enum_spans(positions, node["exc"])
        if len(inc) == 0 or len(exc) == 0:
            return inc
        keep = []
        for s, e in inc:
            lo_ = s - node["pre"]
            hi_ = e + node["post"]
            # overlap iff exc_s < hi_ and exc_e > lo_
            if not np.any((exc[:, 0] < hi_) & (exc[:, 1] > lo_)):
                keep.append((s, e))
        return np.asarray(keep, dtype=np.int64).reshape(-1, 2)
    if k == "ifilter":
        # intervals `filter` rules (IntervalsSourceProvider.Filter):
        # keep source spans by a positional relation to the filter's
        # spans — containment either way or overlap, plus negations
        src = enum_spans(positions, node["src"])
        flt = enum_spans(positions, node["flt"])
        rule = node["rule"]
        neg = rule.startswith("not_")
        base = rule[4:] if neg else rule
        if len(src) == 0:
            return _EMPTY_SPANS
        keep = []
        for s, e in src:
            if len(flt) == 0:
                hit = False
            elif base == "containing":
                hit = bool(np.any((flt[:, 0] >= s) & (flt[:, 1] <= e)))
            elif base == "contained_by":
                hit = bool(np.any((flt[:, 0] <= s) & (flt[:, 1] >= e)))
            elif base == "overlapping":
                hit = bool(np.any((flt[:, 0] < e) & (flt[:, 1] > s)))
            else:
                raise ValueError(f"unknown intervals filter rule "
                                 f"{rule!r}")
            if hit != neg:
                keep.append((int(s), int(e)))
        return np.asarray(keep, dtype=np.int64).reshape(-1, 2)
    if k in ("containing", "within"):
        little = enum_spans(positions, node["little"])
        big = enum_spans(positions, node["big"])
        if len(little) == 0 or len(big) == 0:
            return _EMPTY_SPANS
        if k == "containing":
            keep = [(s, e) for s, e in big
                    if np.any((little[:, 0] >= s) & (little[:, 1] <= e))]
        else:
            keep = [(s, e) for s, e in little
                    if np.any((big[:, 0] <= s) & (big[:, 1] >= e))]
        return np.asarray(keep, dtype=np.int64).reshape(-1, 2)
    raise ValueError(f"unknown span node kind {k!r}")


def _match(node: dict, tokens_by_key: dict[str, list[str]]) -> bool:
    """Whether the expanded ``node`` enumerates any span over one doc.
    Its term leaves are looked up as ``key + token`` for each
    ``key → tokens`` stream (positions are array indices)."""
    positions: dict[str, list[int]] = {t: [] for t in tree_terms(node)}
    for key, toks in tokens_by_key.items():
        for i, tok in enumerate(toks):
            if key + tok in positions:
                positions[key + tok].append(i)
    parr = {t: np.asarray(v, dtype=np.int64)
            for t, v in positions.items()}
    return len(enum_spans(parr, node)) > 0


def span_tree_match(tokens: list[str], node: dict) -> bool:
    """Match one doc's token list.  span_multi preds expand against the
    doc's own vocabulary — exact: a doc can only contribute spans of
    tokens it contains."""
    if tree_leaf_fields(node) - {None}:
        raise ValueError(
            "masked (field_masking_span) trees need every field's "
            "tokens — use span_tree_match_fields")
    return _match(expand_preds(node, lambda p: tokens), {"": tokens})


def span_tree_match_expr(tokens_col: Column, node: dict) -> Column:
    """Boolean Column over an analyzed token-array column — one Arrow
    batch per partition, per-doc matching inside.  span_multi preds
    are expanded ONCE per Arrow batch against the batch vocabulary
    (the fuzzy OSA kernel is batch-vectorized, so this is one DP over
    the batch's unique tokens, not one per doc); per doc, terms absent
    from the doc enumerate no spans, so the batch-level rewrite is
    exactly the per-doc one."""
    node_l = node
    has_preds = bool(tree_preds(node))

    @F.pandas_udf(T.BooleanType())
    def _f(tok_s: pd.Series) -> pd.Series:
        docs = [list(toks) if toks is not None else [] for toks in tok_s]
        tree = node_l
        if has_preds:
            vocab = {t for toks in docs for t in toks}
            tree = expand_preds(tree, lambda p: vocab)
        return pd.Series([span_tree_match(toks, tree) for toks in docs])

    return _f(tokens_col)


def span_tree_match_fields(tokens_by_field: dict[str, list[str]],
                           node: dict, default_field: str) -> bool:
    """Multi-field (field_masking_span) matcher: each pred expands
    against its own field's doc vocabulary, and every leaf reads the
    positions of its source field (``default_field`` when unstamped)."""
    node = expand_preds(node, lambda p: tokens_by_field.get(
        p.get("f") or default_field) or [])
    node = _map_leaves(node, lambda n: {
        "k": "term", "t": (n.get("f") or default_field) + "\x00" + n["t"]})
    return _match(node, {f + "\x00": toks or []
                         for f, toks in tokens_by_field.items()})


def span_tree_match_expr_fields(tokens_cols: dict[str, Column],
                                node: dict,
                                default_field: str) -> Column:
    """Boolean Column for a multi-field span tree: one Arrow batch
    over every involved field's analyzed token array."""
    fields = list(tokens_cols)
    node_l = node

    @F.pandas_udf(T.BooleanType())
    def _f(*cols: pd.Series) -> pd.Series:
        out = []
        for row in zip(*cols):
            by_field = {f: (list(t) if t is not None else [])
                        for f, t in zip(fields, row)}
            out.append(span_tree_match_fields(by_field, node_l,
                                              default_field))
        return pd.Series(out)

    return _f(*tokens_cols.values())
