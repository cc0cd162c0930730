"""Lucene classic ``query_string`` syntax, compiled onto the bool engine.

The reference's ES indices answer ``query_string`` queries by default (the
portal and any Kibana/curl user hit this surface; the published Lucene classic
QueryParser grammar is the contract). This module is a driver-side PARSER —
O(|query string|) work on bytes of user input, never data — that lowers the
classic syntax onto :func:`es_indexer_spark.query.boolean.bool_query`, so all
heavy lifting stays in the engine's single-shuffle shard evaluation.

Supported syntax (each construct lowers to a documented engine clause):

- bare terms               -> should (``default_operator="or"``) or must;
- ``+term`` / ``-term``    -> must / must_not;
- ``a AND b`` / ``&&``     -> a term adjacent to an AND becomes must;
- ``a OR b`` / ``||``      -> adjacency keeps the terms should;
- ``NOT a`` / ``!a``       -> must_not;
- ``"a phrase"`` / ``"a phrase"~N`` -> match_phrase in FILTER context with
  slop N (required, non-scoring — the same documented divergence as
  simple_query_string: ES scores quoted phrases; one phrase per query);
- ``term~`` / ``term~N``   -> fuzzy clause (dictionary expansion, ±N edits;
  all explicit ``~N`` in one query must agree — the engine takes one
  fuzziness knob);
- ``term^2.5``             -> per-clause boost;
- ``term*``                -> trailing-wildcard prefix clause
  (``rewrite=scoring_boolean`` expansion, top-``max_expansions`` by df);
  ``?`` or an inner/leading ``*`` raise and point at ``wildcard_query``;
- ``field:value``          -> ``bool.filter(term)`` on a stored field
  (numeric-looking values compare numerically);
- ``field:[a TO b]`` / ``{a TO b}`` / ``field:>v >=v <v <=v``
                           -> ``bool.filter(range)`` (``[``/``]`` inclusive,
  ``{``/``}`` exclusive, ``*`` bound = unbounded; several ranges stack into
  one pushed docs-store scan);
- ``_exists_:field``       -> ``bool.filter(exists)``;
- ``*`` / ``*:*``          -> match_all (constant-score scan of the docs
  store — no postings touched).

Round-5h additions:

- ``( )`` grouping → each group is a sub-BooleanQuery (``( ... )^2`` boosts
  it, ``+``/``-``/``NOT`` require/negate it); the whole query lowers to a
  nested ES bool spec and runs through the compositional evaluator
  (query/composebool.py), which flattens back onto the one-scan engine
  whenever the shape allows. OR-adjacent field filters inside parens are a
  TRUE disjunction (``(lang:en OR lang:fr)``).
- ``/regex/`` → dictionary expansion (top-``max_expansions`` by df, the
  constant-score multi-term rewrite) into the bool engine's constant-score
  ``terms`` groups; ``-/re/`` excludes the expansions. Inside parens it
  raises by name (use the flat form).

Still unsupported, raising by name rather than mis-parsing: a negated
phrase/field/range (the engine's filter context is required-only), boost on
a phrase (filter context never scores), and general ``?``/inner-``*``
patterns (use ``wildcard_query``).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, functions as F

_RANGE = re.compile(
    r"(?P<field>[A-Za-z_][\w.]*):(?P<lb>[\[{])\s*(?P<lo>[^\s\]}]+)\s+TO\s+"
    r"(?P<hi>[^\s\]}]+)\s*(?P<rb>[\]}])"
)
_PHRASE = re.compile(r'"(?P<body>[^"]*)"(?:~(?P<slop>\d+))?')
_CMP = re.compile(r"(?P<field>[A-Za-z_][\w.]*):(?P<op>>=|<=|>|<)(?P<val>\S+)")
_FIELD = re.compile(r"(?P<field>[A-Za-z_][\w.]*):(?P<val>\S+)$")
_BOOST = re.compile(r"\^(?P<boost>\d+(?:\.\d+)?)$")
_FUZZ = re.compile(r"~(?P<fuzz>\d*)$")
_REGEXP = re.compile(r"/(?P<body>(?:\\.|[^/\s])+)/")


def _num(v: str):
    """Numeric-looking range/filter values compare numerically."""
    try:
        return int(v)
    except ValueError:
        try:
            return float(v)
        except ValueError:
            return v


def parse_query_string(query: str, default_operator: str = "or") -> dict:
    """Parse the classic syntax into engine clause lists (the FLAT form —
    grouped queries go through :func:`parse_query_string_grouped`). Returns
    a dict of bool_query kwargs plus ``match_all`` (bool) and ``fuzziness``
    (explicit ``~N`` value or None)."""
    q = query.strip()
    if q in ("*", "*:*"):
        return {"match_all": True}
    if "(" in q or ")" in q:
        raise ValueError(
            "grouping ( ) needs the grouped parser — "
            "parse_query_string_grouped / query_string route there"
        )
    # extract phrases and bracket ranges first — both contain spaces
    phrases: list[tuple[str, int]] = []
    ranges: list[tuple[str, str, object]] = []  # (field, bound-kind, value)

    def take_phrase(m: re.Match) -> str:
        phrases.append((m.group("body"), int(m.group("slop") or 0)))
        return f"\x00P{len(phrases) - 1}\x00"

    def take_range(m: re.Match) -> str:
        f = m.group("field")
        lo, hi = m.group("lo"), m.group("hi")
        if lo != "*":
            ranges.append((f, "gte" if m.group("lb") == "[" else "gt", _num(lo)))
        if hi != "*":
            ranges.append((f, "lte" if m.group("rb") == "]" else "lt", _num(hi)))
        return f"\x00R\x00"

    q = _PHRASE.sub(take_phrase, q)
    if '"' in q:
        raise ValueError("unbalanced quote in query_string")
    regexps: list[str] = []

    def take_regexp(m: re.Match) -> str:
        regexps.append(m.group("body"))
        return f"\x00X{len(regexps) - 1}\x00"

    q = _REGEXP.sub(take_regexp, q)
    if "/" in q:
        raise ValueError(
            "stray '/' in query_string — the regex form is /pattern/"
        )
    q = _RANGE.sub(take_range, q)

    raw = q.split()
    # pass 1: strip unary operators, classify tokens
    clauses: list[dict] = []  # {kind, text, boost, req(None|'must'|'must_not'), ...}
    ops: list[str | None] = []  # operator BETWEEN clause i and i+1
    pending_op: str | None = None
    negate_next = False
    for tok in raw:
        up = tok.upper()
        if up in ("AND", "&&"):
            pending_op = "AND"
            continue
        if up in ("OR", "||"):
            pending_op = "OR"
            continue
        if up in ("NOT", "!"):
            negate_next = True
            continue
        req = None
        if tok.startswith("!") and len(tok) > 1:
            negate_next, tok = True, tok[1:]
        if tok.startswith("+") and len(tok) > 1:
            req, tok = "must", tok[1:]
        elif tok.startswith("-") and len(tok) > 1:
            req, tok = "must_not", tok[1:]
        if negate_next:
            req, negate_next = "must_not", False

        c: dict = {"req": req, "boost": 1.0}
        if tok.startswith("\x00R"):
            if tok != "\x00R\x00":
                raise ValueError("a range filter cannot take a suffix/boost")
            c["kind"] = "range"
        elif tok.startswith("\x00P"):
            end = tok.index("\x00", 2)
            if tok[end + 1:]:  # trailing suffix, e.g. "phrase"^2
                raise ValueError(
                    "a phrase cannot take a boost (filter context)"
                )
            body, slop = phrases[int(tok[2:end])]
            c.update(kind="phrase", text=body, slop=slop)
        elif tok.startswith("_exists_:"):
            c.update(kind="exists", field=tok[len("_exists_:"):])
        elif (m := _CMP.match(tok)) is not None:
            ranges.append(
                (
                    m.group("field"),
                    {"<": "lt", "<=": "lte", ">": "gt", ">=": "gte"}[m.group("op")],
                    _num(m.group("val")),
                )
            )
            c["kind"] = "range"
        elif (m := _FIELD.match(tok)) is not None and not _FUZZ.search(tok) \
                and not _BOOST.search(tok):
            if "*" in m.group("val") or "?" in m.group("val"):
                raise ValueError(
                    "wildcards on a field filter are not supported — "
                    "use wildcard_query on the indexed text"
                )
            c.update(kind="field", field=m.group("field"), value=_num(m.group("val")))
        else:
            if (m := _BOOST.search(tok)) is not None:
                c["boost"], tok = float(m.group("boost")), tok[: m.start()]
            if tok.startswith("\x00X"):
                c.update(kind="regexp", text=regexps[int(tok[2:tok.index("\x00", 2)])])
            elif (m := _FUZZ.search(tok)) is not None:
                c.update(
                    kind="fuzzy",
                    text=tok[: m.start()],
                    fuzz=int(m.group("fuzz")) if m.group("fuzz") else None,
                )
            elif tok.endswith("*") and len(tok) > 1:
                body = tok[:-1]
                if "*" in body or "?" in body:
                    raise ValueError(
                        "only a single trailing * is supported here — "
                        "use wildcard_query for general patterns"
                    )
                c.update(kind="prefix", text=body)
            elif "*" in tok or "?" in tok:
                raise ValueError(
                    "leading/inner wildcard patterns are not supported in "
                    "query_string — use wildcard_query"
                )
            else:
                c.update(kind="term", text=tok)
            if not c.get("text"):
                continue  # bare operator remnants ('^2', '~') drop silently
        if clauses:
            ops.append(pending_op)
        pending_op = None
        clauses.append(c)

    # pass 2: resolve must/should by AND/OR adjacency (Lucene classic: an
    # AND makes both neighbors required; otherwise the default operator)
    out: dict = {
        "must": [], "should": [], "must_not": [],
        "must_fuzzy": [], "should_fuzzy": [],
        "must_prefix": [], "should_prefix": [],
        "must_regexp": [], "should_regexp": [], "must_not_regexp": [],
        "filter_fields": [], "filter_exists": [],
        "phrase": None, "ranges": ranges, "match_all": False,
        "fuzziness": None,
    }
    fuzz_vals: set[int] = set()
    for i, c in enumerate(clauses):
        left = ops[i - 1] if i > 0 else None
        right = ops[i] if i < len(ops) else None
        req = c["req"]
        if req is None:
            if left == "AND" or right == "AND":
                req = "must"
            elif left == "OR" or right == "OR":
                req = "should"
            else:
                req = "must" if default_operator.lower() == "and" else "should"
        kind = c["kind"]
        if kind == "phrase":
            if req == "must_not":
                raise ValueError(
                    "a negated phrase is not supported (engine phrases are "
                    "filter context — required only)"
                )
            if c["boost"] != 1.0:
                raise ValueError("a phrase cannot take a boost (filter context)")
            if out["phrase"] is not None:
                raise ValueError("at most one quoted phrase per query_string")
            out["phrase"] = (c["text"], c["slop"])
        elif kind == "range":
            if req == "must_not":
                raise ValueError("a negated range filter is not supported")
        elif kind == "field":
            if req == "must_not":
                raise ValueError("a negated field filter is not supported")
            out["filter_fields"].append((c["field"], c["value"]))
        elif kind == "exists":
            if req == "must_not":
                raise ValueError("a negated _exists_ filter is not supported")
            out["filter_exists"].append(c["field"])
        elif kind == "fuzzy":
            if req == "must_not":
                raise ValueError("a negated fuzzy term is not supported")
            if c["fuzz"] is not None:
                fuzz_vals.add(c["fuzz"])
            out["must_fuzzy" if req == "must" else "should_fuzzy"].append(
                (c["text"], c["boost"])
            )
        elif kind == "prefix":
            if req == "must_not":
                raise ValueError("a negated prefix term is not supported")
            out["must_prefix" if req == "must" else "should_prefix"].append(
                (c["text"], c["boost"])
            )
        elif kind == "regexp":
            # Lucene lowers /re/ with the constant-score multi-term rewrite;
            # the expansion happens in query_string() (needs the dictionary)
            if req == "must_not":
                out["must_not_regexp"].append(c["text"])
            else:
                out["must_regexp" if req == "must" else "should_regexp"].append(
                    (c["text"], c["boost"])
                )
        else:  # term
            if req == "must_not":
                out["must_not"].append(c["text"])
            else:
                out["must" if req == "must" else "should"].append(
                    (c["text"], c["boost"])
                )
    if len(fuzz_vals) > 1:
        raise ValueError(
            f"all explicit ~N fuzziness values must agree, got {sorted(fuzz_vals)}"
        )
    if fuzz_vals:
        out["fuzziness"] = fuzz_vals.pop()
    return out


def parse_query_string_grouped(
    query: str, default_operator: str = "or", fuzziness: int = 1
) -> dict:
    """Classic syntax WITH ``( )`` grouping, parsed into an ES ``bool``
    spec (the value under the ``"bool"`` key) for the compositional
    evaluator (query/composebool.py) — which flattens back onto the
    one-scan engine wherever the shape allows.

    Lucene classic grammar: a group is a sub-BooleanQuery; ``( ... )^2``
    boosts the subtree; ``+( )`` / ``-( )`` / ``NOT ( )`` require/negate it;
    AND/OR adjacency resolves must/should per level exactly like the flat
    parser. Two deliberate upgrades over the flat form, both only reachable
    through parens: OR-adjacent field/range/exists filters become a true
    non-scoring DISJUNCTION (``(lang:en OR lang:fr)``), and each group
    level may carry its own quoted phrase. ``/regex/`` inside a grouped
    query raises by name (use the flat form or ``regexp_query``); fuzzy
    and prefix clauses inside groups use the engine's default
    ``prefix_length``/``max_expansions``."""
    q = query.strip()
    phrases: list[tuple[str, int]] = []
    ranges: list[tuple[str, dict]] = []

    def take_phrase(m: re.Match) -> str:
        phrases.append((m.group("body"), int(m.group("slop") or 0)))
        return f"\x00P{len(phrases) - 1}\x00"

    q = _PHRASE.sub(take_phrase, q)
    if '"' in q:
        raise ValueError("unbalanced quote in query_string")
    if _REGEXP.search(q) or "/" in q:
        raise ValueError(
            "/regex/ inside a grouped query_string is not supported — "
            "use the flat form or regexp_query"
        )

    def take_range(m: re.Match) -> str:
        b: dict = {}
        lo, hi = m.group("lo"), m.group("hi")
        if lo != "*":
            b["gte" if m.group("lb") == "[" else "gt"] = _num(lo)
        if hi != "*":
            b["lte" if m.group("rb") == "]" else "lt"] = _num(hi)
        ranges.append((m.group("field"), b))
        return f"\x00R{len(ranges) - 1}\x00"

    q = _RANGE.sub(take_range, q)
    # space-pad parens into their own tokens, keeping a `)^boost` suffix
    # attached to its `)`
    q = q.replace("(", " ( ")
    q = re.sub(r"\)(\^\d+(?:\.\d+)?)?", lambda m: f" ){m.group(1) or ''} ", q)
    toks = q.split()
    children, ops, j = _parse_qs_level(toks, 0, phrases, ranges, top=True)
    if j != len(toks):
        raise ValueError("unbalanced ')' in query_string")
    if not children:
        raise ValueError("empty query_string")
    return _lower_qs_level(children, ops, default_operator, fuzziness)


def _parse_qs_level(
    toks: list[str],
    i: int,
    phrases: list,
    ranges: list,
    top: bool = False,
) -> tuple[list[dict], list, int]:
    """One grouping level of the token stream. The top level returns
    ``(children, ops, next_i)``; a nested level ends at its `)`/`)^boost`
    token and returns ``(children, ops, next_i, boost)`` — the caller's
    ``(`` branch unpacks the 4-tuple and attaches the boost to the group
    clause."""
    children: list[dict] = []
    ops: list[str | None] = []
    pending_op: str | None = None
    req_next: str | None = None

    def push(c: dict) -> None:
        if children:
            ops.append(pending_op)
        children.append(c)

    while i < len(toks):
        tok = toks[i]
        up = tok.upper()
        if tok == ")" or tok.startswith(")^"):
            if top:
                raise ValueError("unbalanced ')' in query_string")
            boost = float(tok[2:]) if tok.startswith(")^") else 1.0
            return children, ops, i + 1, boost  # type: ignore[return-value]
        if up in ("AND", "&&"):
            pending_op = "AND"
            i += 1
            continue
        if up in ("OR", "||"):
            pending_op = "OR"
            i += 1
            continue
        if up in ("NOT",) or tok == "!":
            req_next = "must_not"
            i += 1
            continue
        if tok == "+":
            req_next = "must"
            i += 1
            continue
        if tok == "-":
            req_next = "must_not"
            i += 1
            continue
        if tok == "(":
            out = _parse_qs_level(toks, i + 1, phrases, ranges)
            sub, subops, i, gboost = out  # type: ignore[misc]
            if not sub:
                raise ValueError("empty ( ) group in query_string")
            push({"kind": "group", "children": sub, "ops": subops,
                  "gboost": gboost, "req": req_next})
            pending_op, req_next = None, None
            continue
        c = _classify_qs_token(tok, req_next, phrases, ranges)
        req_next = None
        i += 1
        if c is None:
            continue  # bare operator remnants drop silently, like the flat path
        push(c)
        pending_op = None
    if not top:
        raise ValueError("unbalanced '(' in query_string")
    return children, ops, i


def _classify_qs_token(
    tok: str, req: str | None, phrases: list, ranges: list
) -> dict | None:
    """Single-token classification for the grouped parser — the same
    constructs (and the same raise-by-name messages) as the flat pass 1,
    with phrase/range placeholder data resolved into the clause dict."""
    if tok.startswith("!") and len(tok) > 1:
        req, tok = "must_not", tok[1:]
    if tok.startswith("+") and len(tok) > 1:
        req, tok = "must", tok[1:]
    elif tok.startswith("-") and len(tok) > 1:
        req, tok = "must_not", tok[1:]
    c: dict = {"req": req, "boost": 1.0}
    if tok in ("*", "*:*"):
        raise ValueError(
            "match_all inside a grouped query_string is not supported"
        )
    if tok.startswith("\x00R"):
        end = tok.index("\x00", 2)
        if tok[end + 1:]:
            raise ValueError("a range filter cannot take a suffix/boost")
        fld, bounds = ranges[int(tok[2:end])]
        c.update(kind="range", field=fld, bounds=bounds)
    elif tok.startswith("\x00P"):
        end = tok.index("\x00", 2)
        if tok[end + 1:]:
            raise ValueError("a phrase cannot take a boost (filter context)")
        body, slop = phrases[int(tok[2:end])]
        c.update(kind="phrase", text=body, slop=slop)
    elif tok.startswith("_exists_:"):
        c.update(kind="exists", field=tok[len("_exists_:"):])
    elif (m := _CMP.match(tok)) is not None:
        c.update(kind="range", field=m.group("field"),
                 bounds={{"<": "lt", "<=": "lte", ">": "gt", ">=": "gte"}[
                     m.group("op")]: _num(m.group("val"))})
    elif (m := _FIELD.match(tok)) is not None and not _FUZZ.search(tok) \
            and not _BOOST.search(tok):
        if "*" in m.group("val") or "?" in m.group("val"):
            raise ValueError(
                "wildcards on a field filter are not supported — "
                "use wildcard_query on the indexed text"
            )
        c.update(kind="field", field=m.group("field"), value=_num(m.group("val")))
    else:
        if (m := _BOOST.search(tok)) is not None:
            c["boost"], tok = float(m.group("boost")), tok[: m.start()]
        if (m := _FUZZ.search(tok)) is not None:
            c.update(kind="fuzzy", text=tok[: m.start()],
                     fuzz=int(m.group("fuzz")) if m.group("fuzz") else None)
        elif tok.endswith("*") and len(tok) > 1:
            body = tok[:-1]
            if "*" in body or "?" in body:
                raise ValueError(
                    "only a single trailing * is supported here — "
                    "use wildcard_query for general patterns"
                )
            c.update(kind="prefix", text=body)
        elif "*" in tok or "?" in tok:
            raise ValueError(
                "leading/inner wildcard patterns are not supported in "
                "query_string — use wildcard_query"
            )
        else:
            c.update(kind="term", text=tok)
        if not c.get("text"):
            return None
    return c


def _lower_qs_level(
    children: list[dict],
    ops: list,
    default_operator: str,
    fuzziness: int,
) -> dict:
    """One parsed level → an ES bool spec dict (leaves in request-body
    form, sub-groups as nested ``{"bool": ...}`` nodes)."""
    must: list = []
    should: list = []
    must_not: list = []
    filt: list = []
    phrase_used = False
    for idx, c in enumerate(children):
        left = ops[idx - 1] if idx > 0 else None
        right = ops[idx] if idx < len(ops) else None
        req = c.get("req")
        if req is None:
            if left == "AND" or right == "AND":
                req = "must"
            elif left == "OR" or right == "OR":
                req = "should"
            else:
                req = "must" if default_operator.lower() == "and" else "should"
        disjunct = left == "OR" or right == "OR"
        kind = c["kind"]
        if kind == "group":
            gd = _lower_qs_level(
                c["children"], c["ops"], default_operator, fuzziness
            )
            if c["gboost"] != 1.0:
                gd["boost"] = c["gboost"]
            node = {"bool": gd}
            (must_not if req == "must_not"
             else must if req == "must" else should).append(node)
        elif kind == "term":
            if req == "must_not":
                must_not.append({"match": {"content": c["text"]}})
            else:
                node = {"match": {"content": {"query": c["text"],
                                              "boost": c["boost"]}}}
                (must if req == "must" else should).append(node)
        elif kind == "fuzzy":
            if req == "must_not":
                raise ValueError("a negated fuzzy term is not supported")
            fz = c["fuzz"] if c["fuzz"] is not None else fuzziness
            node = {"match": {"content": {"query": c["text"],
                                          "boost": c["boost"],
                                          "fuzziness": fz}}}
            (must if req == "must" else should).append(node)
        elif kind == "prefix":
            if req == "must_not":
                raise ValueError("a negated prefix term is not supported")
            node = {"prefix": {"content": {"value": c["text"],
                                           "boost": c["boost"]}}}
            (must if req == "must" else should).append(node)
        elif kind == "phrase":
            if req == "must_not":
                raise ValueError(
                    "a negated phrase is not supported (engine phrases are "
                    "filter context — required only)"
                )
            node = {"match_phrase": {"content": {"query": c["text"],
                                                 "slop": c["slop"]}}}
            if disjunct:
                should.append({"bool": {"filter": [node]}})
            else:
                if phrase_used:
                    raise ValueError("at most one quoted phrase per group level")
                phrase_used = True
                filt.append(node)
        elif kind in ("field", "range", "exists"):
            if req == "must_not":
                raise ValueError(f"a negated {kind} filter is not supported")
            if kind == "field":
                node = {"term": {c["field"]: c["value"]}}
            elif kind == "range":
                node = {"range": {c["field"]: c["bounds"]}}
            else:
                node = {"exists": {"field": c["field"]}}
            if disjunct:
                # OR-adjacent filters are a true non-scoring disjunction —
                # each member a filter-context wrapper the compose path
                # resolves with stored-field semantics
                should.append({"bool": {"filter": [node]}})
            else:
                filt.append(node)
        else:  # pragma: no cover — parser and lowerer enumerate the same kinds
            raise ValueError(f"internal: unknown clause kind {kind!r}")
    spec: dict = {}
    if must:
        spec["must"] = must
    if should:
        spec["should"] = should
    if must_not:
        spec["must_not"] = must_not
    if filt:
        spec["filter"] = filt
    if not spec:
        raise ValueError("empty query_string")
    return spec


def query_string(
    spark: SparkSession,
    index_root: str,
    query: str,
    k: int | None = 10,
    *,
    default_operator: str = "or",
    lang: str | None = None,
    fuzziness: int = 1,
    prefix_length: int = 1,
    max_expansions: int = 50,
    minimum_should_match: int | str | None = None,
) -> DataFrame:
    """Parse ``query`` with :func:`parse_query_string` and run it through the
    bool engine — ranked ``(docid, score)``. ``fuzziness`` is the default for
    bare ``term~``; an explicit ``term~N`` overrides it (all explicit values
    in one query must agree). ``*``/``*:*`` match_all returns every live doc
    constant-score 0 straight off the docs store (no postings scan)."""
    from es_indexer_spark.query.boolean import bool_query

    # grouped form: parens OUTSIDE quoted phrases route to the grouped
    # parser + compositional bool (which flattens back where it can)
    if "(" in _PHRASE.sub("", query) or ")" in _PHRASE.sub("", query):
        spec = parse_query_string_grouped(query, default_operator, fuzziness)
        if minimum_should_match is not None:
            spec["minimum_should_match"] = minimum_should_match
        from es_indexer_spark.query.composebool import compose_bool

        return compose_bool(spark, index_root, spec, k=k, lang=lang)

    p = parse_query_string(query, default_operator)
    if p.get("match_all"):
        from es_indexer_spark.index.reader import open_index

        r = open_index(spark, index_root)
        docs = r.live(r.docs().select("docid")).select(
            "docid", F.lit(0.0).alias("score")
        )
        return docs if k is None else docs.orderBy(F.asc("docid")).limit(k)

    bounds: dict[str, dict] = {}
    for fld, op, val in p["ranges"]:
        bounds.setdefault(fld, {})[op] = val
    phrase, slop = p["phrase"] if p["phrase"] else (None, 0)
    # /regex/ constructs: dictionary expansion (top-max_expansions by df,
    # Lucene's constant-score multi-term rewrite) into constant-score terms
    # groups; a REQUIRED regexp with zero expansions matches nothing
    must_terms: list[tuple[list[str], float]] = []
    should_terms: list[tuple[list[str], float]] = []
    must_not_raw: list[str] = []
    if p["must_regexp"] or p["should_regexp"] or p["must_not_regexp"]:
        from es_indexer_spark.query.suggest import regexp_expansions

        for pat, bst in p["must_regexp"]:
            exps = regexp_expansions(spark, index_root, pat, max_expansions)
            if not exps:
                return spark.createDataFrame([], "docid long, score double")
            must_terms.append((exps, bst))
        for pat, bst in p["should_regexp"]:
            exps = regexp_expansions(spark, index_root, pat, max_expansions)
            if exps:  # an empty optional clause simply never matches
                should_terms.append((exps, bst))
        for pat in p["must_not_regexp"]:
            must_not_raw.extend(
                regexp_expansions(spark, index_root, pat, max_expansions)
            )
    return bool_query(
        spark,
        index_root,
        must=p["must"],
        should=p["should"],
        must_not=p["must_not"],
        must_terms=must_terms,
        should_terms=should_terms,
        must_not_raw=must_not_raw,
        must_fuzzy=p["must_fuzzy"],
        should_fuzzy=p["should_fuzzy"],
        must_prefix=p["must_prefix"],
        should_prefix=p["should_prefix"],
        filter_fields=p["filter_fields"],
        filter_exists=p["filter_exists"],
        filter_range=[(f, b) for f, b in sorted(bounds.items())] or None,
        filter_phrase=phrase,
        filter_phrase_slop=slop,
        k=k,
        lang=lang,
        fuzziness=p["fuzziness"] if p["fuzziness"] is not None else fuzziness,
        prefix_length=prefix_length,
        max_expansions=max_expansions,
        minimum_should_match=minimum_should_match,
    )
