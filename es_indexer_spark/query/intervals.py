"""ES ``intervals`` query — minimal-interval algebra over the positional index.

The reference's searchable text fields inherit the full ES query DSL
(geonetwork4-api/.../GeoNetworkServiceImpl.java:97-120 builds ES queries over
the portal index; ``intervals`` is the modern replacement for span queries on
those fields — public ES/Lucene semantics, rebuilt natively here).

Supported rules (compiled spec dicts, mirroring the ES JSON):

- ``{"match": "<text>", "ordered": bool=False, "max_gaps": int=-1}``
- ``{"prefix": "<p>", "max_expansions": int=50}`` (dictionary-expanded any_of)
- ``{"any_of": [rule, ...]}``
- ``{"all_of": [rule, ...], "ordered": bool=False, "max_gaps": int=-1}``
- any rule may carry ``"filter": {"<kind>": rule}`` with kind one of
  ``containing / not_containing / contained_by / not_contained_by /
  overlapping / not_overlapping / before / after`` (the ES filter rules).

Execution model: every (docid, position) is the packed int64 key
``docid << 32 | pos`` (the phrase engine's representation), so an interval is
a ``(start_key, end_key)`` pair and each doc's intervals occupy a disjoint
key range — the whole shard evaluates as flat sorted numpy arrays with NO
per-doc Python loop. Each rule yields its MINIMAL intervals (no interval
containing another — Lucene's invariant), kept sorted by start; minimality
makes ends strictly increasing with starts, which is what turns every
combinator and filter below into one or two ``searchsorted`` probes.

Exactness notes (documented divergences, all deterministic and replayed
verbatim by the DuckDB oracles):

- ordered chains are greedy min-successor (exact for matchability — the
  exchange argument in ``query/phrase.py::_chain_starts``);
- unordered = union of the distinct permutations' ordered chains (≤ 6
  distinct sub-sources, same ceiling as ``span_near``);
- ``all_of(max_gaps)`` measures gaps on the greedy chain; an alternative
  internal chain with the same span but fewer gaps is not searched (Lucene's
  iterator materializes one chain too, but may pick a different one when
  sub-interval widths differ — identical when all sub-sources are width-1);
- scoring follows this package's span convention: ``phrase_tf`` = number of
  minimal intervals, ``score = (Σ idf over found leaf-term instances) ·
  BM25_sat(phrase_tf)`` — NOT Lucene's per-width sloppyFreq, which is not
  SQL-replayable.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from es_indexer_spark.analysis.tokenizer import tokenize_one
from es_indexer_spark.index.codec import bm25, decode_block, decode_positions
from es_indexer_spark.index.reader import IndexReader
from es_indexer_spark.index.tombstones import live_mask
from es_indexer_spark.query.bm25 import lucene_idf
from es_indexer_spark.query.engine import empty_scores
from es_indexer_spark.query.phrase import (
    _PHRASE_SCHEMA, _chain_starts, _positional, _ranked,
)

_FILTER_KINDS = (
    "containing", "not_containing", "contained_by", "not_contained_by",
    "overlapping", "not_overlapping", "before", "after",
)
_EMPTY = np.empty(0, dtype=np.int64)
_UNBOUNDED = 1 << 31  # larger than any in-doc displacement


def _minimal(st: np.ndarray, en: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Reduce to the minimal-interval set: sorted by start, one (min) end per
    start, and no interval containing a later one. Works across docs in one
    pass because packed keys of different docs never interleave."""
    if st.size == 0:
        return st, en
    order = np.lexsort((en, st))
    st, en = st[order], en[order]
    first = np.ones(st.size, dtype=bool)
    first[1:] = st[1:] != st[:-1]
    st, en = st[first], en[first]
    # starts now strictly increase; drop i when some j > i has end <= end_i
    suffix_min = np.minimum.accumulate(en[::-1])[::-1]
    keep = np.ones(st.size, dtype=bool)
    keep[:-1] = suffix_min[1:] > en[:-1]
    return st[keep], en[keep]


def _ordered_chain(
    children: list[tuple[np.ndarray, np.ndarray]], max_gaps: int
) -> tuple[np.ndarray, np.ndarray]:
    """Greedy ordered conjunction over minimal child interval lists: for each
    candidate first interval, take the earliest next-child interval starting
    strictly after the current end (minimal ⇒ also the minimal end). Gap
    budget = (span width) − (Σ child widths) on that chain."""
    cand_s, cur_e = children[0]
    widths = cur_e - cand_s + 1
    for cs, ce in children[1:]:
        if cand_s.size == 0:
            return _EMPTY, _EMPTY
        if cs.size == 0:
            return _EMPTY, _EMPTY
        idx = np.searchsorted(cs, cur_e, side="right")
        ok = idx < cs.size
        idxc = np.minimum(idx, cs.size - 1)
        ns, ne = cs[idxc], ce[idxc]
        ok &= (ns >> 32) == (cand_s >> 32)
        if max_gaps >= 0:
            # incremental prune: gaps so far can only grow
            ok &= (ne - cand_s + 1) - (widths + (ne - ns + 1)) <= max_gaps
        widths = widths[ok] + (ne[ok] - ns[ok] + 1)
        cand_s, cur_e = cand_s[ok], ne[ok]
    if max_gaps >= 0 and cand_s.size:
        keep = (cur_e - cand_s + 1) - widths <= max_gaps
        cand_s, cur_e = cand_s[keep], cur_e[keep]
    return _minimal(cand_s, cur_e)


def _permuted(
    children: list[tuple[np.ndarray, np.ndarray]], max_gaps: int
) -> tuple[np.ndarray, np.ndarray]:
    """Unordered conjunction = union of the permutations' ordered chains
    (non-overlapping arrangement — Lucene's UNORDERED_NO_OVERLAPS)."""
    if len(children) > 6:
        raise ValueError(
            f"unordered all_of supports at most 6 sub-sources, got {len(children)}"
        )
    from itertools import permutations

    st_parts, en_parts = [], []
    for p in permutations(range(len(children))):
        s, e = _ordered_chain([children[i] for i in p], max_gaps)
        if s.size:
            st_parts.append(s)
            en_parts.append(e)
    if not st_parts:
        return _EMPTY, _EMPTY
    return _minimal(np.concatenate(st_parts), np.concatenate(en_parts))


def _leaf_match(
    term_keys: dict[str, np.ndarray], terms: list[str], ordered: bool, max_gaps: int
) -> tuple[np.ndarray, np.ndarray]:
    if any(term_keys.get(t, _EMPTY).size == 0 for t in terms):
        return _EMPTY, _EMPTY
    if len(terms) == 1:
        k = term_keys[terms[0]]
        return k, k
    slop = max_gaps if max_gaps >= 0 else _UNBOUNDED
    if ordered:
        st, en = _chain_starts(term_keys, terms, slop, with_ends=True)
        return _minimal(st, en)
    if len(set(terms)) > 6:
        raise ValueError(
            f"unordered match supports at most 6 distinct terms, got {len(set(terms))}"
        )
    from itertools import permutations

    seen: set[tuple[str, ...]] = set()
    st_parts, en_parts = [], []
    for p in permutations(terms):
        if p in seen:
            continue
        seen.add(p)
        st, en = _chain_starts(term_keys, list(p), slop, with_ends=True)
        if st.size:
            st_parts.append(st)
            en_parts.append(en)
    if not st_parts:
        return _EMPTY, _EMPTY
    return _minimal(np.concatenate(st_parts), np.concatenate(en_parts))


def _apply_filter(
    src: tuple[np.ndarray, np.ndarray],
    kind: str,
    flt: tuple[np.ndarray, np.ndarray],
) -> tuple[np.ndarray, np.ndarray]:
    """ES intervals filter rules. ``flt`` is minimal ⇒ its ends strictly
    increase with starts, so each predicate is one probe: the best witness is
    either the first filter interval starting at/after a bound or the last
    one starting at/before it. Same-doc checks ride the packed keys — a
    containment/overlap range can never cross a docid boundary."""
    ss, se = src
    if ss.size == 0:
        return src
    fs, fe = flt
    neg = kind.startswith("not_")
    base = kind[4:] if neg else kind
    if fs.size == 0:
        hit = np.zeros(ss.shape, dtype=bool)
    elif base == "containing":
        # src contains a filter interval: first f with fs >= ss has min end
        idx = np.searchsorted(fs, ss, side="left")
        idxc = np.minimum(idx, fs.size - 1)
        hit = (idx < fs.size) & (fe[idxc] <= se)
    elif base == "contained_by":
        # src inside a filter interval: last f with fs <= ss has max end
        idx = np.searchsorted(fs, ss, side="right") - 1
        idxc = np.maximum(idx, 0)
        hit = (idx >= 0) & (fe[idxc] >= se)
    elif base == "overlapping":
        # exists f with fs <= se and fe >= ss: the last f starting <= se has
        # the largest end among eligible
        idx = np.searchsorted(fs, se, side="right") - 1
        idxc = np.maximum(idx, 0)
        hit = (idx >= 0) & (fe[idxc] >= ss)
    elif base == "before":
        # src strictly before some filter interval in the same doc
        idx = np.searchsorted(fs, se, side="right")
        idxc = np.minimum(idx, fs.size - 1)
        hit = (idx < fs.size) & ((fs[idxc] >> 32) == (ss >> 32))
    elif base == "after":
        # src strictly after some filter interval in the same doc
        idx = np.searchsorted(fe, ss, side="left") - 1
        idxc = np.maximum(idx, 0)
        hit = (idx >= 0) & ((fe[idxc] >> 32) == (ss >> 32))
    else:
        raise ValueError(f"unknown intervals filter kind: {kind}")
    keep = ~hit if neg else hit
    return ss[keep], se[keep]


def _eval_spec(
    spec: dict, term_keys: dict[str, np.ndarray]
) -> tuple[np.ndarray, np.ndarray]:
    """Evaluate a COMPILED spec (``match`` values are analyzed token lists)
    against one shard's position keys."""
    if "match" in spec:
        out = _leaf_match(
            term_keys, spec["match"],
            bool(spec.get("ordered", False)), int(spec.get("max_gaps", -1)),
        )
    elif "prefix" in spec:
        # compiled to the expansion term list at the driver
        parts = [term_keys[t] for t in spec["prefix"] if term_keys.get(t, _EMPTY).size]
        if not parts:
            out = (_EMPTY, _EMPTY)
        else:
            k = np.sort(np.concatenate(parts))
            out = (k, k)
    elif "any_of" in spec:
        st_parts, en_parts = [], []
        for child in spec["any_of"]:
            s, e = _eval_spec(child, term_keys)
            if s.size:
                st_parts.append(s)
                en_parts.append(e)
        out = (
            _minimal(np.concatenate(st_parts), np.concatenate(en_parts))
            if st_parts
            else (_EMPTY, _EMPTY)
        )
    elif "all_of" in spec:
        children = [_eval_spec(c, term_keys) for c in spec["all_of"]]
        if any(c[0].size == 0 for c in children):
            out = (_EMPTY, _EMPTY)
        elif bool(spec.get("ordered", False)):
            out = _ordered_chain(children, int(spec.get("max_gaps", -1)))
        else:
            out = _permuted(children, int(spec.get("max_gaps", -1)))
    else:
        raise ValueError(f"intervals rule needs match/prefix/any_of/all_of: {spec}")
    if "filter" in spec:
        for kind, frule in spec["filter"].items():
            if kind not in _FILTER_KINDS:
                raise ValueError(f"unknown intervals filter kind: {kind}")
            out = _apply_filter(out, kind, _eval_spec(frule, term_keys))
    return out


def _spec_idf(spec: dict, found: dict, n_docs: float) -> float:
    """Scoring weight of a compiled spec: one idf per found leaf-term
    instance (sources AND filters — the extracted-terms convention); a prefix
    rule contributes the union-df idf ``idf(min(n_docs, Σ df(expansions)))``
    (the match_phrase_prefix convention). Absent terms contribute nothing,
    matching span_or."""
    s = 0.0
    if "match" in spec:
        s += sum(
            lucene_idf(n_docs, found[t]["df"]) for t in spec["match"] if t in found
        )
    elif "prefix" in spec:
        dfs = [found[t]["df"] for t in spec["prefix"] if t in found]
        if dfs:
            s += lucene_idf(n_docs, min(n_docs, sum(dfs)))
    for child in spec.get("any_of", ()) or spec.get("all_of", ()):
        s += _spec_idf(child, found, n_docs)
    for frule in spec.get("filter", {}).values():
        s += _spec_idf(frule, found, n_docs)
    return s


def _all_terms(spec: dict) -> set[str]:
    out: set[str] = set()
    if "match" in spec:
        out.update(spec["match"])
    elif "prefix" in spec:
        out.update(spec["prefix"])
    for child in spec.get("any_of", ()) or spec.get("all_of", ()):
        out |= _all_terms(child)
    for frule in spec.get("filter", {}).values():
        out |= _all_terms(frule)
    return out


def _compile(spec: dict, r: IndexReader, lang, max_exp: int = 50) -> dict:
    """Analyze ``match`` texts into token lists and expand ``prefix`` rules
    against the dictionary (top-``max_expansions`` by df, the Lucene rewrite
    bound). Returns a new spec tree; raises on unknown rule names so typos
    fail loudly instead of matching nothing."""
    out: dict = {}
    known = {"match", "prefix", "any_of", "all_of", "ordered", "max_gaps",
             "filter", "max_expansions"}
    for k in spec:
        if k not in known:
            raise ValueError(f"unknown intervals rule field: {k!r}")
    if "match" in spec:
        out["match"] = tokenize_one(spec["match"], r.tokenizer, lang=lang)
        if not out["match"]:
            raise ValueError(f"intervals match analyzes to no tokens: {spec['match']!r}")
    elif "prefix" in spec:
        cap = int(spec.get("max_expansions", max_exp))
        rows = (
            r.dict_df().filter(F.col("term").startswith(spec["prefix"]))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(cap)
            .collect()
        )
        out["prefix"] = sorted(row["term"] for row in rows)
    elif "any_of" in spec:
        out["any_of"] = [_compile(c, r, lang, max_exp)
                         for c in spec["any_of"]]
    elif "all_of" in spec:
        out["all_of"] = [_compile(c, r, lang, max_exp)
                         for c in spec["all_of"]]
    else:
        raise ValueError(f"intervals rule needs match/prefix/any_of/all_of: {spec}")
    for k in ("ordered", "max_gaps"):
        if k in spec:
            out[k] = spec[k]
    if "filter" in spec:
        out["filter"] = {
            kind: _compile(frule, r, lang, max_exp)
            for kind, frule in spec["filter"].items()
        }
    return out


def _intervals_shard_scorer(
    spec: dict, sum_idf: float, k1: float, b: float, avgdl: float,
    tomb: np.ndarray | None,
):
    """applyInPandas per-shard evaluator: decode every scanned term's packed
    position keys once, evaluate the spec tree, count minimal intervals per
    doc, score with the package's span convention."""

    def score(
        pdf: pd.DataFrame, tomb_local: np.ndarray | None = None
    ) -> pd.DataFrame:
        tomb = tomb_local if tomb_local is not None else score.tomb_default
        empty = pd.DataFrame({"docid": [], "phrase_tf": [], "score": []})
        if len(pdf) == 0:
            return empty
        term_keys: dict[str, np.ndarray] = {}
        d_all, l_all = [], []
        for term, gg in pdf.groupby("term", sort=False):
            key_parts = []
            for row in gg.itertuples(index=False):
                d, t, l = decode_block(row.gaps, row.tfs, row.dls, row.first_docid)
                flat = decode_positions(row.poss, t)
                d64 = d.astype(np.int64)
                if tomb is not None:
                    keep = live_mask(tomb, d64)
                    if keep is not None and not keep.all():
                        flat = flat[np.repeat(keep, t.astype(np.int64))]
                        d64, t, l = d64[keep], t[keep], l[keep]
                    if d64.size == 0:
                        continue
                key_parts.append(
                    (np.repeat(d64, t.astype(np.int64)) << 32)
                    | flat.astype(np.int64)
                )
                d_all.append(d64)
                l_all.append(l.astype(np.int64))
            if key_parts:
                keys = np.concatenate(key_parts)
                keys.sort()
                term_keys[term] = keys
        if not term_keys:
            return empty
        st, _en = _eval_spec(spec, term_keys)
        if st.size == 0:
            return empty
        docids, ptf = np.unique(st >> 32, return_counts=True)
        # doc lengths from the union of scanned postings — every matching doc
        # contains at least one scanned term, so the union covers candidates
        docs = np.concatenate(d_all)
        lens = np.concatenate(l_all)
        order = np.argsort(docs, kind="stable")
        dl = lens[order][np.searchsorted(docs[order], docids)].astype(np.float64)
        ptf_f = ptf.astype(np.float64)
        s = bm25(sum_idf, ptf_f, dl, avgdl, k1, b)
        return pd.DataFrame(
            {"docid": docids, "phrase_tf": ptf.astype(np.int64), "score": s}
        )

    score.tomb_default = tomb
    return score


def intervals_query(
    spark: SparkSession,
    index_root: str,
    spec: dict,
    *,
    k: int | None = 10,
    lang: str | None = None,
) -> DataFrame:
    """ES ``intervals`` query over the positional index — see the module
    docstring for the rule grammar and exactness notes. Returns
    ``(docid, phrase_tf, score)``; ``phrase_tf`` = minimal-interval count.

    Execution: one dictionary lookup over the spec's analyzed terms (prefix
    rules expand against the dictionary with the top-df rewrite bound), one
    pruned postings scan over their buckets, a per-shard vectorized
    interval-algebra pass, then the global top-k — identical stage shape to
    the phrase path, so it scales the same way."""
    r = _positional(spark, index_root)
    tomb, tomb_shards = r.tombs()
    compiled = _compile(spec, r, lang)
    found = {row["term"]: row for row in r.lookup(sorted(_all_terms(compiled)))}
    if not found:
        return empty_scores(spark, _PHRASE_SCHEMA)
    sum_idf = float(_spec_idf(compiled, found, r.n_docs))
    buckets = sorted({row["bucket"] for row in found.values()})
    return _ranked(
        r, sorted(found), buckets,
        _intervals_shard_scorer(compiled, sum_idf, r.k1, r.b, r.avgdl, tomb),
        tomb_shards, k,
    )


def span_containing(
    spark: SparkSession,
    index_root: str,
    big: Sequence[str],
    little: str,
    *,
    slop: int = 0,
    k: int | None = 10,
    lang: str | None = None,
) -> DataFrame:
    """Lucene ``span_containing``: spans of ``big`` (an ordered near-span of
    the analyzed clauses within ``slop``) that contain a span of ``little``.
    Returned/scored side is BIG (Lucene semantics — the little span only
    gates). Thin wrapper over :func:`intervals_query`'s containing filter."""
    spec = {
        "match": " ".join(big), "ordered": True, "max_gaps": int(slop),
        "filter": {"containing": {"match": little}},
    }
    return intervals_query(spark, index_root, spec, k=k, lang=lang)


def span_within(
    spark: SparkSession,
    index_root: str,
    little: str,
    big: Sequence[str],
    *,
    slop: int = 0,
    k: int | None = 10,
    lang: str | None = None,
) -> DataFrame:
    """Lucene ``span_within``: spans of ``little`` that lie inside a span of
    ``big``. Returned/scored side is LITTLE (Lucene semantics)."""
    spec = {
        "match": little,
        "filter": {
            "contained_by": {
                "match": " ".join(big), "ordered": True, "max_gaps": int(slop)
            }
        },
    }
    return intervals_query(spark, index_root, spec, k=k, lang=lang)
