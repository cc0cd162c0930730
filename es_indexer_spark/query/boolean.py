"""ES/Lucene bool queries over the block-compressed index.

The reference's read surface is ES query DSL: ``bool`` with ``must`` /
``should`` / ``must_not`` / ``filter`` clauses (used directly at
geonetwork4-api/.../GeoNetworkServiceImpl.java:114-120 — a
``bool.filter(match_phrase)`` — and implicitly by the portal's search over the
index schema — SURVEY.md §3.3). Public Lucene semantics reproduced here:

- ``must``: every term required (conjunction); contributes to the score;
- ``should``: optional; contributes when present (pure disjunction when no
  required clauses exist — then Lucene requires >=1 should match, reproduced);
- ``minimum_should_match``: ES's most-used bool knob — at least ``m`` of the
  should CLAUSES must match (counted per clause, not per term, as Lucene
  does). Default: 1 when the bool is pure-should, 0 once any required
  context (must / filter / range) exists — the Lucene default;
- per-clause ``boost``: any must/should clause may be ``(text, boost)``; the
  boost multiplies each of the clause's terms' BM25 contributions (folded
  into the per-term idf, exactly like the fuzzy similarity boost);
- ``must_fuzzy`` / ``should_fuzzy``: ES ``match`` with ``fuzziness`` inside a
  bool clause — each entry expands against the dictionary (same JVM-side
  pruned expansion as the standalone fuzzy query) into an any-of group;
  required (must) or msm-counted (should), scored as the sum of the present
  expansions' similarity-boosted contributions, rank-identical to the
  standalone fuzzy query on a one-clause bool (pytest-pinned);
- ``must_not``: any match excludes the doc; never contributes to score;
- ``filter``: required like must but NON-SCORING (Lucene filter context);
- ``filter_phrase``: a match_phrase in filter context — consecutive-token
  exact match required, non-scoring (the reference's exact DSL shape);
- score = Σ BM25(term) over the present must+should terms (same per-term
  factor as the ranked-search path — one engine, one formula). A query with
  only filter clauses is constant-score 0, as in ES filter context.

Execution shape mirrors the BM25 path (query/engine.py): ONE dictionary
lookup, ONE pruned postings scan, one applyInPandas over shards. The key
scale property: blocks are shard-local by construction (shard = docid //
shard_size), so conjunction, exclusion, phrase adjacency, and scoring all
complete inside a shard with numpy set algebra — no cross-shard state, no
driver-side docid sets, no matter how large the must_not term's df is.
Per-shard top-k then a <= shards*k global merge, identical to the ranked path.

An absent required term (not in the dictionary) means zero results, exactly
like the conjunctive phrase path. Tombstoned docs are filtered right after
block decode (Lucene live-docs semantics).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from es_indexer_spark.analysis.tokenizer import tokenize_one
from es_indexer_spark.index.codec import bm25, decode_block, decode_positions
from es_indexer_spark.index.reader import open_index
from es_indexer_spark.query.bm25 import lucene_idf
from es_indexer_spark.query.docfilter import DocPred, driver_masks
from es_indexer_spark.index.tombstones import live_mask
from es_indexer_spark.query.phrase import _chain_starts, _sorted_member

_SCORE_SCHEMA = "docid long, score double"
# block columns the bool scorer reads (``poss`` too when it has phrases)
_BLOCK_COLUMNS = ("term", "shard", "first_docid", "gaps", "tfs", "dls")


def _bool_shard_scorer(
    must_groups: list[list[str]],
    should_groups: list[list[str]],
    must_not: list[str],
    filt: list[str],
    phrase: list[str],
    idfs: dict[str, float],
    k1: float,
    b: float,
    k: int,
    avgdl: float,
    tomb: np.ndarray | None,
    msm: int = 0,
    phrase_slop: int = 0,
    must_phrases: Sequence[tuple[list[str], float, int]] = (),
    should_phrases: Sequence[tuple[list[str], float, int]] = (),
    must_const: Sequence[tuple[list[str], float]] = (),
    should_const: Sequence[tuple[list[str], float]] = (),
    doc_clauses: Sequence[tuple[bool, float]] = (),
):
    """applyInPandas per-shard bool evaluator: decode -> numpy set algebra.

    ``must_groups`` / ``should_groups``: each clause is an any-of GROUP of
    analyzed terms (a plain term clause is a singleton group; a fuzzy clause
    is its expansion set). A required group matches when the doc carries >=1
    of its terms; ``msm`` counts matched should GROUPS per doc (Lucene
    counts clauses, not terms). ``idfs`` carries each term's idf already
    multiplied by its clause boost (and, for fuzzy expansions, the
    similarity boost) — the scorer itself stays boost-agnostic.

    ``must_phrases`` / ``should_phrases``: SCORED phrase clauses (ES
    ``match_phrase`` in must/should context — Lucene PhraseQuery), each
    ``(terms, w, slop)`` where ``w`` is the clause boost × Σ idf(term)
    already folded by the caller; contribution per doc is
    ``w * sat(phrase_tf)`` with the standard BM25 saturation over the count
    of matching start positions (query/phrase.py semantics — a one-clause
    must bool is rank-identical to ``phrase_match``, pytest-pinned).

    ``must_const`` / ``should_const``: constant-score any-of groups
    ``(terms, boost)`` — the ES ``terms`` leaf (Lucene TermInSetQuery) and
    ``wildcard`` leaf (constant_score rewrite) in bool context: a doc in the
    group's doc-union contributes ``boost`` flat, required when must,
    msm-counted when should.

    ``doc_clauses``: SCORED doc-level clauses (ES ``range``/``exists`` in
    must/should context — ConstantScore semantics: a matching doc
    contributes ``boost`` flat). Each entry is ``(required, boost)``; the
    per-shard matching docid array for clause ``i`` arrives through the
    cogroup right side tagged ``kind = 2 + i`` (one scan + the SAME single
    cogroup as the non-scoring filter set and the distributed tombstones)
    and reaches ``score`` as ``clause_arrs[i]``."""

    scoring = sorted(
        {t for g in must_groups for t in g} | {t for g in should_groups for t in g}
    )
    # positions are needed for the filter phrase AND every scored phrase
    dl_need = {t for p, _w, _s in list(must_phrases) + list(should_phrases) for t in p}
    phrase_set = set(phrase) | dl_need

    def score(
        pdf: pd.DataFrame,
        allowed: np.ndarray | None = None,
        tomb_local: np.ndarray | None = None,
        clause_arrs: dict[int, np.ndarray] | None = None,
    ) -> pd.DataFrame:
        """``allowed``: sorted docids passing the non-scoring range filter for
        this shard (cogrouped in from the docs store). Like any ES filter
        clause it is required context — its presence also lifts the pure-
        should >=1 rule (Lucene min_should_match defaults to 0 once the bool
        has a filter/must clause). ``tomb_local``: this shard's delete set
        when tombstones ride the same cogroup (distributed mode — the closure
        ``tomb`` is None then)."""
        tomb = tomb_local if tomb_local is not None else score.tomb_default
        empty = pd.DataFrame({"docid": [], "score": []})
        if len(pdf) == 0 and allowed is None and not clause_arrs:
            return empty
        term_docs: dict[str, np.ndarray] = {}
        term_contrib: dict[str, np.ndarray] = {}
        term_keys: dict[str, np.ndarray] = {}  # packed docid<<32|pos, phrase terms
        # doc-length map for scored-phrase saturation (every doc matching a
        # phrase carries all its terms, so their postings cover the map)
        dl_docs_parts: list[np.ndarray] = []
        dl_len_parts: list[np.ndarray] = []
        for term, gg in pdf.groupby("term", sort=False):
            d_parts, c_parts, key_parts = [], [], []
            want_score = term in idfs and term in scoring
            want_pos = term in phrase_set
            want_dl = term in dl_need
            for row in gg.itertuples(index=False):
                d, t, l = decode_block(row.gaps, row.tfs, row.dls, row.first_docid)
                d64 = d.astype(np.int64)
                flat = decode_positions(row.poss, t) if want_pos else None
                if tomb is not None:
                    keep = live_mask(tomb, d64)
                    if keep is not None and not keep.all():
                        if flat is not None:
                            flat = flat[np.repeat(keep, t.astype(np.int64))]
                        d64, t, l = d64[keep], t[keep], l[keep]
                    if d64.size == 0:
                        continue
                d_parts.append(d64)
                if want_dl:
                    dl_docs_parts.append(d64)
                    dl_len_parts.append(l.astype(np.float64))
                if want_pos:
                    doc_of_pos = np.repeat(d64, t.astype(np.int64))
                    key_parts.append((doc_of_pos << 32) | flat.astype(np.int64))
                if want_score:
                    tf = t.astype(np.float64)
                    dl = l.astype(np.float64)
                    c_parts.append(bm25(idfs[term], tf, dl, avgdl, k1, b))
            if not d_parts:
                continue
            docs = np.concatenate(d_parts)
            order = np.argsort(docs, kind="stable")
            docs = docs[order]
            if want_score:
                # sum contributions per docid BEFORE the per-candidate lookup:
                # a docid present in several blocks of one term (duplicate
                # user id_col) must score the SUM of its postings, mirroring
                # _shard_scorer's canonical summation — a first-match
                # searchsorted would count only one block (ADVICE r4)
                contrib = np.concatenate(c_parts)[order]
                uniq, start = np.unique(docs, return_index=True)
                term_docs[term] = uniq
                term_contrib[term] = np.add.reduceat(contrib, start)
            else:
                term_docs[term] = docs
            if want_pos:
                keys = np.concatenate(key_parts)
                keys.sort()
                term_keys[term] = keys

        def group_docs(grp: list[str]) -> np.ndarray | None:
            """Sorted union of the group's present terms' docids (None when no
            term of the group has postings in this shard)."""
            parts = [term_docs[t] for t in grp if t in term_docs]
            if not parts:
                return None
            return parts[0] if len(parts) == 1 else np.unique(np.concatenate(parts))

        # doc-length lookup arrays for scored phrases (unique-first: dl is
        # identical for a doc across all its posting rows)
        if dl_docs_parts:
            _dd = np.concatenate(dl_docs_parts)
            _dv = np.concatenate(dl_len_parts)
            _o = np.argsort(_dd, kind="stable")
            dl_docs, _ix = np.unique(_dd[_o], return_index=True)
            dl_vals = _dv[_o][_ix]
        else:
            dl_docs = dl_vals = None

        def phrase_hits(
            p_terms: list[str], w: float, p_slop: int
        ) -> tuple[np.ndarray, np.ndarray] | None:
            """(matching docids, per-doc contribution) of one scored phrase
            clause, or None when it matches nothing in this shard."""
            if any(t not in term_keys for t in p_terms):
                return None
            pk = _chain_starts(term_keys, p_terms, p_slop)
            if pk.size == 0:
                return None
            pdocs, ptf = np.unique(pk >> 32, return_counts=True)
            dlv = dl_vals[np.searchsorted(dl_docs, pdocs)]
            return pdocs, bm25(w, ptf.astype(np.float64), dlv, avgdl, k1, b)

        mp_hits = [phrase_hits(*p) for p in must_phrases]
        if any(h is None for h in mp_hits):
            return empty
        sp_hits = [h for h in (phrase_hits(*p) for p in should_phrases) if h]

        # scored doc-level clauses (range/exists in must/should): this
        # shard's matching docids per clause, cogrouped in (empty = no match)
        clause_arrs = clause_arrs or {}
        dc_must = [
            clause_arrs.get(i, np.empty(0, dtype=np.int64))
            for i, (req, _w) in enumerate(doc_clauses) if req
        ]
        dc_should = [
            clause_arrs.get(i, np.empty(0, dtype=np.int64))
            for i, (req, _w) in enumerate(doc_clauses) if not req
        ]

        # required conjunction: must groups + filter terms + constant-score
        # must groups (a required group with no present term kills the shard —
        # doc postings are shard-local, so absence here IS absence for these
        # docids)
        required = (
            [[t] for t in dict.fromkeys(filt)]
            + must_groups
            + [list(g) for g, _w in must_const]
        )
        if required or phrase or mp_hits or dc_must:
            if any(t not in term_keys for t in phrase):
                return empty
            cand: np.ndarray | None = None
            for grp in required:
                gd = group_docs(grp)
                if gd is None:
                    return empty
                cand = gd if cand is None else np.intersect1d(cand, gd)
                if cand.size == 0:
                    return empty
            if phrase:
                # phrase-start candidates via the packed-key chain (same
                # construction as query/phrase.py — +i never crosses a docid
                # boundary because positions stay far below 2^32);
                # phrase_slop > 0 = the ordered greedy successor chain
                pk = _chain_starts(term_keys, phrase, phrase_slop)
                if pk.size == 0:
                    return empty
                pdocs = np.unique(pk >> 32)
                cand = pdocs if cand is None else np.intersect1d(cand, pdocs)
            for pdocs, _contrib in mp_hits:
                # scored must phrases are required context too
                cand = pdocs if cand is None else np.intersect1d(cand, pdocs)
                if cand.size == 0:
                    return empty
            for arr in dc_must:
                # a required scored doc clause (must range/exists)
                if arr.size == 0:
                    return empty
                cand = arr if cand is None else np.intersect1d(cand, arr)
                if cand.size == 0:
                    return empty
            if allowed is not None:
                cand = np.intersect1d(cand, allowed)
        elif allowed is not None:
            # the range filter is the required context: every allowed doc is a
            # candidate (score 0 unless should terms contribute)
            cand = allowed
        else:
            # pure should: candidates = union of the should groups' docs; the
            # caller resolves Lucene's >=1-clause default into ``msm``,
            # enforced uniformly below
            parts = [
                gd for gd in (group_docs(g) for g in should_groups) if gd is not None
            ]
            parts += [pdocs for pdocs, _c in sp_hits]
            parts += [
                gd
                for gd in (group_docs(g) for g, _w in should_const)
                if gd is not None
            ]
            parts += [arr for arr in dc_should if arr.size]
            if not parts:
                return empty
            cand = parts[0] if len(parts) == 1 else np.unique(np.concatenate(parts))
        if cand is None or cand.size == 0:
            return empty

        # exclusion: drop docs carrying any must_not term
        for t in must_not:
            if t in term_docs:
                cand = np.setdiff1d(cand, term_docs[t], assume_unique=False)
                if cand.size == 0:
                    return empty

        # minimum_should_match: count matched should CLAUSES per candidate
        # (term groups, scored phrases, and constant-score groups all count)
        if msm > 0:
            cnt = np.zeros(cand.size, dtype=np.int64)
            for grp in should_groups:
                gd = group_docs(grp)
                if gd is not None:
                    cnt += _sorted_member(gd, cand)
            for pdocs, _c in sp_hits:
                cnt += _sorted_member(pdocs, cand)
            for grp, _w in should_const:
                gd = group_docs(grp)
                if gd is not None:
                    cnt += _sorted_member(gd, cand)
            for arr in dc_should:
                if arr.size:
                    cnt += _sorted_member(arr, cand)
            cand = cand[cnt >= msm]
            if cand.size == 0:
                return empty

        # score: sum present must+should contributions over the candidates
        scores = np.zeros(cand.size, dtype=np.float64)
        for t in scoring:
            if t not in term_contrib:
                continue
            docs = term_docs[t]
            hit = _sorted_member(docs, cand)
            idx = np.searchsorted(docs, cand[hit])
            scores[hit] += term_contrib[t][idx]
        for pdocs, contrib in list(mp_hits) + sp_hits:
            hit = _sorted_member(pdocs, cand)
            scores[hit] += contrib[np.searchsorted(pdocs, cand[hit])]
        for grp, boost in list(must_const) + list(should_const):
            gd = group_docs(grp)
            if gd is not None:
                scores += boost * _sorted_member(gd, cand)
        for i, (_req, boost) in enumerate(doc_clauses):
            arr = clause_arrs.get(i)
            if arr is not None and arr.size:
                scores += boost * _sorted_member(arr, cand)

        if cand.size > k:
            order = np.lexsort((cand, -scores))[:k]
        else:
            order = np.argsort(-scores, kind="stable")
        return pd.DataFrame({"docid": cand[order], "score": scores[order]})

    score.tomb_default = tomb
    score.wants_positions = bool(phrase_set)
    return score


def _driver_doc_side(r, filters, masks, tomb, clauses=()) -> pd.DataFrame:
    """The bool cogroup's right side built on the driver: the docs columns
    the predicates test, read serially, tombstoned docids dropped (the
    ``r.live`` step), then kind 0 the docs passing every filter (when there
    are filters) and kind 2 + i the docs matching scored clause ``i``, each
    row keyed by shard. ``masks`` are the filters' then the clauses' driver
    forms (query/docfilter.py)."""
    cols = r.local_docs(sorted({p.field for p in [*filters, *clauses]} | {"docid"}))
    docid = cols["docid"].to_numpy().astype(np.int64)
    live = live_mask(tomb, docid)
    keep = np.ones(docid.size, dtype=bool) if live is None else live
    parts, kinds = [], []
    if filters:
        m = keep
        for f in masks[: len(filters)]:
            m = m & f(cols)
        parts.append(docid[m])
        kinds.append(np.zeros(int(m.sum()), dtype=np.int64))
    for i, f in enumerate(masks[len(filters):]):
        m = keep & f(cols)
        parts.append(docid[m])
        kinds.append(np.full(int(m.sum()), 2 + i, dtype=np.int64))
    d = np.concatenate(parts)
    return pd.DataFrame(
        {"shard": d // r.shard_size, "docid": d, "kind": np.concatenate(kinds)}
    )


def parse_minimum_should_match(spec: int | str, n_clauses: int) -> int:
    """ES/Lucene ``minimum_should_match`` spec resolution for simple specs
    (public Lucene ``Queries.calculateMinShouldMatch`` semantics):

    - positive integer ``3``: that many clauses (a raw Python int keeps the
      engine's existing unclamped behavior — more than the clause count means
      no results, pinned by the ``bool_msm`` oracle entry);
    - negative integer ``-2``: ``n_clauses - 2``;
    - ``"75%"``: ``trunc(0.75 * n_clauses)``;
    - ``"-25%"``: ``n_clauses + trunc(-0.25 * n_clauses)`` (the float's sign
      decides the branch BEFORE truncation — ``"-25%"`` of 3 clauses truncates
      to 0 and still takes the negative branch, yielding 3, exactly Lucene);
    - string/negative forms clamp to ``[0, n_clauses]`` like Lucene.

    Conditional specs (``"3<90%"``) are not supported and raise."""
    if isinstance(spec, str):
        sp = spec.strip()
        if "<" in sp:
            raise ValueError(
                f"conditional minimum_should_match specs are not supported: {spec!r}"
            )
        if sp.endswith("%"):
            pct = int(sp[:-1])
            raw = n_clauses * pct / 100.0
            trunc = int(raw)  # toward zero, like Java's (int) cast
            result = n_clauses + trunc if raw < 0 else trunc
        else:
            calc = int(sp)
            result = n_clauses + calc if calc < 0 else calc
        return max(0, min(n_clauses, result))
    v = int(spec)
    if v < 0:
        return max(0, min(n_clauses, n_clauses + v))
    return v


def bool_query(
    spark: SparkSession,
    index_root: str,
    *,
    must: Sequence[str | tuple[str, float]] = (),
    should: Sequence[str | tuple[str, float]] = (),
    must_not: Sequence[str] = (),
    filter_terms: Sequence[str] = (),
    filter_phrase: str | None = None,
    filter_phrase_slop: int = 0,
    filter_range: tuple[str, dict] | list[tuple[str, dict]] | None = None,
    filter_fields: Sequence[tuple[str, object]] = (),
    k: int | None = 10,
    lang: str | None = None,
    minimum_should_match: int | str | None = None,
    must_fuzzy: Sequence[str | tuple[str, float]] = (),
    should_fuzzy: Sequence[str | tuple[str, float]] = (),
    fuzziness: int = 1,
    prefix_length: int = 1,
    max_expansions: int = 50,
    transpositions: bool = False,
    must_prefix: Sequence[str | tuple[str, float]] = (),
    should_prefix: Sequence[str | tuple[str, float]] = (),
    filter_exists: Sequence[str] = (),
    filter_like: Sequence[tuple[str, str]] = (),
    filter_script: Sequence[str] = (),
    must_raw: Sequence[str | tuple] = (),
    should_raw: Sequence[str | tuple] = (),
    must_terms: Sequence[Sequence[str] | tuple] = (),
    should_terms: Sequence[Sequence[str] | tuple] = (),
    must_wildcard: Sequence[str | tuple[str, float]] = (),
    should_wildcard: Sequence[str | tuple[str, float]] = (),
    must_phrase: Sequence[str | tuple] = (),
    should_phrase: Sequence[str | tuple] = (),
    must_not_raw: Sequence[str] = (),
    must_ranges: Sequence[tuple] = (),
    should_ranges: Sequence[tuple] = (),
    must_exists: Sequence[str | tuple[str, float]] = (),
    should_exists: Sequence[str | tuple[str, float]] = (),
) -> DataFrame:
    """Top-k (docid, score) under ES bool semantics. Each clause is a query
    string run through the document analysis chain (so a multi-word ``must``
    string contributes each of its terms as a required term). Any must/should
    clause (incl. fuzzy) may be ``(text, boost)`` — ES per-clause boost,
    multiplying that clause's terms' contributions. ``minimum_should_match``
    requires >= m of the should CLAUSES to match (None = the Lucene default:
    1 when the bool is pure-should, 0 once any required context exists).
    ``must_fuzzy`` / ``should_fuzzy`` are ES ``match`` + ``fuzziness``
    clauses: each expands against the dictionary (shared pruned expansion —
    query/engine.py ``fuzzy_expansions``) into an any-of group, scored as the
    sum of present expansions' similarity-boosted contributions.
    ``filter_terms`` / ``filter_phrase`` are Lucene filter context: required,
    never scored — ``filter_phrase`` is the reference's
    ``bool.filter(match_phrase)`` shape; ``filter_phrase_slop`` is ES
    ``match_phrase.slop`` (ordered greedy-chain semantics, exactly
    query/phrase.py's ``phrase_match(slop=)``). ``filter_range=("n_chars", {"gte":
    200, "lt": 800})`` is ES ``bool.filter(range)``: required, non-scoring,
    and like any filter clause it lifts the pure-should >=1 rule.
    ``filter_fields=[("lang", "en"), ...]`` is ES ``bool.filter(term)`` on
    stored keyword fields — required, non-scoring, pushed into the SAME
    docs-store scan as the range bounds (stacked doc-level filters cost one
    scan and one cogroup set total). ``filter_range`` also accepts a LIST of
    ``(field, bounds)`` tuples (several stacked range clauses — the
    query_string ``f:[a TO b] g:>x`` shape); all bounds land in the same
    scan. ``filter_exists=["field", ...]`` is ES ``bool.filter(exists)``:
    the stored field must be non-null — same pushed scan.
    ``filter_like=[("path", "src/*.java"), ...]`` is ES
    ``bool.filter(wildcard)`` on a stored keyword field (the ES SQL ``LIKE``
    lowering): an anchored ``*``/``?`` pattern match, case-sensitive,
    evaluated in the same pushed docs-store scan.
    ``must_prefix`` / ``should_prefix`` are trailing-wildcard clauses
    (ES/Lucene ``field:pre*`` inside query_string, or a ``prefix`` query in
    a bool): each expands against the term-sorted dictionary (startswith
    range, top ``max_expansions`` by df — Lucene's top-terms cap) into an
    any-of group, and each PRESENT expansion scores its own BM25 × boost —
    Lucene's ``rewrite=scoring_boolean`` multi-term rewrite, which keeps
    per-term idf (documented divergence from the constant_score default
    rewrite; scoring_boolean is the deterministic, SQL-replayable choice
    and an ES-selectable rewrite). ``k=None``
    returns EVERY matching doc with no global sort (the delete-by-query /
    scroll shape — per-shard evaluation is unchanged, only the top-k merge
    is skipped).

    Range execution shape: the bounds are pushed into the docs-store parquet
    scan (row-group pruned), the passing docids get their shard key
    (docid // shard_size) and COGROUP with the postings blocks — so the
    filter set flows shard-partitioned through the same single shuffle as
    the blocks, never through the driver or a broadcast, no matter how many
    docs pass the range. Below the engine's posting-volume cutover (Σ df of
    the present terms plus the docs rows, ``engine.LOCAL_MAX_POSTINGS``),
    with driver-array tombstones and a driver form for every doc predicate
    (query/docfilter.py), the driver reads the tested docs columns, builds
    the same kind-tagged right side and runs the same cogroup scorer per
    shard: zero Spark jobs.

    Round-5 clause broadening (the remaining ES bool leaf kinds):

    - ``must_raw`` / ``should_raw``: RAW index terms, skipping the analysis
      chain — the ES ``term`` leaf in scoring context (Lucene TermQuery
      scores BM25 on the exact indexed term). Entries: ``"term"`` |
      ``("term", boost)`` | ``([t1, t2, ...], boost)`` (any-of group).
    - ``must_terms`` / ``should_terms``: the ES ``terms`` leaf — Lucene
      TermInSetQuery under its constant_score rewrite: a doc containing ANY
      of the raw values contributes ``boost`` flat (required when must,
      msm-counted when should). Entries: ``[values]`` | ``([values], boost)``.
    - ``must_wildcard`` / ``should_wildcard``: ES ``wildcard`` leaves —
      pattern expanded against the term-sorted dictionary (literal prefix
      pushed as a startswith range, top ``max_expansions`` by df, exactly
      the standalone ``wildcard_query`` expansion) into a constant-score
      group, Lucene's default constant_score multi-term rewrite.
    - ``must_phrase`` / ``should_phrase``: SCORED ``match_phrase`` clauses
      (Lucene PhraseQuery): contribution = boost × Σ idf(term) ×
      ``phrase_tf``-saturated BM25 tf factor, where phrase_tf counts the
      matching start positions (ordered greedy-chain slop semantics, same as
      ``phrase_match``; a one-clause must bool is rank-identical to it,
      pytest-pinned). Entries: ``"a b"`` | ``("a b", boost)`` |
      ``("a b", boost, slop)``.
    - ``must_not_raw``: raw excluded terms (ES ``must_not: {term: ...}``).
    - ``filter_fields`` values may be LISTS — the ES ``bool.filter(terms)``
      shape on a stored keyword field: membership (isin) pushed into the
      same docs-store scan as every other doc-level filter.
    - ``must_ranges`` / ``should_ranges`` (``(field, bounds[, boost])``) and
      ``must_exists`` / ``should_exists`` (``field`` | ``(field, boost)``):
      SCORED doc-level clauses — ES ``range``/``exists`` in scoring context
      (Lucene ConstantScore: a matching doc contributes ``boost`` flat;
      required when must, msm-counted when should — unlike ``filter_range``
      / ``filter_exists``, which are filter context and never score).
      Execution: ONE column-pruned docs-store scan evaluates every scored
      clause (each a pushed predicate), emitting kind-tagged (shard, docid)
      rows that ride the SAME single cogroup as the non-scoring filter set
      and the distributed tombstone set — clause count never adds a shuffle."""
    r = open_index(spark, index_root)
    vdir, stats = r.vdir, r.stats
    n_docs, avgdl, k1, b = r.n_docs, r.avgdl, r.k1, r.b
    from es_indexer_spark.query import engine
    from es_indexer_spark.query.engine import empty_scores

    # past DISTRIBUTED_TOMB_THRESHOLD the delete set is shard-keyed and rides
    # the SAME cogroup as the range-filter set (kind-tagged union) — never a
    # driver array, no extra shuffle
    tomb, tomb_shards = r.tombs()

    from es_indexer_spark.analysis.tokenizer import split_lang_marker

    def clause(q) -> tuple[str, float]:
        if isinstance(q, (tuple, list)):
            return str(q[0]), float(q[1])
        return str(q), 1.0

    # per-term total clause boost (a term named by several scoring clauses
    # sums their boosts — Lucene scores each clause, so the sums agree)
    weight: dict[str, float] = {}
    filt_extra: list[str] = []  # lang markers shed by fuzzy clauses

    def term_groups(qs, *, flatten: bool) -> list[list[str]]:
        """Analyze each clause; ``flatten`` splits a multi-token clause into
        singleton required groups (the documented conjunctive must
        semantics), else the clause stays one any-of group (should)."""
        groups: list[list[str]] = []
        for q in qs:
            text, boost = clause(q)
            ts = sorted(set(tokenize_one(text, stats["tokenizer"], lang=lang)))
            for t in ts:
                weight[t] = weight.get(t, 0.0) + boost
            if flatten:
                groups.extend([t] for t in ts)
            elif ts:
                groups.append(ts)
        return groups

    def fuzzy_groups(qs) -> list[tuple[list[str], dict[str, float]]]:
        """Expand each fuzzy clause: (expansion group, per-term
        boost*similarity weights). An empty expansion is kept (a required
        empty group -> no results; a should one just never matches)."""
        from es_indexer_spark.query.engine import fuzzy_expansions

        out: list[tuple[list[str], dict[str, float]]] = []
        for q in qs:
            text, boost = clause(q)
            ts = tokenize_one(text, stats["tokenizer"], lang=lang)
            ts, marker = split_lang_marker(ts)
            if marker is not None:
                filt_extra.append(marker)
            if len(ts) != 1:
                raise ValueError(
                    "a fuzzy clause takes a single analyzed term, got "
                    f"{ts!r} from {text!r}"
                )
            exp = fuzzy_expansions(
                spark, vdir, ts[0],
                fuzziness=fuzziness, prefix_length=prefix_length,
                max_expansions=max_expansions, transpositions=transpositions,
            )
            out.append(
                ([e[0] for e in exp], {e[0]: boost * e[3] for e in exp})
            )
        return out

    must_groups = term_groups(must, flatten=True)
    should_groups = term_groups(should, flatten=False)
    for grp, w in fuzzy_groups(must_fuzzy):
        must_groups.append(grp)
        for t, b_ in w.items():
            weight[t] = weight.get(t, 0.0) + b_
    for grp, w in fuzzy_groups(should_fuzzy):
        should_groups.append(grp)
        for t, b_ in w.items():
            weight[t] = weight.get(t, 0.0) + b_

    def prefix_groups(qs) -> list[tuple[list[str], dict[str, float]]]:
        """Expand each trailing-wildcard clause against the dictionary
        (one startswith-pruned scan per clause, O(max_expansions) rows to
        the driver — never the postings). Same expansion order as
        match_phrase_prefix: df desc, term asc, capped."""
        if not qs:
            return []
        d = r.dict_df()
        out: list[tuple[list[str], dict[str, float]]] = []
        for q in qs:
            text, boost = clause(q)
            ts = tokenize_one(text, stats["tokenizer"], lang=lang)
            ts, marker = split_lang_marker(ts)
            if marker is not None:
                filt_extra.append(marker)
            if len(ts) != 1:
                raise ValueError(
                    "a prefix clause takes a single analyzed term, got "
                    f"{ts!r} from {text!r}"
                )
            rows = (
                d.filter(F.col("term").startswith(ts[0]))
                .orderBy(F.desc("df"), F.asc("term"))
                .limit(int(max_expansions))
                .collect()
            )
            out.append(
                ([r["term"] for r in rows], {r["term"]: boost for r in rows})
            )
        return out

    for grp, w in prefix_groups(must_prefix):
        must_groups.append(grp)
        for t, b_ in w.items():
            weight[t] = weight.get(t, 0.0) + b_
    for grp, w in prefix_groups(should_prefix):
        should_groups.append(grp)
        for t, b_ in w.items():
            weight[t] = weight.get(t, 0.0) + b_

    def _values_boost(q, *, group: bool) -> tuple[list[str], float]:
        """Normalize a raw (unanalyzed) clause entry. ``group=True`` reads
        the ES ``terms``-leaf shapes ``[values]`` / ``([values], boost)``;
        ``group=False`` the ``term``-leaf shapes ``"t"`` / ``("t", boost)``
        / ``([t1, t2], boost)`` (any-of)."""
        if group:
            if (
                isinstance(q, (tuple, list))
                and len(q) == 2
                and isinstance(q[0], (list, tuple))
            ):
                return [str(t) for t in q[0]], float(q[1])
            return [str(t) for t in q], 1.0
        if isinstance(q, (tuple, list)):
            vals = q[0] if isinstance(q[0], (list, tuple)) else [q[0]]
            return [str(t) for t in vals], float(q[1])
        return [str(q)], 1.0

    # ES `term` leaves in scoring context: raw index terms, scored (Lucene
    # TermQuery) — same group machinery, just no analysis chain
    for q in must_raw:
        g, bq = _values_boost(q, group=False)
        must_groups.append(g)
        for t in g:
            weight[t] = weight.get(t, 0.0) + bq
    for q in should_raw:
        g, bq = _values_boost(q, group=False)
        should_groups.append(g)
        for t in g:
            weight[t] = weight.get(t, 0.0) + bq

    # ES `terms` leaves: constant-score any-of value groups
    m_const = [_values_boost(q, group=True) for q in must_terms]
    s_const = [_values_boost(q, group=True) for q in should_terms]

    def wildcard_groups(qs) -> list[tuple[list[str], float]]:
        """Expand each wildcard pattern against the dictionary into a
        constant-score group — the standalone ``wildcard_query`` expansion
        (literal prefix pushed as a startswith range over the term-sorted
        dict parquet, top ``max_expansions`` by df)."""
        if not qs:
            return []
        import re as _re

        from es_indexer_spark.query.suggest import wildcard_pattern_to_regex

        out: list[tuple[list[str], float]] = []
        for q in qs:
            pat, boost = clause(q)
            p = pat.lower()
            d = r.dict_df()
            lit = _re.match(r"^[^*?]*", p).group(0)
            if lit:
                d = d.filter(F.col("term").startswith(lit))
            rows = (
                d.filter(F.col("term").rlike(wildcard_pattern_to_regex(p)))
                .orderBy(F.desc("df"), F.asc("term"))
                .limit(int(max_expansions))
                .collect()
            )
            out.append(([r["term"] for r in rows], boost))
        return out

    m_const += wildcard_groups(must_wildcard)
    s_const += wildcard_groups(should_wildcard)

    def phrase_clauses(qs) -> list[tuple[list[str], float, int]]:
        """Analyze each scored match_phrase clause: ``"a b"`` |
        ``("a b", boost)`` | ``("a b", boost, slop)`` → (terms, boost, slop);
        the code chain's trailing lang marker becomes filter context."""
        out: list[tuple[list[str], float, int]] = []
        for q in qs:
            if isinstance(q, (tuple, list)):
                text = str(q[0])
                pboost = float(q[1]) if len(q) > 1 else 1.0
                pslop = int(q[2]) if len(q) > 2 else 0
            else:
                text, pboost, pslop = str(q), 1.0, 0
            ts = tokenize_one(text, stats["tokenizer"], lang=lang)
            ts, marker = split_lang_marker(ts)
            if marker is not None:
                filt_extra.append(marker)
            out.append((ts, pboost, pslop))
        return out

    m_phr = phrase_clauses(must_phrase)
    s_phr = [p for p in phrase_clauses(should_phrase) if p[0]]
    if any(not p[0] for p in m_phr):
        # a must phrase that analyzes to nothing rewrites to MatchNoDocs
        return empty_scores(spark)

    def toks(qs: Sequence[str]) -> list[str]:
        out: list[str] = []
        for q in qs:
            out.extend(tokenize_one(q, stats["tokenizer"], lang=lang))
        return sorted(set(out))

    must_t = sorted({t for g in must_groups for t in g})
    should_t = sorted({t for g in should_groups for t in g})
    not_t = sorted(set(toks(must_not)) | {str(t) for t in must_not_raw})
    filt_t = sorted(set(toks(filter_terms)) | set(filt_extra))
    # a REQUIRED fuzzy clause whose expansion came back empty can match
    # nothing (ES: the clause query rewrites to MatchNoDocs)
    if any(not g for g in must_groups):
        return empty_scores(spark)

    phrase_t = (
        tokenize_one(filter_phrase, stats["tokenizer"], lang=lang)
        if filter_phrase
        else []
    )
    if phrase_t:
        # the code chain's lang:<x> marker is a filter term, never a phrase
        # position (it sits at the end of every doc's stream)
        phrase_t, _marker = split_lang_marker(phrase_t)
        if _marker and _marker not in filt_t:
            filt_t = sorted(set(filt_t) | {_marker})
    if (phrase_t or m_phr or s_phr) and not stats.get("positions"):
        raise ValueError(
            f"index at {index_root} was built without store_positions=True"
        )
    const_t = sorted({t for g, _w in m_const + s_const for t in g})
    mphr_t = sorted({t for p, _w, _s in m_phr for t in p})
    sphr_t = sorted({t for p, _w, _s in s_phr for t in p})
    # doc-level predicates on stored fields: the non-scoring filter set
    # (cogroup kind 0) and the SCORED range/exists clauses (kind 2 + i). Each
    # lowers to the Column pushed into ONE docs-store scan and, where it is
    # provably identical, to a driver mask (query/docfilter.py)
    filters: list[DocPred] = []
    if filter_range is not None:
        ranges = (
            filter_range if isinstance(filter_range, list) else [filter_range]
        )
        filters += [DocPred.range(field, bounds) for field, bounds in ranges]
    # ES bool.filter(exists / wildcard / script / term / terms), stacked in
    # the same scan: one scan, one cogroup set, however many filters stack
    filters += [DocPred("exists", fld) for fld in filter_exists]
    filters += [DocPred("like", fld, pat) for fld, pat in filter_like]
    filters += [DocPred("script", None, src) for src in filter_script]
    filters += [DocPred.term(fld, val) for fld, val in filter_fields]
    # scored clauses: (required, boost, predicate)
    sdc: list[tuple[bool, float, DocPred]] = []
    for required, entries in ((True, must_ranges), (False, should_ranges)):
        for entry in entries:
            boost = float(entry[2]) if len(entry) > 2 else 1.0
            sdc.append((required, boost, DocPred.range(entry[0], entry[1])))
    for required, entries in ((True, must_exists), (False, should_exists)):
        for entry in entries:
            fld, bst = (
                (entry, 1.0) if isinstance(entry, str)
                else (entry[0], float(entry[1]))
            )
            sdc.append((required, bst, DocPred("exists", fld)))
    doc_preds = filters + [p_ for _r, _b, p_ in sdc]
    masks = driver_masks(doc_preds, r.docs_footer()[1]) if doc_preds else None

    def spark_doc_sides():
        """(filter set, kind-tagged scored-clause rows) as Spark frames over
        the column-pruned docs scan, tombstoned docs dropped."""
        rng_df = clause_df = None
        if filters:
            pred = filters[0].column()
            for p_ in filters[1:]:
                pred = pred & p_.column()
            rng_df = r.live(r.docs().filter(pred).select("docid")).select(
                "docid",
                F.floor(F.col("docid") / F.lit(r.shard_size))
                .cast("long")
                .alias("shard"),
            )
        if sdc:
            flags = F.array_compact(F.array(*[
                F.when(p_.column(), F.lit(2 + i)).otherwise(F.lit(None).cast("int"))
                for i, (_r, _b, p_) in enumerate(sdc)
            ]))
            clause_df = r.live(
                r.docs().select("docid", F.explode(flags).alias("kind"))
            ).select(
                "docid",
                F.col("kind").cast("int").alias("kind"),
                F.floor(F.col("docid") / F.lit(r.shard_size))
                .cast("long")
                .alias("shard"),
            )
        return rng_df, clause_df

    # a predicate without a driver form builds its Spark side now, so a bad
    # field or expression raises whatever the query's terms are
    spark_sides = None if masks is not None or not doc_preds else spark_doc_sides()

    def serve_local(postings: int) -> bool:
        """Driver-local below the posting-volume cutover (query/engine.py):
        every doc predicate has a driver form, the delete set is a driver
        array, and the postings plus the docs rows the predicates test stay
        below ``engine.LOCAL_MAX_POSTINGS``."""
        if tomb_shards is not None or (doc_preds and masks is None):
            return False
        rows = r.docs_footer()[2] if doc_preds else 0
        return postings + rows < engine.LOCAL_MAX_POSTINGS

    extra_t = const_t or mphr_t or sphr_t or sdc
    if not (must_t or should_t or filt_t or phrase_t or not_t or extra_t):
        if not filters:
            return empty_scores(spark)
        # filter(range) with NO term clause at all: constant-score match of
        # the range scan itself — no postings needed. (A must_not alongside
        # the range falls through to the cogroup path so the exclusion
        # applies — it must never be silently dropped.)
        if serve_local(0):
            # the allowed docids in docid order, score 0
            return engine._local_topk(
                spark, None,
                lambda _left, rt: pd.DataFrame(
                    {"docid": np.unique(rt["docid"].to_numpy()), "score": 0.0}
                ),
                k, _driver_doc_side(r, filters, masks, tomb),
            )
        rng_df, _ = spark_sides or spark_doc_sides()
        out = rng_df.select("docid", F.lit(0.0).alias("score"))
        return out if k is None else out.orderBy(F.asc("docid")).limit(k)
    if not (must_t or should_t or filt_t or phrase_t or extra_t) and not filters:
        # must_not alone: nothing to exclude from (documented empty result)
        return empty_scores(spark)

    all_terms = sorted(
        set(must_t) | set(should_t) | set(not_t) | set(filt_t) | set(phrase_t)
        | set(const_t) | set(mphr_t) | set(sphr_t)
    )
    found = {row["term"]: row for row in r.lookup(all_terms)}
    # an absent required term / fully-absent required group -> no results
    if any(t not in found for t in filt_t + phrase_t + mphr_t):
        return empty_scores(spark)
    if any(all(t not in found for t in g) for g in must_groups):
        return empty_scores(spark)
    if any(all(t not in found for t in g) for g, _w in m_const):
        # a required constant-score group (terms / wildcard leaf) with no
        # present expansion rewrites to MatchNoDocs
        return empty_scores(spark)
    idfs = {
        t: weight.get(t, 1.0) * lucene_idf(n_docs, found[t]["df"])
        for t in set(must_t) | set(should_t)
        if t in found
    }

    def fold_phrases(ps) -> list[tuple[list[str], float, int]]:
        """Fold boost × Σ idf into each phrase clause's weight (Lucene
        PhraseQuery: the summed idf of the phrase terms); a should clause
        with an absent term can never match — dropped (its msm count slot
        stays in the denominator, as in Lucene)."""
        out = []
        for terms, pboost, pslop in ps:
            if not all(t in found for t in terms):
                continue
            w = pboost * sum(lucene_idf(n_docs, found[t]["df"]) for t in terms)
            out.append((terms, w, pslop))
        return out

    m_phr_f = fold_phrases(m_phr)
    s_phr_f = fold_phrases(s_phr)
    # resolve minimum_should_match: Lucene default is 1 for a pure-should
    # bool, 0 once any required context (must/filter/phrase/range) exists
    has_required = bool(
        must_groups or filt_t or phrase_t or filters
        or m_phr or m_const or any(r for r, _b, _p in sdc)
    )
    n_should_clauses = (
        len(should_groups) + len(s_phr) + len(s_const)
        + sum(1 for r, _b, _p in sdc if not r)
    )
    if minimum_should_match is None:
        msm = 0 if has_required or not n_should_clauses else 1
    else:
        msm = parse_minimum_should_match(
            minimum_should_match, n_should_clauses
        )
        if msm > n_should_clauses:
            return empty_scores(spark)
    # load postings for every clause's present terms (must_not included — the
    # exclusion set is derived shard-locally from its postings)
    present = sorted(t for t in all_terms if t in found)
    if not present and not doc_preds:
        return empty_scores(spark)

    shard_k = (1 << 62) if k is None else k
    scorer = _bool_shard_scorer(
        [[t for t in g if t in found] for g in must_groups],
        [[t for t in g if t in found] for g in should_groups],
        [t for t in not_t if t in found],
        filt_t,
        phrase_t,
        idfs, k1, b, shard_k, avgdl, tomb, msm,
        phrase_slop=int(filter_phrase_slop),
        must_phrases=m_phr_f,
        should_phrases=s_phr_f,
        must_const=[([t for t in g if t in found], w) for g, w in m_const],
        should_const=[([t for t in g if t in found], w) for g, w in s_const],
        doc_clauses=[(r, b_) for r, b_, _p in sdc],
    )
    has_rng = bool(filters)
    distributed = tomb_shards is not None
    n_sdc = len(sdc)

    def cg_scorer(left: pd.DataFrame, rside: pd.DataFrame) -> pd.DataFrame:
        kinds = rside["kind"].to_numpy()
        docs = rside["docid"].to_numpy(dtype=np.int64)
        # empty-but-present semantics differ by kind: an empty allowed set
        # means NO doc passes the filter in this shard; an empty delete set
        # means nothing deleted (live_mask treats it as None). tomb_local
        # only in distributed mode — in array mode an empty local set must
        # NOT override the closure array
        allowed = np.unique(docs[kinds == 0]) if has_rng else None
        tomb_local = np.unique(docs[kinds == 1]) if distributed else None
        cl = (
            {i: np.unique(docs[kinds == 2 + i]) for i in range(n_sdc)}
            if n_sdc
            else None
        )
        return scorer(left, allowed, tomb_local, cl)

    buckets = sorted({found[t]["bucket"] for t in present})
    if serve_local(sum(found[t]["df"] for t in present)):
        # the same scorers per shard, zero Spark jobs; with doc predicates
        # the driver builds the cogroup's right side and every shard of
        # either side is scored, exactly the cogroup's grouping
        cols = _BLOCK_COLUMNS + (("poss",) if scorer.wants_positions else ())
        blocks = r.local_blocks(present, buckets, cols) if present else None
        if not doc_preds:
            return engine._local_topk(spark, blocks, scorer, k)
        right = _driver_doc_side(r, filters, masks, tomb, [p_ for _r, _b, p_ in sdc])
        return engine._local_topk(spark, blocks, cg_scorer, k, right)
    # cogroup delivery: the range-filter set (kind 0), the scored clauses
    # (kind 2+i) and — in distributed tombstone mode — the delete set (kind
    # 1) ride ONE kind-tagged right side, so stacking them costs the same
    # single cogroup
    rng_df, clause_df = spark_sides or spark_doc_sides()
    right = None
    if has_rng:
        right = rng_df.select("shard", "docid", F.lit(0).alias("kind"))
    if distributed:
        tagged = tomb_shards.select("shard", "docid", F.lit(1).alias("kind"))
        right = tagged if right is None else right.unionByName(tagged)
    if clause_df is not None:
        tagged = clause_df.select("shard", "docid", "kind")
        right = tagged if right is None else right.unionByName(tagged)
    if present:
        blocks = r.blocks(present, buckets)
    else:
        # every term clause was absent from the dictionary but the (required)
        # range still defines the candidates — drive the cogroup with an
        # empty left side so each allowed shard emits its score-0 docs
        blocks = spark.createDataFrame([], "shard long, term string")
    if right is None:
        # single-arg wrapper: applyInPandas dispatches on arity, and the
        # scorer's optional parameters would read as (key, pdf)
        scored = blocks.groupBy("shard").applyInPandas(
            lambda pdf: scorer(pdf), _SCORE_SCHEMA
        )
    else:
        scored = (
            blocks.groupBy("shard")
            .cogroup(right.groupBy("shard"))
            .applyInPandas(cg_scorer, _SCORE_SCHEMA)
        )
    if k is None:
        return scored
    return scored.orderBy(F.desc("score"), F.asc("docid")).limit(k)
