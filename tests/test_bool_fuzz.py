"""Randomized bool-query differential fuzz: hypothesis generates arbitrary
must / should(+boost) / must_not / minimum_should_match / range-filter
combinations over the sf corpus and checks

1. `bool_query` == the independent per-doc Python brute (the same reference
   the fixed cases in test_boolean.py pin, generalized across the
   configuration space), and
2. the JSON DSL body lowering (`search`) == `bool_query` row-for-row —
   the dispatch layer must add no semantics of its own, and
3. every body, with or without the ``n_chars`` range filter, returns the
   same rows, scores bit-identical, on the driver-local path and on the
   Spark path (the integer range has a driver form, so the driver builds
   the cogroup's filter set itself).

Terms are drawn from real corpus tokens plus guaranteed-absent ones, so
zero-df clauses, all-filtered frames and msm-overshoot edges all get
generated."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from es_indexer_spark.analysis.tokenizer import tokenize_one
from es_indexer_spark.index.builder import build_index
from es_indexer_spark.query import engine
from es_indexer_spark.query.boolean import bool_query
from es_indexer_spark.query.dsl import search

K1, B = 1.2, 0.75

# frequent / mid / rare corpus tokens (sf0.001 documents vocabulary) plus
# two that never occur — keeps every df regime in play
TERMS = ["data", "stream", "spark", "join", "window", "key", "batch",
         "customer", "index", "zzabsent", "qqmissing"]


@pytest.fixture(scope="module")
def fuzz_index(spark, documents, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx_boolfuzz"))
    build_index(
        spark, documents, root,
        content_col="text", id_col="doc_id", meta_cols=("lang", "n_chars"),
        tokenizer="standard", n_buckets=8, shard_size=100,
        n_ckpt_batches=2, store_positions=True,
    )
    rows = documents.select("doc_id", "text", "n_chars").collect()
    toks = {r["doc_id"]: tokenize_one(r["text"], "standard") for r in rows}
    nch = {r["doc_id"]: r["n_chars"] for r in rows}
    return root, toks, nch


def _brute(toks, nch, must, should, must_not, msm, weights, rng, k):
    """Per-doc reference evaluation (same rules as test_boolean._brute)."""
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    dfs = {
        term: sum(1 for t in toks.values() if term in t)
        for term in set(must) | set(should)
    }
    idf = {t: math.log(1 + (n - d + 0.5) / (d + 0.5)) for t, d in dfs.items()}
    # Lucene BooleanQuery sums per CLAUSE: a term in both must and should
    # contributes twice (once at boost 1.0, once at the should boost) —
    # found by this fuzzer, matches the engine and ES
    clauses = [(t, 1.0) for t in must] + [(t, weights.get(t, 1.0))
                                          for t in should]
    required = bool(must or rng)
    msm_eff = msm if msm is not None else (0 if required or not should else 1)
    if not required and should:
        msm_eff = max(msm_eff, 1)
    out = []
    for doc, t in toks.items():
        ts = set(t)
        if must and not all(m in ts for m in must):
            continue
        if rng is not None and not (rng[0] <= nch[doc] < rng[1]):
            continue
        if sum(1 for s_ in should if s_ in ts) < msm_eff:
            continue
        if any(m in ts for m in must_not):
            continue
        dl = float(len(t))
        s = 0.0
        for term, w in clauses:
            tf = float(t.count(term))
            if tf:
                s += (
                    w * idf[term] * tf * (K1 + 1)
                    / (tf + K1 * (1 - B + B * dl / avgdl))
                )
        out.append((doc, s))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


CONFIG = st.fixed_dictionaries({
    "must": st.lists(st.sampled_from(TERMS), max_size=2, unique=True),
    "should": st.lists(
        st.tuples(st.sampled_from(TERMS),
                  st.sampled_from([0.5, 1.0, 2.0])),
        max_size=3, unique_by=lambda t: t[0]),
    "must_not": st.lists(st.sampled_from(TERMS), max_size=2, unique=True),
    "msm": st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
    "rng": st.one_of(
        st.none(),
        st.tuples(st.sampled_from([0, 100, 300]),
                  st.sampled_from([500, 800, 10000]))),
})


@settings(max_examples=30, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(CONFIG)
def test_bool_engine_matches_brute_and_dsl(spark, fuzz_index, cfg):
    root, toks, nch = fuzz_index
    must, should, must_not = cfg["must"], cfg["should"], cfg["must_not"]
    msm, rng = cfg["msm"], cfg["rng"]
    if not (must or should):
        return  # no scoring clause: bool_query rejects by design
    if msm is not None and not should:
        msm = None

    kw = dict(
        must=list(must), should=list(should), must_not=list(must_not),
        k=15, minimum_should_match=msm,
        filter_range=("n_chars", {"gte": rng[0], "lt": rng[1]})
        if rng else None,
    )
    got = [(r["docid"], r["score"]) for r in bool_query(spark, root, **kw).collect()]
    # served on the driver by default; the Spark path must return the same
    # rows, scores bit-identical
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(engine, "LOCAL_MAX_POSTINGS", 0)
        on_spark = bool_query(spark, root, **kw).collect()
    assert [(r["docid"], r["score"]) for r in on_spark] == got
    exp = _brute(
        toks, nch, must, [t for t, _ in should], must_not, msm,
        {t: w for t, w in should}, rng, 15,
    )
    assert [d for d, _ in got] == [d for d, _ in exp]
    assert [s for _, s in got] == pytest.approx([s for _, s in exp])

    # DSL body lowering must reproduce bool_query exactly
    node: dict = {}
    if must:
        node["must"] = [{"match": {"text": t}} for t in must]
    if should:
        node["should"] = [
            {"match": {"text": {"query": t, "boost": w}}} for t, w in should]
    if must_not:
        node["must_not"] = [{"match": {"text": t}} for t in must_not]
    if rng:
        node["filter"] = [{"range": {"n_chars": {"gte": rng[0],
                                                 "lt": rng[1]}}}]
    if msm is not None:
        node["minimum_should_match"] = msm
    via_dsl = [
        (r["docid"], r["score"])
        for r in search(spark, root, {"query": {"bool": node}, "size": 15})
        .select("docid", "score").collect()
    ]
    assert via_dsl == got
