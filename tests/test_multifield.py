"""Multi-field boosted BM25 (ES multi_match) vs an independent Python brute.

The portal's ranked search scores BM25 over title/description/keywords with
boosts (portal_records_index_schema.json:100-168; SURVEY.md §3.3) — Lucene
per-field statistics semantics verified here:

- each field carries its own df/dl/avgdl (same term, different idf per field);
- most_fields = Σ boost_f · BM25_f; best_fields = dis-max + tie_breaker;
- a single-field multi_match is exactly the single-field ranked engine;
- misaligned shard_size across sub-indexes is rejected (the shard-alignment
  invariant the no-extra-shuffle combiner depends on).

The synthetic ``title`` field is the first 8 tokens of ``text`` — derived
identically in Spark, Python, and the DuckDB contract oracle.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from es_indexer_spark.analysis.tokenizer import tokenize_one
from es_indexer_spark.index.builder import build_index
from es_indexer_spark.query.engine import topk
from es_indexer_spark.query.multifield import build_multi_index, multi_match

K1, B = 1.2, 0.75
BOOSTS = {"title": 2.0, "text": 1.0}


def _with_title(documents):
    toks = F.filter(
        F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != F.lit("")
    )
    return documents.withColumn("title", F.array_join(F.slice(toks, 1, 8), " "))


@pytest.fixture(scope="module")
def multi_index(spark, documents, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx_multi"))
    build_multi_index(
        spark, _with_title(documents), root,
        fields={"title": "title", "text": "text"},
        id_col="doc_id", shard_size=100, n_buckets=8, n_ckpt_batches=2,
    )
    rows = documents.select("doc_id", "text").collect()
    text_toks = {r["doc_id"]: tokenize_one(r["text"], "standard") for r in rows}
    field_toks = {
        "text": text_toks,
        "title": {d: t[:8] for d, t in text_toks.items()},
    }
    return root, field_toks


def _field_bm25(toks, qterms):
    """Per-doc BM25 total for one field's token map."""
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    out = {}
    for term in set(qterms):
        df = sum(1 for t in toks.values() if term in t)
        if df == 0:
            continue
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        for doc, t in toks.items():
            tf = float(t.count(term))
            if tf:
                dl = float(len(t))
                out[doc] = out.get(doc, 0.0) + (
                    idf * tf * (K1 + 1) / (tf + K1 * (1 - B + B * dl / avgdl))
                )
    return out


def _brute(field_toks, query, boosts, match_type="most_fields", tie=0.0, k=10):
    qterms = tokenize_one(query, "standard")
    per_field = {
        f: _field_bm25(field_toks[f], qterms) for f in boosts
    }
    docs = set().union(*(s.keys() for s in per_field.values()))
    out = []
    for d in docs:
        vals = [boosts[f] * per_field[f].get(d, 0.0) for f in boosts]
        if match_type == "most_fields":
            s = sum(vals)
        else:
            s = max(vals) + tie * (sum(vals) - max(vals))
        out.append((d, s))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


def _run(spark, root, query, **kw):
    return [
        (r["docid"], r["score"])
        for r in multi_match(spark, root, query, **kw).collect()
    ]


def _assert_same(got, exp):
    assert [d for d, _ in got] == [d for d, _ in exp]
    assert [s for _, s in got] == pytest.approx([s for _, s in exp])


def test_most_fields_matches_brute(spark, multi_index):
    root, field_toks = multi_index
    got = _run(spark, root, "data stream", boosts=BOOSTS)
    _assert_same(got, _brute(field_toks, "data stream", BOOSTS))


def test_best_fields_dismax(spark, multi_index):
    root, field_toks = multi_index
    got = _run(
        spark, root, "data stream", boosts=BOOSTS, match_type="best_fields"
    )
    _assert_same(
        got, _brute(field_toks, "data stream", BOOSTS, "best_fields")
    )


def test_best_fields_tie_breaker(spark, multi_index):
    root, field_toks = multi_index
    got = _run(
        spark, root, "customer batch", boosts=BOOSTS,
        match_type="best_fields", tie_breaker=0.3,
    )
    _assert_same(
        got, _brute(field_toks, "customer batch", BOOSTS, "best_fields", 0.3)
    )


def test_per_field_stats_differ(spark, multi_index):
    """Same term, different per-field idf/avgdl: title-boosted ranking must
    differ from a pure text ranking somewhere in the top 20."""
    root, field_toks = multi_index
    title_heavy = _run(spark, root, "data", boosts={"title": 5.0, "text": 0.01}, k=20)
    text_only = _run(spark, root, "data", boosts={"text": 1.0}, k=20)
    assert [d for d, _ in title_heavy] != [d for d, _ in text_only]


def test_single_field_equals_ranked_engine(spark, multi_index):
    """boosts={text:1} through the multi path == the single-field engine over
    the text sub-index (same index content, same scorer math)."""
    from es_indexer_spark.query.multifield import field_dir

    root, _ = multi_index
    got = _run(spark, root, "spark join window", boosts={"text": 1.0})
    exp = [
        (r["docid"], r["score"])
        for r in topk(
            spark, field_dir(root, "text"), "spark join window", k=10
        ).collect()
    ]
    _assert_same(got, exp)


def test_absent_everywhere_empty(spark, multi_index):
    root, _ = multi_index
    assert _run(spark, root, "zzznope", boosts=BOOSTS) == []
    assert _run(spark, root, "", boosts=BOOSTS) == []


def test_unknown_match_type_raises(spark, multi_index):
    root, _ = multi_index
    with pytest.raises(ValueError, match="match_type"):
        multi_match(spark, root, "data", boosts=BOOSTS, match_type="phrase")


def test_shard_misalignment_rejected(spark, documents, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx_multi_bad"))
    docs = _with_title(documents)
    build_index(
        spark, docs.select("doc_id", F.col("title").alias("__content")),
        f"{root}/field_title", content_col="__content", id_col="doc_id",
        shard_size=100, n_buckets=8, n_ckpt_batches=2,
    )
    build_index(
        spark, docs.select("doc_id", F.col("text").alias("__content")),
        f"{root}/field_text", content_col="__content", id_col="doc_id",
        shard_size=128, n_buckets=8, n_ckpt_batches=2,
    )
    with pytest.raises(ValueError, match="shard_size"):
        multi_match(spark, root, "data", boosts=BOOSTS)


def test_multi_match_synonym_expansion(spark, multi_index):
    """Search-time synonym expansion == querying the expansion directly
    (same rule semantics as the single-field engine)."""
    root, _ = multi_index
    got = _run(
        spark, root, "jw", boosts=BOOSTS, synonyms={"jw": ["join window"]}
    )
    exp = _run(spark, root, "join window", boosts=BOOSTS)
    assert got and got == exp


# ------------------------------------------------ cross_fields (round 5k)


def _brute_cross(field_toks, query, boosts, tie=0.0, k=10):
    """Term-centric reference: blended idf (max df across fields, Lucene
    BlendedTermQuery), per-term dis-max of boosted per-field contributions,
    winners summed."""
    qterms = sorted(set(tokenize_one(query, "standard")))
    n = max(len(t) for t in field_toks.values())
    avgdl = {f: sum(len(t) for t in toks.values()) / len(toks)
             for f, toks in field_toks.items()}
    out = {}
    for term in qterms:
        df_star = max(
            sum(1 for t in toks.values() if term in t)
            for toks in field_toks.values()
        )
        if df_star == 0:
            continue
        idf = math.log(1 + (n - df_star + 0.5) / (df_star + 0.5))
        docs = set().union(*(
            {d for d, t in toks.items() if term in t}
            for toks in field_toks.values()
        ))
        for d in docs:
            vals = []
            for f, toks in field_toks.items():
                tf = float(toks[d].count(term))
                if tf:
                    dl = float(len(toks[d]))
                    vals.append(
                        boosts[f] * idf * tf * (K1 + 1)
                        / (tf + K1 * (1 - B + B * dl / avgdl[f]))
                    )
            s = max(vals) + tie * (sum(vals) - max(vals))
            out[d] = out.get(d, 0.0) + s
    res = sorted(out.items(), key=lambda x: (-x[1], x[0]))
    return res[:k]


def test_cross_fields_matches_brute(spark, multi_index):
    root, field_toks = multi_index
    got = _run(
        spark, root, "data stream", boosts=BOOSTS,
        match_type="cross_fields", k=15,
    )
    _assert_same(got, _brute_cross(field_toks, "data stream", BOOSTS, k=15))


def test_cross_fields_tie_breaker(spark, multi_index):
    root, field_toks = multi_index
    got = _run(
        spark, root, "customer batch window", boosts=BOOSTS,
        match_type="cross_fields", tie_breaker=0.4, k=15,
    )
    _assert_same(
        got,
        _brute_cross(field_toks, "customer batch window", BOOSTS, 0.4, 15),
    )


def test_cross_fields_single_field_is_plain_engine(spark, multi_index):
    """One field: blending degenerates to the field's own statistics, so
    cross_fields == the single-field ranked engine exactly."""
    root, _ = multi_index
    got = _run(
        spark, root, "data stream", boosts={"text": 1.0},
        match_type="cross_fields",
    )
    want = [
        (r["docid"], r["score"])
        for r in topk(
            spark, f"{root}/field_text", "data stream", k=10
        ).collect()
    ]
    _assert_same(got, want)


# ------------------------------------ multi_match phrase types (round 5k)


@pytest.fixture(scope="module")
def multi_index_pos(spark, documents, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx_multi_pos"))
    build_multi_index(
        spark, _with_title(documents), root,
        fields={"title": "title", "text": "text"},
        id_col="doc_id", shard_size=100, n_buckets=8, n_ckpt_batches=2,
        store_positions=True,
    )
    return root


def _combine_dismax(per_field, boosts, tie):
    out = {}
    for f, scores in per_field.items():
        for d, s in scores.items():
            out.setdefault(d, []).append(boosts[f] * s)
    res = [
        (d, max(v) + tie * (sum(v) - max(v))) for d, v in out.items()
    ]
    res.sort(key=lambda x: (-x[1], x[0]))
    return res


def test_multi_match_phrase_combines_per_field_engines(spark, multi_index_pos):
    from es_indexer_spark.query.multifield import field_dir, multi_match_phrase
    from es_indexer_spark.query.phrase import phrase_match

    got = [
        (r["docid"], r["score"])
        for r in multi_match_phrase(
            spark, multi_index_pos, "data stream", boosts=BOOSTS,
            k=15, tie_breaker=0.3,
        ).collect()
    ]
    per_field = {
        f: {
            r["docid"]: r["score"]
            for r in phrase_match(
                spark, field_dir(multi_index_pos, f), "data stream", k=None
            ).collect()
        }
        for f in BOOSTS
    }
    exp = _combine_dismax(per_field, BOOSTS, 0.3)[:15]
    assert got == [(d, pytest.approx(s)) for d, s in exp]
    assert got  # the phrase occurs in this corpus


def test_multi_match_phrase_prefix_and_single_field(spark, multi_index_pos):
    from es_indexer_spark.query.multifield import field_dir, multi_match_phrase
    from es_indexer_spark.query.phrase import match_phrase_prefix

    got = [
        (r["docid"], r["score"])
        for r in multi_match_phrase(
            spark, multi_index_pos, "data str", boosts={"text": 1.0},
            k=10, prefix=True,
        ).collect()
    ]
    want = [
        (r["docid"], r["score"])
        for r in match_phrase_prefix(
            spark, field_dir(multi_index_pos, "text"), "data str", k=10
        ).collect()
    ]
    assert got == want and got
    # the phrase-prefix engine has no slop: asking for one raises by name,
    # directly and through the DSL, instead of being dropped
    from es_indexer_spark.query.dsl import search

    with pytest.raises(ValueError, match="slop"):
        multi_match_phrase(
            spark, multi_index_pos, "data str", boosts={"text": 1.0},
            k=10, prefix=True, slop=1,
        )
    with pytest.raises(ValueError, match="slop"):
        search(spark, multi_index_pos, {"query": {"multi_match": {
            "query": "data str", "type": "phrase_prefix",
            "fields": ["text"], "slop": 2}}})


def test_multi_match_phrase_dsl_dispatch(spark, multi_index_pos):
    from es_indexer_spark.query.dsl import search
    from es_indexer_spark.query.multifield import multi_match_phrase

    body = {"query": {"multi_match": {
        "query": "data stream", "type": "phrase",
        "fields": ["title^2", "text"], "tie_breaker": 0.3}}, "size": 8}
    got = [
        (r["docid"], r["score"])
        for r in search(spark, multi_index_pos, body).collect()
    ]
    want = [
        (r["docid"], r["score"])
        for r in multi_match_phrase(
            spark, multi_index_pos, "data stream", boosts=BOOSTS,
            k=8, tie_breaker=0.3,
        ).collect()
    ]
    assert got == want
