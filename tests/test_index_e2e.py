"""End-to-end: build the index over the documents table, then assert the block-max
engine is rank-identical to the brute-force DataFrame oracle (SURVEY.md §5 carry-over
#1-#2), the sha256 per-row invariant holds (#4), and resume-from-checkpoint completes
an interrupted build to identical published output (#3 — the analog of the
reference's kill-mid-index IT, IndexerServiceIT.java:282-310)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from es_indexer_spark.index import catalog
from es_indexer_spark.index.builder import build_index
from es_indexer_spark.query import engine
from es_indexer_spark.query.bm25 import bm25_topk_brute
from es_indexer_spark.query.engine import fetch_docs, topk

QUERIES = [
    "spark join window",          # multi-term
    "vector",                     # single mid-df term
    "the",                        # stop-word (max-df skew path)
    "customer batch stream data", # 4-term
    "zzz_not_in_corpus",          # absent term
    "the a key",                  # tie-heavy + stop terms
]


@pytest.fixture(scope="module")
def index_root(spark, documents, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx"))
    build_index(
        spark,
        documents,
        root,
        content_col="text",
        id_col="doc_id",
        meta_cols=("lang", "source"),
        tokenizer="standard",
        n_buckets=8,
        shard_size=100,  # force several shards at 500 docs
        n_ckpt_batches=2,
    )
    return root


@pytest.mark.parametrize("query", QUERIES)
@pytest.mark.parametrize("use_blockmax", [True, False])
def test_rank_identical_vs_oracle(
    spark, documents, index_root, query, use_blockmax, monkeypatch
):
    # probe_min_postings=0 forces the block-max probe path even on this tiny
    # corpus (the df-based fast path would otherwise skip it); the probe
    # lives on the Spark path, which this tiny corpus only takes with the
    # driver-local cutover at 0. Without block-max, the default local path
    # is checked against the oracle.
    if use_blockmax:
        monkeypatch.setattr(engine, "LOCAL_MAX_POSTINGS", 0)
    got = topk(
        spark, index_root, query, k=10,
        use_blockmax=use_blockmax, probe_min_postings=0,
    ).collect()
    want = bm25_topk_brute(
        documents, query, k=10, content_col="text", id_col="doc_id"
    ).collect()
    assert [r["docid"] for r in got] == [r["docid"] for r in want]
    for g, w in zip(got, want):
        assert g["score"] == pytest.approx(w["score"], rel=1e-9)


def test_hot_term_df_salting_no_straggler(
    spark, documents, tmp_path_factory, monkeypatch
):
    """north_rule 'salt ∝ df': a term present in 100% of docs must be split
    across multiple raw slices (no single encode task owns it), and the
    resulting index must stay rank-identical to the brute oracle — including
    across the seam-splitting encoder when Spark packs the salted slices into
    one scan partition."""
    boosted = documents.withColumn(
        "text", F.concat(F.lit("omnipresent "), F.col("text"))
    )
    root = str(tmp_path_factory.mktemp("idx_salted"))
    build_index(
        spark,
        boosted,
        root,
        content_col="text",
        id_col="doc_id",
        meta_cols=(),
        tokenizer="standard",
        n_buckets=4,
        shard_size=100,
        n_ckpt_batches=2,
        hot_term_salting=True,
        hot_sample_mod=1,        # sample everything (tiny corpus)
        postings_per_slice=64,   # 500 docs -> ~7 slices for the hot term
        max_term_salt=8,
        materialize_raw=True,    # keep the raw artifact to inspect slices
    )
    vdir = catalog.resolve(root)
    hot = catalog.ckpt_read(vdir, "raw")["hot_term_salts"]
    assert hot.get("omnipresent", 0) >= 2
    # the hot term's raw rows span multiple files (multiple encode slices)
    raw = spark.read.parquet(os.path.join(vdir, "raw")).withColumn(
        "f", F.input_file_name()
    )
    n_files = (
        raw.filter(F.col("term") == "omnipresent")
        .select("f")
        .distinct()
        .count()
    )
    assert n_files >= 2
    # correctness across fragmented/salted block sequences, with the
    # block-max probe on the Spark path
    monkeypatch.setattr(engine, "LOCAL_MAX_POSTINGS", 0)
    for query in ("omnipresent", "omnipresent spark join"):
        got = topk(spark, root, query, k=10, probe_min_postings=0).collect()
        want = bm25_topk_brute(
            boosted, query, k=10, content_col="text", id_col="doc_id"
        ).collect()
        assert [r["docid"] for r in got] == [r["docid"] for r in want]
        for g, w in zip(got, want):
            assert g["score"] == pytest.approx(w["score"], rel=1e-9)


def test_single_pass_equals_materialized_build(spark, documents, tmp_path_factory):
    """The default single-pass build (shuffle → sort → encode, no raw parquet)
    must produce rank- and score-identical results to the two-stage
    materialized build."""
    ra = str(tmp_path_factory.mktemp("sp") / "direct")
    rb = str(tmp_path_factory.mktemp("sp") / "mat")
    kw = dict(
        content_col="text", id_col="doc_id", meta_cols=(), tokenizer="standard",
        n_buckets=8, shard_size=100, n_ckpt_batches=2,
    )
    build_index(spark, documents, ra, materialize_raw=False, **kw)
    build_index(spark, documents, rb, materialize_raw=True, **kw)
    for q in ("spark join window", "the", "vector"):
        got_a = [(r["docid"], round(r["score"], 9)) for r in topk(spark, ra, q, k=10).collect()]
        got_b = [(r["docid"], round(r["score"], 9)) for r in topk(spark, rb, q, k=10).collect()]
        assert got_a == got_b, q
    # dictionaries identical
    import os as _os
    da = {r["term"]: (r["df"], r["cf"]) for r in spark.read.parquet(
        _os.path.join(catalog.resolve(ra), "dict")).collect()}
    db = {r["term"]: (r["df"], r["cf"]) for r in spark.read.parquet(
        _os.path.join(catalog.resolve(rb), "dict")).collect()}
    assert da == db


def test_sha256_invariant(spark, documents, index_root):
    vdir = catalog.resolve(index_root)
    docs = spark.read.parquet(os.path.join(vdir, "docs"))
    joined = docs.join(
        documents.select(
            F.col("doc_id").cast("long").alias("docid"),
            F.sha2("text", 256).alias("src_sha"),
        ),
        "docid",
    )
    assert joined.count() == documents.count()
    assert joined.filter(F.col("sha256") != F.col("src_sha")).count() == 0


def test_doc_lengths_match_tokenizer(spark, documents, index_root):
    from es_indexer_spark.analysis.tokenizer import standard_tokenizer_udf

    vdir = catalog.resolve(index_root)
    docs = spark.read.parquet(os.path.join(vdir, "docs"))
    src_len = documents.select(
        F.col("doc_id").cast("long").alias("docid"),
        F.size(standard_tokenizer_udf("text")).cast("long").alias("src_len"),
    )
    bad = docs.join(src_len, "docid").filter(F.col("doc_len") != F.col("src_len"))
    assert bad.count() == 0


def test_fetch_docs_metadata(spark, index_root):
    hits = topk(spark, index_root, "vector", k=5)
    out = fetch_docs(spark, index_root, hits)
    rows = out.collect()
    assert len(rows) == 5
    assert all(r["lang"] is not None and r["sha256"] is not None for r in rows)


def test_resume_after_injected_failure(spark, documents, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx_resume"))
    kwargs = dict(
        content_col="text",
        id_col="doc_id",
        meta_cols=("lang",),
        tokenizer="standard",
        n_buckets=8,
        shard_size=100,
        n_ckpt_batches=4,
    )
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(spark, documents, root, fail_after_batch=1, **kwargs)
    assert catalog.current_version(root) is None  # nothing published yet
    vdirs = catalog.version_dirs(root)
    assert len(vdirs) == 1
    done_before = sorted(os.listdir(os.path.join(root, vdirs[0], "_ckpt")))
    assert "postings_batch_0.json" in done_before
    assert "postings_batch_3.json" not in done_before

    vdir = build_index(spark, documents, root, resume=True, **kwargs)
    assert catalog.current_version(root) == os.path.basename(vdir)

    # resumed index answers queries identically to the oracle
    got = topk(spark, root, "spark join window", k=10).collect()
    want = bm25_topk_brute(
        documents, "spark join window", k=10, content_col="text", id_col="doc_id"
    ).collect()
    assert [r["docid"] for r in got] == [r["docid"] for r in want]

    # lineage metrics present in every manifest
    for i in range(4):
        m = catalog.ckpt_read(vdir, f"postings_batch_{i}")
        assert {"postings_emitted", "bytes_compressed", "blocks", "terms"} <= set(m)


def test_publish_is_atomic_pointer(spark, documents, index_root):
    # CURRENT names a version dir containing the expected artifacts
    v = catalog.current_version(index_root)
    assert v is not None
    vdir = os.path.join(index_root, v)
    for part in ("docs", "dict", "postings", "stats.json"):
        assert os.path.exists(os.path.join(vdir, part))
    published = catalog.ckpt_read(vdir, "_PUBLISHED")
    assert published["n_docs"] == published["src_count"]


def test_doc_lookup_point_read(spark, documents, index_root):
    from es_indexer_spark.query.lookup import doc_lookup

    rows = doc_lookup(spark, index_root, [3, 7, 9999999]).collect()
    got = {r["docid"] for r in rows}
    assert got == {3, 7}  # absent id simply yields nothing (ids-query semantics)


def test_scan_after_keyset_pagination(spark, documents, index_root):
    from es_indexer_spark.query.lookup import scan_after

    total = documents.count()
    seen, after, pages = [], None, 0
    while True:
        page = [r["docid"] for r in scan_after(spark, index_root, after, 100).collect()]
        if not page:
            break
        assert page == sorted(page)
        seen.extend(page)
        after = page[-1]
        pages += 1
        assert pages <= total // 100 + 2  # no infinite loop
    assert seen == sorted(seen) and len(seen) == total  # full, ordered, no dups


def test_topk_many_rank_identical_to_per_query(spark, index_root):
    """Batch API ≡ per-query engine for every query shape, including an
    absent-term query (empty slot) and a duplicate query string."""
    from es_indexer_spark.query.engine import topk_many

    batch = {f"q{i}": q for i, q in enumerate(QUERIES)}
    batch["q_dup"] = QUERIES[0]  # same text twice -> identical rows under 2 qids
    got = topk_many(spark, index_root, batch, k=10).collect()
    by_qid: dict[str, list] = {}
    for r in sorted(got, key=lambda r: (r["qid"], -r["score"], r["docid"])):
        by_qid.setdefault(r["qid"], []).append(r)
    for qid, q in batch.items():
        want = topk(spark, index_root, q, k=10, use_blockmax=False).collect()
        rows = by_qid.get(qid, [])
        assert [r["docid"] for r in rows] == [r["docid"] for r in want], qid
        for g, w in zip(rows, want):
            assert g["score"] == pytest.approx(w["score"], rel=1e-9)


def test_topk_many_empty_batch(spark, index_root):
    from es_indexer_spark.query.engine import topk_many

    assert topk_many(spark, index_root, {}, k=5).count() == 0
    assert topk_many(spark, index_root, {"q": "zzz_not_in_corpus"}, k=5).count() == 0


def test_fetch_docs_preserves_batch_columns(spark, index_root):
    """fetch_docs on topk_many output keeps the qid column (J6 for batches)."""
    from es_indexer_spark.query.engine import fetch_docs, topk_many

    hits = topk_many(
        spark, index_root, {"qa": "spark join window", "qb": "vector"}, k=3
    )
    out = fetch_docs(spark, index_root, hits)
    rows = out.collect()
    assert {r["qid"] for r in rows} == {"qa", "qb"}
    assert all(r["doc_len"] is not None and r["sha256"] is not None for r in rows)
    assert len(rows) == 6


# ---- round 4: sort-by-field ranked search (ES sort: [{field}, _score]) ------


def test_topk_sorted_matches_brute(spark, documents, index_root):
    from es_indexer_spark.query.engine import topk_sorted

    got = topk_sorted(
        spark, index_root, "customer batch",
        sort=[("lang", "asc"), "_score"], k=15,
    ).collect()
    # brute: every matching doc (>=1 query term), ordered by (lang asc,
    # score desc, docid asc), top 15 — scores from the k=None ranked surface
    allm = {
        r["docid"]: r["score"]
        for r in topk(spark, index_root, "customer batch", k=None).collect()
    }
    meta = {
        r["doc_id"]: r["lang"]
        for r in documents.select("doc_id", "lang").collect()
    }
    want = sorted(
        ((meta[d], -s, d) for d, s in allm.items()),
    )[:15]
    assert [(r["lang"], -r["score"], r["docid"]) for r in got] == want
    # sanity: the field order actually differs from pure score order
    by_score = sorted(allm.items(), key=lambda x: (-x[1], x[0]))[:15]
    assert [r["docid"] for r in got] != [d for d, _ in by_score]


def test_topk_sorted_desc_and_score_tiebreak(spark, index_root):
    from es_indexer_spark.query.engine import topk_sorted

    got = topk_sorted(
        spark, index_root, "the", sort=[("source", "desc"), "_score"], k=20
    ).collect()
    keys = [(r["source"], -r["score"], r["docid"]) for r in got]
    assert keys == sorted(keys, key=lambda t: (_neg_str(t[0]), t[1], t[2]))


def _neg_str(s):
    # descending string order helper for the assertion above
    return tuple(-ord(c) for c in s) if s is not None else (1,)  # nulls last


def test_topk_sorted_respects_deletes(spark, documents, tmp_path_factory):
    from es_indexer_spark.index.tombstones import delete_docs
    from es_indexer_spark.query.engine import topk_sorted

    root = str(tmp_path_factory.mktemp("idx_sorted_del"))
    build_index(
        spark, documents, root, content_col="text", id_col="doc_id",
        meta_cols=("lang",), tokenizer="standard", n_buckets=8,
        shard_size=100, n_ckpt_batches=2,
    )
    before = topk_sorted(
        spark, root, "vector", sort=[("lang", "asc"), "_score"], k=5
    ).collect()
    delete_docs(spark, root, [before[0]["docid"]])
    after = topk_sorted(
        spark, root, "vector", sort=[("lang", "asc"), "_score"], k=5
    ).collect()
    assert before[0]["docid"] not in {r["docid"] for r in after}
    assert [r["docid"] for r in after][:4] == [r["docid"] for r in before][1:5]


def test_term_cache_repeat_and_rebuild_invalidation(spark, documents, tmp_path_factory):
    """The index reader memoizes point lookups per version: a repeated query
    is rank-identical (zero extra dict jobs), and a REBUILD into the same root
    (new dict mtime) must not serve stale df/bucket rows."""
    root = str(tmp_path_factory.mktemp("idx_tcache"))
    half = documents.limit(250)
    build_index(
        spark, half, root, content_col="text", id_col="doc_id",
        meta_cols=("lang",), tokenizer="standard", n_buckets=8,
        shard_size=100, n_ckpt_batches=2,
    )
    q = "customer batch"
    a = [(r["docid"], r["score"]) for r in topk(spark, root, q, k=10).collect()]
    b = [(r["docid"], r["score"]) for r in topk(spark, root, q, k=10).collect()]
    assert a == b and a
    # rebuild over the FULL corpus: dfs change, scores must change with them
    build_index(
        spark, documents, root, content_col="text", id_col="doc_id",
        meta_cols=("lang",), tokenizer="standard", n_buckets=8,
        shard_size=100, n_ckpt_batches=2, resume=False,
    )
    c = [(r["docid"], r["score"]) for r in topk(spark, root, q, k=10).collect()]
    assert c != a
    want = bm25_topk_brute(documents, q, k=10, content_col="text", id_col="doc_id").collect()
    assert [r["docid"] for r in want] == [d for d, _ in c]


def test_assign_docids_unique_at_scale(spark):
    """Round-4 regression: the counts job and the id-assignment job used to
    re-execute the range-partitioned plan independently; a re-execution that
    lands rows in different partitions (AQE re-plan) applied job-1 offsets to
    job-2 partitioning — ~2.7% DUPLICATE docids on a 200k-row corpus. The
    shipped fix keys cross-job state on a PURE COLUMN EXPRESSION of row
    values: driver-sampled range boundaries define a deterministic bucket id
    from the key columns themselves, so both jobs compute identical buckets
    regardless of physical partitioning."""
    from es_indexer_spark.fixtures import code_files
    from es_indexer_spark.index.builder import assign_docids

    df = code_files(spark, 50_000)
    out = assign_docids(df, ("repo", "path", "commit"))
    ids = out.select("docid")
    n = ids.count()
    assert n == 50_000
    assert ids.distinct().count() == n
    lo, hi = ids.agg(F.min("docid"), F.max("docid")).collect()[0]
    assert (lo, hi) == (0, n - 1)
    # globally key-ordered (posting-locality property): docid order == key order
    sample = out.select("docid", "repo", "path", "commit").orderBy("docid").limit(
        5000
    ).collect()
    keys = [(r["repo"], r["path"], r["commit"]) for r in sample]
    assert keys == sorted(keys)


def test_blockmax_rank_safe_with_duplicate_user_ids(
    spark, documents, tmp_path_factory, monkeypatch
):
    """A user-supplied id_col may legitimately repeat (two versions of a
    path): the same docid then carries postings for the same term in several
    blocks, and the classic one-block-per-(doc,term) block-max bound is
    unsound. The chain-partitioned bound must keep the probe path
    rank-identical to the exact path."""
    dup = documents.limit(200).withColumn(
        "doc_id", F.col("doc_id") % 50  # 4 docs share every id
    )
    root = str(tmp_path_factory.mktemp("idx_dupids"))
    build_index(
        spark, dup, root, content_col="text", id_col="doc_id",
        meta_cols=(), tokenizer="standard", n_buckets=4,
        shard_size=10,  # many shards -> real probe/theta pruning
        n_ckpt_batches=2,
    )
    # both sides on the Spark path, where the probe lives
    monkeypatch.setattr(engine, "LOCAL_MAX_POSTINGS", 0)
    for q in ("spark join window", "the", "customer batch stream data"):
        on = topk(spark, root, q, k=10, use_blockmax=True, probe_min_postings=0).collect()
        off = topk(spark, root, q, k=10, use_blockmax=False).collect()
        assert [(r["docid"], r["score"]) for r in on] == [
            (r["docid"], r["score"]) for r in off
        ], q
